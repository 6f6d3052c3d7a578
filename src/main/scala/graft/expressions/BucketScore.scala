package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[BucketScore]]: lowercase, split on single spaces
  * (Spark `split(lower(text), " ")` semantics, limit -1), hash each
  * non-empty token with the mode-selected 60-bit hash, index the
  * score table at hash % table.length, and sum — one pass, zero
  * allocations beyond the split. Summation order is token order
  * (deterministic per document at any parallelism).
  */
object BucketScoreKernel {
  def score(text: UTF8String, table: Array[Double], xx: Boolean): Double = {
    // UTF8String.toLowerCase matches Spark SQL lower() exactly
    val words = text.toLowerCase.toString.split(" ", -1)
    val b = table.length
    var acc = 0.0
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty)
        acc += table((graft.functions.GraftFunctions.hash60(w, xx) % b).toInt)
      i += 1
    }
    acc
  }
}

/** Sum of per-token bucket scores: for each whitespace token of
  * `lower(text)`, `table[hash60(token) % table.length]`, summed in
  * token order. The scan-local scoring half of hashed-n-gram
  * importance weighting (DSIR — Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling", arXiv:2302.03169): the
  * bucketed log-likelihood-ratio table is built once (one bounded
  * aggregation), then every document is scored in a single
  * whole-stage-codegen pass with NO explode, NO join, NO shuffle —
  * the table rides into the generated code as a reference object
  * (`ctx.addReferenceObj`, the standard pattern for constant arrays).
  * At 100 TB the scoring cost is exactly one corpus scan.
  *
  * Hash parity: mode-selected like every hash-based operator —
  * md5-60bit (DuckDB-oracle-expressible: `('0x' ||
  * substring(md5(w),1,15))::BIGINT % B`) or xxhash64 (production,
  * ~10× cheaper, no hex round-trip).
  */
case class BucketScore(child: Expression, table: Seq[Double],
    xx: Boolean = false)
    extends UnaryExpression {

  require(table.nonEmpty, "bucket score table must be non-empty")

  // Seq in the case-class args keeps Expression equality/canonical-
  // ization structural (an Array field would compare by reference);
  // the kernel indexes the primitive array
  @transient private lazy val tableArr: Array[Double] = table.toArray

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bucket_score"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bucket_score expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else BucketScoreKernel.score(v.asInstanceOf[UTF8String], tableArr, xx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val tableRef = ctx.addReferenceObj("bucketScoreTable", tableArr, "double[]")
    val kernel = BucketScoreKernel.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = ${childGen.isNull};
      double ${ev.value} = 0.0;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.score(${childGen.value}, $tableRef, $xx);
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): BucketScore =
    copy(child = newChild)
}
