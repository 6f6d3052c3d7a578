package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels the generated code calls directly: UTF8String in,
  * UnsafeArrayData (primitive long[]) out — no InternalRow boxing, no
  * Expression.eval dispatch, and the unsafe array writes straight into
  * the surrounding projection's UnsafeRow without conversion. A Scala
  * top-level object compiles to static forwarders, so generated Java
  * calls `graft.expressions.ShingleKernels.m(...)` with no
  * `MODULE$` indirection.
  */
object ShingleKernels {
  def minhashOrNull(text: UTF8String, numPerms: Int, shingleN: Int,
                    xx: Boolean): ArrayData =
    graft.streaming.MinHashLocal.signature(text.toString, numPerms, shingleN, xx)
      .map(UnsafeArrayData.fromPrimitiveArray).orNull

  def shingleHashes(text: UTF8String, shingleN: Int, distinct: Boolean,
                    xx: Boolean): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      if (distinct) graft.streaming.MinHashLocal.shingleHashes(text.toString, shingleN, xx)
      else graft.streaming.MinHashLocal.shingleHashesAll(text.toString, shingleN, xx))
}

/** Whole MinHash signature of a text column in one per-row pass: word
  * shingles → 30-bit base hash → numPerms minima of the permutation
  * family, with no intermediate shingle strings materialized into the
  * plan (no explode, no aggregation, no shuffle — the signature
  * becomes a scan-time projection).
  *
  * Runs graft.streaming.MinHashLocal.signature, whose base hash and
  * family are GraftFunctions.hash60 and GraftFunctions.perm — the
  * module that also holds the Column forms the exploded pipeline
  * (ops.Similarity.minhashSignaturesExploded) uses and the SQL forms
  * the DuckDB oracles use; SimilaritySpec asserts the two pipelines
  * agree bit for bit. Null when the document has fewer than shingleN
  * words (mirrors the explode path, where such docs produce no
  * signature row).
  *
  * doGenCode emits a direct static call into ShingleKernels, so the
  * surrounding projection stays in whole-stage codegen and the per-row
  * cost is exactly the kernel (MessageDigest + running minima) — no
  * CodegenFallback boxing of the input row, no eval() dispatch.
  */
case class WordShingleMinHash(child: Expression, numPerms: Int, shingleN: Int,
    xx: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingle_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingle_minhash expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ShingleKernels.minhashOrNull(v.asInstanceOf[UTF8String], numPerms, shingleN, xx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // not nullSafeCodeGen: the result is null for short docs even when
    // the input is non-null, so isNull must be re-derived from the call
    val childGen = child.genCode(ctx)
    val arrayData = classOf[ArrayData].getName
    val kernels = ShingleKernels.getClass.getName.stripSuffix("$")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      $arrayData ${ev.value} = null;
      if (!${childGen.isNull}) {
        ${ev.value} = $kernels.minhashOrNull(${childGen.value}, $numPerms, $shingleN, $xx);
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleMinHash =
    copy(child = newChild)
}

/** 60-bit md5 hashes of a text's word shingles in one per-row pass —
  * the inverted-index featurization without ever materializing shingle
  * strings into the plan (an exploded long is ~5× narrower than an
  * exploded shingle string, and the md5 runs over a reused buffer
  * instead of per-shingle UTF8String allocations).
  *
  * distinct=true hashes each distinct STRING once (array length =
  * distinct shingle count, exactly as the SQL formulation computes
  * it); distinct=false emits one hash per occurrence in document
  * order (the repetition-signal featurization). Empty array for docs
  * with fewer than shingleN words (mirrors Similarity.wordShingles).
  *
  * Codegen'd like WordShingleMinHash: a static kernel call keeps the
  * stage in whole-stage codegen.
  */
case class WordShingleHashes(child: Expression, shingleN: Int,
                             distinct: Boolean = true, xx: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingle_hashes expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else ShingleKernels.shingleHashes(v.asInstanceOf[UTF8String], shingleN, distinct, xx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = ShingleKernels.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $kernels.shingleHashes($c, $shingleN, $distinct, $xx);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}
