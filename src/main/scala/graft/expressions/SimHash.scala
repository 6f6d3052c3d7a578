package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.GraftFunctions.hash60

/** Native 16-bit SimHash over whitespace tokens — one pass per row:
  * hash each token once, accumulate ±1 votes per bit, pack sign bits.
  * Bit-identical to the composed form in ops.Similarity.simhash
  * (same hash60 token hash — GraftFunctions' JVM twin — same vote
  * rule, same packing), which pays nested-lambda machinery and is
  * excluded from codegen CSE.
  */
case class SimHash16(child: Expression, xx: Boolean = false)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects a string column, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override protected def nullSafeEval(input: Any): Any =
    SimHashOps.simhash16(input.asInstanceOf[UTF8String].toString, xx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.SimHashOps.simhash16($c.toString(), $xx)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashOps {

  val Bits = 16

  def simhash16(s: String, xx: Boolean = false): Long = {
    val votes = new Array[Int](Bits)
    var start = 0
    val len = s.length
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        val h = hash60(s.substring(start, i), xx)
        var b = 0
        while (b < Bits) {
          votes(b) += (((h >> b) & 1L) * 2 - 1).toInt
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}
