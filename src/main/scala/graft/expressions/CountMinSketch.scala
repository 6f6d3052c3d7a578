package graft.expressions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import graft.functions.GraftFunctions.cmsBucket

/** Count–Min sketch (Cormode & Muthukrishnan 2005) as a Catalyst
  * aggregate — the point-frequency member of the engine's mergeable
  * sketch family (Misra–Gries heavy hitters = top items, KMV =
  * distinct count, CMS = "how often did THIS item occur").
  *
  * Input: the 60-bit uniform hash of the item
  * (GraftFunctions.hash60). Buffer: depth×width long counters; update
  * adds 1 to one counter per row; merge is element-wise addition —
  * O(d·w) state per group regardless of item cardinality, so the
  * shuffle carries a fixed-size array where exact per-item counting
  * ships every distinct (group, item) pair. Query-time estimate for
  * item x = min over rows j of counter[j][bucket_j(x)] — always an
  * OVER-estimate (collisions only add), within ε·N with probability
  * 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
  *
  * Row j files an item under GraftFunctions.cmsBucket (the MinHash
  * permutation family over the hash's low 30 bits, mod width), the one
  * definition whose JVM, Column and SQL forms serve this aggregate,
  * countMinEstimate, CmsStream and the oracles. Pure integer
  * arithmetic on the shared hash60, so a SQL oracle reproduces every
  * counter (and therefore every estimate) bit-identically: the bucket
  * value IS Σ counts of items landing there, which DuckDB computes
  * directly from the per-item counts without simulating the sketch.
  *
  * Returns the counters as array<long> (row-major, length d·w);
  * probing is a plain element_at projection over the one-row result
  * (see SketchQueries' sketch_freq_cms).
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(depth >= 1 && depth <= 16, s"count_min depth in [1,16], got $depth")
  require(width >= 2, s"count_min width >= 2, got $width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "count_min"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count_min expects a long hash column, got ${child.dataType}")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < depth) {
        buf(j * width + cmsBucket(h, j, width)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
