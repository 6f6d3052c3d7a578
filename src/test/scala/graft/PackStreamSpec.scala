package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Text
import graft.functions.GraftFunctions
import graft.streaming.PackStream
import graft.streaming.PackStream.DocIn

/** Streaming packer: bit-exact parity with the batch harmonic layout
  * when fed in the batch op's hash-rank order, the capacity invariant
  * under arbitrary arrival order, and cross-batch bin continuation.
  */
class PackStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 100
  private val Shards = 2

  // lengths spread over classes 1, 2, 3, 5
  private def lens: Seq[(Long, Long)] =
    (0 until 60).map(i => (i.toLong, Seq(80L, 45L, 30L, 18L)(i % 4)))

  private def run(feed: Seq[Seq[DocIn]]): Map[Long, (Long, Long, Long)] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocIn]
    val name = s"pack_${System.nanoTime()}"
    val qy = PackStream.packStream(mem.toDS(), Cap, Shards)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    try {
      feed.foreach { b => mem.addData(b: _*); qy.processAllAvailable() }
      spark.table(name).as[(Long, Long, Long, Long)].collect()
        .map { case (id, k, sh, bin) => id -> (k, sh, bin) }.toMap
    } finally qy.stop()
  }

  test("hash-rank arrival order reproduces the batch layout bit-for-bit") {
    val docs = lens.map { case (id, n) => DocIn(id, n) }
      .sortBy(d => (GraftFunctions.md5Long(d.doc_id.toString), d.doc_id))
    val (a, b) = docs.splitAt(docs.size / 2)
    val streamed = run(Seq(a, b))

    val df = lens.toDF("doc_id", "n")
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(1L), col("n")),
          i => concat(lit("w"), i))).as("text"))
    // batch-side per-doc placements, recomputed through the public op
    // by checking the per-class checksum: sum of md5Long("id:shard:bin")
    val batchSig = Text.packHarmonic(df, "doc_id", "text", Cap, Shards)
      .select(col("k"), col("assign_sig"))
      .as[(Long, String)].collect().toMap
    val streamSig = streamed.toSeq
      .groupBy(_._2._1)
      .view.mapValues(_.map { case (id, (_, sh, bin)) =>
        BigInt(GraftFunctions.md5Long(s"$id:$sh:$bin"))
      }.sum.toString).toMap
    assert(streamSig == batchSig,
      s"stream layout != batch layout: $streamSig vs $batchSig")
  }

  test("capacity invariant holds under adversarial arrival order") {
    val docs = lens.map { case (id, n) => DocIn(id, n) }.sortBy(-_.n_tokens)
    val placed = run(Seq(docs.take(20), docs.slice(20, 40), docs.drop(40)))
    val loads = placed.toSeq
      .groupBy { case (_, (k, sh, bin)) => (k, sh, bin) }
      .map { case ((k, _, _), ds) => (k, ds.size) }
    loads.foreach { case (k, count) =>
      assert(count <= k, s"class-$k bin holds $count > $k docs") }
    // every doc placed exactly once
    assert(placed.size == lens.size)
  }

  test("bins continue across micro-batches, never restart") {
    // 3 docs of class 2 in batch 1 (bins 0, 0, 1), 3 more in batch 2
    // (bins 1, 2, 2) — a restart would re-emit bin 0
    val ds = (0 until 6).map(i => DocIn(i.toLong, 45L))
    val placed = run(Seq(ds.take(3), ds.drop(3)))
    val binsInOrder = placed.toSeq
      .map { case (id, (_, sh, bin)) => (sh, id, bin) }
      .groupBy(_._1).values.map(_.sortBy(_._2).map(_._3))
    binsInOrder.foreach { bins =>
      assert(bins.sameElements(bins.sorted), s"bin ids regressed: $bins")
      bins.groupBy(identity).foreach { case (_, g) =>
        assert(g.size <= 2, s"class-2 bin overfilled: $bins") }
    }
  }
}
