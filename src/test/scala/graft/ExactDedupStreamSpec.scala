package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.ExactDedupStream

/** One streamed document. Declared at top level so generated code can
  * construct it: a case class nested in the spec needs an outer
  * reference, which Janino cannot compile, and Spark then falls back to
  * interpreted code.
  */
final case class Doc(doc_id: Long, ts: Timestamp, text: String)

/** Watermark-TTL exact dedup: batch parity on the survivor set,
  * cross-batch dropping inside the horizon, and state EVICTION after
  * the watermark passes (the bounded-memory contract — a late
  * re-occurrence is first-seen again, by design).
  */
class ExactDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int) =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private def run(batches: Seq[Seq[Doc]]): Seq[Long] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Doc]
    val name = s"exact_dedup_${System.nanoTime()}"
    val q = ExactDedupStream
      .exactDedupStream(mem.toDF(), "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      spark.table(name).select("doc_id").as[Long].collect().toSeq.sorted
    } finally q.stop()
  }

  test("single batch: one survivor per distinct content, like batch dedup_exact") {
    val got = run(Seq(Seq(
      Doc(1, t(0), "alpha"), Doc(2, t(1), "alpha"),
      Doc(3, t(1), "beta"), Doc(4, t(2), "beta"), Doc(5, t(2), "gamma"))))
    assert(got.size == 3, s"3 distinct contents, got $got")
    // exactly one survivor per content group
    assert(got.count(Set(1L, 2L)) == 1 && got.count(Set(3L, 4L)) == 1 &&
      got.contains(5L), s"one survivor per content, got $got")
  }

  test("cross-batch duplicate within the watermark horizon is dropped") {
    val got = run(Seq(
      Seq(Doc(1, t(0), "alpha"), Doc(2, t(1), "beta")),
      Seq(Doc(3, t(5), "alpha"), Doc(4, t(6), "gamma"))))
    assert(got == Seq(1L, 2L, 4L), s"duplicate doc 3 must be dropped: $got")
  }

  test("state is evicted past the watermark: a late re-occurrence is first-seen") {
    // batch 2 advances event time far beyond doc 1's ts + delay, so
    // the 'alpha' claim is evicted; batch 3's 'alpha' re-enters.
    val got = run(Seq(
      Seq(Doc(1, t(0), "alpha")),
      Seq(Doc(2, t(40), "filler")),
      Seq(Doc(3, t(41), "alpha"))))
    assert(got.contains(3L),
      s"evicted claim must not suppress a post-horizon duplicate: $got")
    assert(got == Seq(1L, 2L, 3L))
  }
}
