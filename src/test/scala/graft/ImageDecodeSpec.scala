package graft

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._

import graft.ops.Multimodal

/** Real javax.imageio decode (S9): exact round trip of known pixels,
  * analytic channel sums, the undecodable fallback, and the
  * partition-batched bridge end-to-end.
  */
class ImageDecodeSpec extends SparkSpec {

  test("PNG encode→decode recovers exact dims and channel sums") {
    // 6x4, left 3 columns solid (10, 20, 30), right 3 solid (40, 50, 60)
    val png = Multimodal.encodeSplitPng(6, 4,
      (10 << 16) | (20 << 8) | 30, (40 << 16) | (50 << 8) | 60)
    // PNG magic — this is a real container, not the stub digest
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
    val Some((w, h, sr, sg, sb)) = Multimodal.decodeImage(png)
    assert(w == 6 && h == 4)
    assert(sr == 4L * (3 * 10 + 3 * 40), s"sum_r $sr")
    assert(sg == 4L * (3 * 20 + 3 * 50), s"sum_g $sg")
    assert(sb == 4L * (3 * 30 + 3 * 60), s"sum_b $sb")
  }

  test("odd width splits at floor(w/2) — the oracle's // convention") {
    val png = Multimodal.encodeSplitPng(5, 2, 0xff0000, 0x000000)
    val Some((w, _, sr, _, _)) = Multimodal.decodeImage(png)
    assert(w == 5 && sr == 2L * 2 * 255, s"left half must be 2 columns: $sr")
  }

  test("undecodable payloads return None and flow to decoded=false") {
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("payload", org.apache.spark.sql.types.BinaryType)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Multimodal.encodeSplitPng(8, 8, 0x808080, 0x808080)),
        Row(2L, "garbage bytes".getBytes)),
      schema)
    val out = Multimodal.extractImageStats(df, "payload")
      .select(col("id"), col("decoded"), col("width"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out(1L) == ((true, 8L)))
    assert(out(2L) == ((false, -1L)), "garbage must not fail the scan")
  }

  test("extractFeatures: a NULL payload gives NULL n_bytes, digest and features") {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType)
      .add("payload", org.apache.spark.sql.types.BinaryType)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "abc".getBytes), Row(2L, null)), schema)
    val out = Multimodal.extractFeatures(df, "payload")
      .select(col("id"), col("n_bytes"), col("digest"), col("features"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L)
    assert(out(1L).getString(2) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(out(1L).getSeq[Double](3).length == Multimodal.FeatureDim)
    assert((1 to 3).forall(out(2L).isNullAt), out(2L).toString)
  }

  test("dHash: identical images collide, perturbations stay near, distinct gradients differ") {
    def grad(a: Int, b: Int, c: Int, noise: Int = 0) =
      Multimodal.encodeGrayPng(18, 16, (x, y) =>
        ((a * x + b * y + c) % 256 + (if (x == 9 && y == 7) noise else 0)) % 256)
    def ham(p: Long, q: Long) = java.lang.Long.bitCount(p ^ q)
    val h1 = Multimodal.dHash64(grad(29, 23, 5)).get
    val h1b = Multimodal.dHash64(grad(29, 23, 5)).get
    assert(h1 == h1b, "same image must hash identically")
    // one perturbed pixel moves at most the 2 cells it touches
    val hNear = Multimodal.dHash64(grad(29, 23, 5, noise = 40)).get
    assert(ham(h1, hNear) <= 4, s"near-dup too far: ${ham(h1, hNear)}")
    val h2 = Multimodal.dHash64(grad(87, 69, 200)).get
    assert(ham(h1, h2) > 8, s"distinct gradients too close: ${ham(h1, h2)}")
    assert(Multimodal.dHash64("junk".getBytes).isEmpty)
  }

  test("PCM16: byte round-trip, per-frame energy/zcr, partial trailing frame") {
    // 5 samples, frame size 2: frames (2, 2, 1); crossings only count
    // adjacent pairs INSIDE a frame
    val samples = Array(100, -200, 300, 300, -32768)
    val bytes = Multimodal.encodePcm16(samples)
    assert(bytes.length == 10)
    val frames = Multimodal.pcm16Frames(bytes, frameSamples = 2)
    assert(frames == Seq(
      (0L, 2L, 100L * 100 + 200L * 200, 1L),   // 100 → −200 flips
      (1L, 2L, 2L * 300 * 300, 0L),            // 300 → 300 no flip
      (2L, 1L, 32768L * 32768L, 0L)))          // partial frame, no pair
    // the frame boundary between −200 and 300 must NOT count
    val one = Multimodal.pcm16Frames(bytes, frameSamples = 5)
    assert(one.head._4 == 3L, s"whole-payload zcr: ${one.head}")
    intercept[IllegalArgumentException] {
      Multimodal.encodePcm16(Array(40000))
    }
  }

  test("gated-query shape: synth PNGs decode to the analytic sums at sf0.001") {
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).limit(50)
    val schema = base.schema
      .add("payload", org.apache.spark.sql.types.BinaryType)
    val withPng = base.mapPartitions { it: Iterator[Row] =>
      it.map { r =>
        val id = r.getLong(0)
        def ch(k: Long): Int = ((id * k) % 256L).toInt
        Row(id, Multimodal.encodeSplitPng((8L + id % 16L).toInt,
          (8L + id % 8L).toInt,
          (ch(7) << 16) | (ch(13) << 8) | ch(29),
          (ch(11) << 16) | (ch(17) << 8) | ch(31)))
      }
    }(Encoders.row(schema))
    Multimodal.extractImageStats(withPng, "payload").collect().foreach { r =>
      val id = r.getLong(0)
      val w = 8 + id % 16
      val h = 8 + id % 8
      assert(r.getBoolean(r.length - 1), s"doc $id failed to decode")
      assert(r.getLong(2) == w && r.getLong(3) == h)
      val sumR = h * ((w / 2) * ((id * 7) % 256) + (w - w / 2) * ((id * 11) % 256))
      assert(r.getLong(4) == sumR, s"doc $id sum_r ${r.getLong(4)} != $sumR")
    }
  }
}
