package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.{Similarity, Text}

/** The spark.graft.hashMode=xxhash64 production switch: no DuckDB
  * oracle exists for xxhash64, so correctness in that mode is
  * established by in-engine cross-checks instead —
  *  (1) the native one-pass kernels agree bit-for-bit with the
  *      composed Column formulations under BOTH modes (the same
  *      independent-recomputation argument the md5 oracles make);
  *  (2) the JVM twin (GraftFunctions.hash60) agrees with Spark's
  *      xxhash64 expression on the same strings;
  *  (3) flipping the mode changes only hash leaf expressions — the
  *      physical plan shape (operator sequence, exchange count) is
  *      identical, so every scale property argued for md5 mode
  *      carries over.
  */
class HashModeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog in the garden today"),
    (1L, "the quick brown fox jumps over the lazy dog in the garden now"),
    (2L, "completely different content about spark query engines and shuffles here"))
    .toDF("doc_id", "text")

  private def withXx[A](body: => A): A = {
    spark.conf.set(GraftFunctions.HashModeKey, "xxhash64")
    try body finally spark.conf.unset(GraftFunctions.HashModeKey)
  }

  test("hash60 JVM twin matches Spark's xxhash64 expression") {
    val texts = Seq("", "a", "hello world", "naïve — ünïcode ⚡")
    val viaSpark = texts.toDF("t")
      .select(shiftrightunsigned(xxhash64(col("t")), 4)).as[Long].collect()
    val viaJvm = texts.map(GraftFunctions.xxHash60)
    assert(viaSpark.toSeq == viaJvm)
  }

  test("xx mode: native minhash signature matches the exploded column formulation") {
    // md5-mode signature computed BEFORE flipping the flag
    val md5Sig = Similarity.minhashSignatures(docs, "doc_id", "text", 32, 5)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap.apply(0L)
    withXx {
      assert(GraftFunctions.hashModeIsXx)
      val a = Similarity.minhashSignatures(docs, "doc_id", "text", 32, 5)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val b = Similarity.minhashSignaturesExploded(docs, "doc_id", "text", 32, 5)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(a.keySet == b.keySet && a.nonEmpty)
      a.foreach { case (id, sig) => assert(sig == b(id), s"doc $id") }
      // and differs from md5 mode (the flag is not a no-op)
      assert(a(0L) != md5Sig)
    }
  }

  test("xx mode: streaming signature kernel matches the batch pipeline (cross-seam dedup)") {
    withXx {
      // minhashDedupStream captures hashModeIsXx at plan build and
      // feeds MinHashLocal.signature(…, xx) — the snapshot->incremental
      // seam only dedups if stream and batch share the hash family
      val batch = Similarity.minhashSignatures(docs, "doc_id", "text", 64, 5)
        .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong)).toMap
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      for (id <- Seq(0L, 1L, 2L)) {
        val local = graft.streaming.MinHashLocal.signature(texts(id), 64, 5, xx = true)
        assert(local.isDefined && local.get.toSeq == batch(id), s"doc $id")
      }
    }
  }

  test("xx mode: native simhash16 matches the composed expression") {
    withXx {
      val native = docs.select(GraftFunctions.simhash16(col("text")))
        .as[Long].collect().toSeq
      val composed = docs.select(Similarity.simhash(col("text")))
        .as[Long].collect().toSeq
      assert(native == composed)
    }
  }

  test("xx mode: shingle-hash featurizer matches hash60 over exploded shingles") {
    withXx {
      val native = docs.select(col("doc_id"),
          explode(Similarity.shingleHashes(col("text"), 5)).as("h"))
        .as[(Long, Long)].collect().sorted.toSeq
      val composed = docs.select(col("doc_id"),
          explode(Similarity.wordShingles(col("text"), 5)).as("s"))
        .select(col("doc_id"), GraftFunctions.hash60(col("s")).as("h"))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(native == composed && native.nonEmpty)
    }
  }

  test("xx mode: winnow kernel matches the per-row JVM twin, and differs from md5 mode") {
    val md5Fp = docs.select(col("doc_id"),
        Text.winnowHashes(col("text"), 4, 8).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    withXx {
      val xxFp = docs.select(col("doc_id"),
          Text.winnowHashes(col("text"), 4, 8).as("h"))
        .as[(Long, Seq[Long])].collect().toMap
      val texts = Seq(
        0L -> "the quick brown fox jumps over the lazy dog in the garden today",
        1L -> "the quick brown fox jumps over the lazy dog in the garden now",
        2L -> "completely different content about spark query engines and shuffles here")
      texts.foreach { case (id, t) =>
        val twin = graft.expressions.WinnowOps
          .selectHashes(t, 4, 8, xx = true).toSeq
        assert(xxFp(id) == twin, s"xx-mode winnow column vs JVM twin, doc $id")
        assert(xxFp(id) != md5Fp(id), s"mode flip changed nothing for doc $id")
      }
    }
  }

  test("detHash in xx mode is deterministic, in range, and partition-stable") {
    withXx {
      val d = spark.range(1000).select(col("id"),
        GraftFunctions.detHash(100L, col("id")).as("h"))
      val once = d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val again = d.repartition(7).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(once == again)
      assert(once.values.forall(v => v >= 0 && v < 100))
      // roughly uniform: every decile hit
      assert(once.values.map(_ / 10).toSet.size == 10)
    }
  }

  private def planShape(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .map(_.dropWhile(c => !c.isLetter).takeWhile(_.isLetter))
      .filter(_.nonEmpty).toSeq

  test("mode flip preserves physical plan shape for the dedup pipeline") {
    val md5Plan = planShape(Similarity.minhashDedup(docs, "doc_id", "text"))
    val xxPlan = withXx(planShape(Similarity.minhashDedup(docs, "doc_id", "text")))
    assert(md5Plan == xxPlan)
    val md5Fp = planShape(docs.select(GraftFunctions.fingerprint(col("text")),
      Text.rollingFingerprint(col("text"))))
    val xxFp = withXx(planShape(docs.select(GraftFunctions.fingerprint(col("text")),
      Text.rollingFingerprint(col("text")))))
    assert(md5Fp == xxFp)
  }

  test("xx mode: hash-path queries execute end-to-end (no oracle, but no crashes)") {
    withXx {
      val names = Seq("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
        "mix_sample_documents", "text_fingerprint", "text_rolling_fingerprint",
        "pack_sequences", "group_split_customers",
        // r4 hash-path queries: kmv sketch (hash60), pool draws
        // (hash60 + detHash), merge slices (detHash)
        "sketch_distinct_kmv", "negative_sample_pairs",
        "hard_negatives_pool", "merge_upsert_documents")
      for (n <- names) {
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        assert(rows > 0, s"$n returned no rows in xxhash64 mode")
      }
    }
  }

  test("oracle mode is untouched: default signatures equal explicit md5-mode signatures") {
    spark.conf.set(GraftFunctions.HashModeKey, "md5")
    try {
      val explicit = Similarity.minhashSignatures(docs, "doc_id", "text", 32, 5)
        .collect().map(_.toSeq)
      spark.conf.unset(GraftFunctions.HashModeKey)
      val default = Similarity.minhashSignatures(docs, "doc_id", "text", 32, 5)
        .collect().map(_.toSeq)
      assert(explicit.toSeq == default.toSeq)
    } finally spark.conf.unset(GraftFunctions.HashModeKey)
  }
}
