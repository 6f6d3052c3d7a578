package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Ports the reference's inline LSH test (etl_slimpajama_dc_proc.py:
  * 88-100: a known near-duplicate sentence pair must collide) plus
  * dedup invariants.
  */
class SimilaritySpec extends SparkSpec with IterationContract {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog in the garden today"
  private val near2 = "the quick brown fox jumps over the lazy dog in the garden now"
  private val far = "completely different content about spark query engines and shuffles here"

  private def docs = Seq((0L, near1), (1L, near2), (2L, far))
    .toDF("doc_id", "text")

  test("one-pass signature expression matches the explode+aggregate formulation") {
    val fromSf = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(100)
    val a = Similarity.minhashSignatures(fromSf, "doc_id", "text", 64, 5)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val b = Similarity.minhashSignaturesExploded(fromSf, "doc_id", "text", 64, 5)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(a.keySet == b.keySet && a.keySet.nonEmpty)
    a.foreach { case (id, sig) => assert(sig == b(id), s"doc $id") }
  }

  test("LSH finds the known near-duplicate pair and not the far pair") {
    val sig = Similarity.minhashSignatures(docs, "doc_id", "text", 64, 5)
    val pairs = Similarity.lshCandidatePairs(sig, "doc_id", 16, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "near-dup pair not detected")
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L), "false positive on far pair")
  }

  test("minhashDedup keeps the first (lowest id) of a duplicate pair and is idempotent") {
    val once = Similarity.minhashDedup(docs, "doc_id", "text")
    val ids = once.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 2L))
    val twice = Similarity.minhashDedup(once, "doc_id", "text")
    assert(twice.select("doc_id").as[Long].collect().toSet == ids)
  }

  test("LSH bands: 8 rows overflow a Long and fail before any job runs; " +
    "7 rows run") {
    val (err, jobs) = jobsStarted(intercept[IllegalArgumentException](
      Similarity.minhashDedup(docs, "doc_id", "text", 128, 5, 16, 8)))
    assert(jobs == 0, s"$jobs jobs ran before the band check")
    assert(err.getMessage.contains("overflows a Long"), err.getMessage)
    intercept[IllegalArgumentException](
      graft.streaming.MinHashLocal.buckets(Array.fill(128)(0L), 16, 8))
    // 7 rows is the largest fold that stays exact: it runs, and the
    // far doc and the lower id of the near pair always survive
    val kept = Similarity.minhashDedup(docs, "doc_id", "text", 112, 5, 16, 7)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(0L, 2L).subsetOf(kept), s"$kept")
    assert(graft.streaming.MinHashLocal.buckets(
      Array.fill(112)(Int.MaxValue.toLong - 1), 16, 7).forall(_._2 > 0))
  }

  test("jaccardPairs computes the exact jaccard for a known pair") {
    val out = Similarity.jaccardPairs(docs, "doc_id", "text", 5, 0.1)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    val (a, b, j) = out.head
    assert((a, b) == (0L, 1L))
    // 13 words → 9 shingles each; 8 shared (all but the last) → 8/10
    assert(math.abs(j - 0.8) < 1e-6)
  }

  test("containmentPairs flags a subset doc that jaccard misses") {
    // doc 1 = doc 0's first half: containment ≈ 1, jaccard well below
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, long), (1L, short)).toDF("doc_id", "text")
    val cont = Similarity.containmentPairs(d, "doc_id", "text", 5, 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.length == 1 && cont.head._1 == 0L && cont.head._2 == 1L)
    assert(math.abs(cont.head._3 - 1.0) < 1e-6) // every short shingle is in long
    val jac = Similarity.jaccardPairs(d, "doc_id", "text", 5, 0.9)
    assert(jac.count() == 0) // 16/36 shared — symmetric metric misses it
  }

  test("jaccardPrefixPairs: exact-recall property vs brute force on random corpora") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      // small vocab → dense similarity: exercises recall at every band
      val corpus = Seq.tabulate(40) { i =>
        (i.toLong, Seq.fill(6 + rnd.nextInt(10))(s"w${rnd.nextInt(12)}")
          .mkString(" "))
      }
      val d = corpus.toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.8)) {
        val got = Similarity.jaccardPrefixPairs(d, "doc_id", "text", t)
          .as[(Long, Long, Double)].collect().toSet
        val sets = corpus.map { case (id, s) => id -> s.split(" ").toSet }
        val want = (for {
          (a, sa) <- sets; (b, sb) <- sets if a < b
          c = (sa & sb).size
          j = BigDecimal(c.toDouble / (sa.size + sb.size - c))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if j >= t
        } yield (a, b, j)).toSet
        assert(got == want, s"trial $trial threshold $t")
      }
    }
  }

  test("minhashEstimateReport: identical docs estimate 1.0; disjoint docs never pair") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val other = (100 until 140).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val got = Similarity.minhashEstimateReport(d, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0, 1.0, 0.0)))
  }

  test("minhashBbitReport: identical docs estimate 1.0 under both widths; " +
    "the corrected b-bit estimate stays in [0,1]") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val near = ((0 until 30).map(i => s"tok$i") ++
      (200 until 210).map(i => s"tok$i")).mkString(" ")
    val d = Seq((1L, base), (2L, base), (3L, near)).toDF("doc_id", "text")
    val got = Similarity.minhashBbitReport(d, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq.sortBy(r => (r._1, r._2))
    val dup = got.find(r => r._1 == 1L && r._2 == 2L).get
    assert(dup == ((1L, 2L, 1.0, 1.0, 1.0, 0.0, 0.0)), s"dup row: $dup")
    got.foreach { r =>
      assert(r._4 >= 0.0 && r._4 <= 1.0, s"b-bit estimate out of range: $r")
      assert(r._6 >= 0.0 && r._7 >= 0.0)
    }
  }

  test("recallReport: identical, partial, and missing-query overlap") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallReport(approx, exact, "query_id", "neighbor_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 1.0), (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 0.0)))
  }

  test("jaccardPrefixPairs: disjoint docs produce no candidates at all") {
    val d = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
    assert(Similarity.jaccardPrefixPairs(d, "doc_id", "text", 0.5).count() == 0)
  }

  test("simhash: near-dups land within small hamming distance, far text does not") {
    val sh = docs.select(col("doc_id"), Similarity.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) <= 4)
    assert(ham(sh(0L), sh(2L)) > 4)
  }

  test("MinHashSignature aggregate matches the min-column formulation") {
    import org.apache.spark.sql.GraftColumnBridge
    val numPerms = 16
    val exploded = docs
      .select(col("doc_id"),
        explode(Similarity.wordShingles(col("text"), 5)).as("sh"))
      .select(col("doc_id"), Similarity.base30(col("sh")).as("b"))
    val agg = GraftColumnBridge.column(
      graft.expressions.MinHashSignature(
        GraftColumnBridge.expression(col("b")), numPerms).toAggregateExpression())
    val viaAgg = exploded.groupBy("doc_id").agg(agg.as("sig"))
      .select(col("doc_id") +: (0 until numPerms)
        .map(i => element_at(col("sig"), i + 1)): _*)
      .collect().map(r => r.getLong(0) -> (1 to numPerms).map(r.getLong)).toMap
    val viaCols = Similarity.minhashSignatures(docs, "doc_id", "text", numPerms, 5)
      .collect().map(r => r.getLong(0) -> (1 to numPerms).map(r.getLong)).toMap
    assert(viaAgg == viaCols)
  }

  test("native simhash16 matches the composed-expression form") {
    val d = Tables.load(spark, sfDir, "documents").limit(100)
    val native = d.select(graft.functions.GraftFunctions.simhash16(col("text")))
      .as[Long].collect().toSeq
    val composed = d.select(Similarity.simhash(col("text")))
      .as[Long].collect().toSeq
    assert(native == composed)
  }

  test("incremental dedup drops collisions with the known corpus and within the batch") {
    val known = Seq((100L, near1)).toDF("doc_id", "text")
    val knownSigs = Similarity.minhashSignatures(known, "doc_id", "text", 64, 5)
    // batch: near2 collides with known near1; far survives; dup pair
    // within batch keeps lowest id
    val batch = Seq((0L, near2), (1L, far), (2L, far + " extra word tail"))
      .toDF("doc_id", "text")
    val out = Similarity.minhashDedupIncremental(batch, "doc_id", "text", knownSigs)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(0L), "collision with known corpus must drop")
    assert(out.contains(1L))
  }

  test("featurizer expressions run under CODEGEN_ONLY (no silent interpreted fallback)") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val prevMode = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFall = spark.conf.getOption("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val d = docs.select(
        column(graft.expressions.WordShingleMinHash(
          expression(col("text")), 16, 5)).as("sig"),
        column(graft.expressions.WordShingleHashes(
          expression(col("text")), 5, distinct = true)).as("hs"),
        column(graft.expressions.WordShingleHashes(
          expression(col("text")), 5, distinct = false)).as("hsAll"))
      val rows = d.collect()
      assert(rows.length == 3)
      // and the values still match the interpreted kernel
      val sig0 = rows.head.getSeq[Long](0)
      val expect = graft.streaming.MinHashLocal.signature(near1, 16, 5).get.toSeq
      assert(sig0 == expect)
      // ADVICE r13: the gram-hash paths are load-bearing in
      // Text.decontaminate / sourceOverlapMatrix — pin BOTH variants
      // bit-for-bit to the interpreted kernel (and so to the SQL
      // explode(wordNgrams)+hash60 convention the oracle mirrors)
      assert(rows.head.getSeq[Long](1) ==
        graft.streaming.MinHashLocal.shingleHashes(near1, 5).toSeq,
        "distinct gram hashes diverged from the interpreted kernel")
      assert(rows.head.getSeq[Long](2) ==
        graft.streaming.MinHashLocal.shingleHashesAll(near1, 5).toSeq,
        "non-distinct gram hashes diverged from the interpreted kernel")
    } finally {
      prevMode.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFall.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  test("cosineDedupBlocked: cold labels pair exactly, a hot label sub-blocks by LSH bucket") {
    val cap = 10
    val planes = 4
    // deterministic synthetic embeddings; label "hot" has 3× the cap
    def vec(i: Int): Array[Double] =
      Array.tabulate(8)(d => math.sin(i * 131 + d * 17) + (if (d == i % 8) 2.0 else 0.0))
    val hot = (0 until cap * 3).map(i => (i.toLong, "hot", vec(i)))
    val cold = (100 until 100 + cap).map(i => (i.toLong, "cold", vec(i)))
    val e = (hot ++ cold).toDF("vec_id", "label", "embedding")

    val got = Similarity.cosineDedupBlocked(e, "vec_id", "label", "embedding",
        minCos = -1.0, maxBlockSize = cap, subPlanes = planes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // brute-force reference: all same-label pairs, bucket-filtered for hot
    val bkt = e.select(col("vec_id"),
        Similarity.signLshBucket(col("embedding").cast("array<double>"), planes))
      .as[(Long, Long)].collect().toMap
    val rows = (hot ++ cold).map(t => (t._1, t._2))
    val want = (for {
      (ia, la) <- rows; (ib, lb) <- rows
      if la == lb && ia < ib
      if la == "cold" || bkt(ia) == bkt(ib)
    } yield (ia, ib)).toSet

    assert(got == want)
    // the guard must actually bite: some same-label hot pair is dropped
    val allHot = (for ((ia, _, _) <- hot; (ib, _, _) <- hot if ia < ib) yield (ia, ib)).toSet
    assert((allHot -- got).nonEmpty, "hot label produced all pairs — cap did not engage")
    // and every cold pair survives
    val allCold = (for ((ia, _, _) <- cold; (ib, _, _) <- cold if ia < ib) yield (ia, ib)).toSet
    assert(allCold.subsetOf(got))
  }

  test("connectedComponents: transitive chains collapse, separate components stay apart") {
    // chain 1-2-3-4 (diameter 3, multiple propagation rounds), pair
    // 10-11, and a high-id pair whose min is not the global min
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Similarity.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: empty edges yield empty result; low maxIter fails loudly") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Similarity.connectedComponents(empty).count() == 0)
    // chain 1-2-3-4-5-6 needs >1 round even with jumping; maxIter=1
    // must throw rather than return non-converged labels
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Similarity.connectedComponents(chain, maxIter = 1)
    }
  }

  test("connectedComponents: a 60-node chain converges within default maxIter via jumping") {
    // diameter 59 >> 25: only the O(log d) pointer-jumping rounds
    // bring this under the default budget
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Similarity.connectedComponents(chain)
    try {
      val got = cc.as[(Long, Long)].collect().toMap
      assert(got.size == 60)
      assert(got.values.forall(_ == 1L), "whole chain must collapse to cluster 1")
    } finally cc.unpersist()
  }

  test("kmeansFit: separable clusters recover their grouping and feed ivfTopK") {
    import org.apache.spark.sql.functions.col
    // 3 well-separated direction clusters in R^6 with deterministic jitter
    def vec(axis: Int, i: Int): Array[Double] =
      Array.tabulate(6)(d =>
        (if (d == axis) 10.0 else 0.0) + 0.1 * math.sin(i * 7 + d))
    val rows = for (axis <- 0 until 3; i <- 0 until 20)
      yield (axis * 100L + i, vec(axis, i))
    val e = rows.toDF("vec_id", "embedding")
    val cb = Similarity.kmeansFit(e, "vec_id", "embedding", k = 3, iters = 5)
    try {
      assert(cb.count() == 3)
      // every vector's max-cos centroid groups it with its true cluster
      val topk = Similarity.ivfTopK(e, "vec_id", "embedding", cb,
        col("vec_id").isin(0L, 100L, 200L), 5)
      val got = topk.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect()
      assert(got.nonEmpty)
      got.foreach { case (q, n) =>
        assert(q / 100 == n / 100,
          s"neighbor $n of query $q crossed a true cluster boundary")
      }
    } finally cb.unpersist()
  }

  test("ivfTopK: external codebook (parquet and csv) matches the inline centroid frame") {
    import org.apache.spark.sql.functions.{col, lit}
    val e = Tables.load(spark, sfDir, "embeddings")
    val inline = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val expected = Similarity.ivfTopK(e, "vec_id", "embedding", inline,
      col("vec_id") < 10, 5).orderBy("query_id", "rank").collect().toSeq

    val dir = java.nio.file.Files.createTempDirectory("codebook").toString
    // parquet codebook — the production k-means export shape
    inline.select(col("cid"), col("cemb").cast("array<double>").as("cemb"))
      .write.mode("overwrite").parquet(s"$dir/cb.parquet")
    val viaParquet = Similarity.ivfTopK(e, "vec_id", "embedding",
      Similarity.loadCentroids(spark, s"$dir/cb.parquet"),
      col("vec_id") < 10, 5).orderBy("query_id", "rank").collect().toSeq
    assert(viaParquet == expected)

    // csv codebook — portable text export (cemb comma-joined)
    inline.select(col("cid"),
        org.apache.spark.sql.functions.concat_ws(",",
          // double BEFORE string: float->string->double does not
          // round-trip, double->string->double does
          col("cemb").cast("array<double>").cast("array<string>")).as("cemb"))
      .coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$dir/cb.csv")
    val viaCsv = Similarity.ivfTopK(e, "vec_id", "embedding",
      Similarity.loadCentroids(spark, s"$dir/cb.csv"),
      col("vec_id") < 10, 5).orderBy("query_id", "rank").collect().toSeq
    assert(viaCsv == expected)
    assert(expected.nonEmpty)
  }

  test("ivfTopKMultiProbe: nprobe=1 equals ivfTopK; nprobe=|cells| equals brute force") {
    import org.apache.spark.sql.functions.{col, desc, round, row_number}
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, sfDir, "embeddings")
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val single = Similarity.ivfTopK(e, "vec_id", "embedding", cents,
      col("vec_id") < 10, 5).orderBy("query_id", "rank").collect().toSeq
    val probe1 = Similarity.ivfTopKMultiProbe(e, "vec_id", "embedding", cents,
      col("vec_id") < 10, 5, nprobe = 1).orderBy("query_id", "rank").collect().toSeq
    assert(probe1 == single)

    // nprobe = all cells ⇒ every vector is reachable ⇒ exact top-k
    val all = Similarity.ivfTopKMultiProbe(e, "vec_id", "embedding", cents,
      col("vec_id") < 10, 5, nprobe = 8).orderBy("query_id", "rank").collect().toSeq
    val ed = e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = ed.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val brute = ed.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.GraftFunctions.dotProduct(col("qemb"), col("emb")) /
          (graft.functions.GraftFunctions.vectorNorm(col("qemb")) *
            graft.functions.GraftFunctions.vectorNorm(col("emb"))), 6).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))))
      .where(col("rank") <= 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(all == brute)
    assert(all.nonEmpty)
  }

  test("pqFit/pqEncode/pqTopK: codes well-formed; twin vectors find each other") {
    import org.apache.spark.sql.functions.{col, lit}
    // 3 well-separated clusters in 8 dims; each vector's nearest
    // neighbor by construction is its own cluster twin
    def base(c: Int) = Array.tabulate(8)(i => if (i % 3 == c) 10.0 else 0.1)
    val vecs = (0 until 12).map { i =>
      val c = i % 3
      (i.toLong, base(c).zipWithIndex.map { case (x, d) => x + 0.01 * ((i + d) % 5) })
    }
    val e = vecs.toDF("vec_id", "emb")
    val cbs = Similarity.pqFit(e, "vec_id", "emb", dim = 8, m = 2, k = 3, iters = 4)
    assert(cbs.count() == 6) // m*k codebook rows
    assert(cbs.select("cemb").as[Seq[Double]].collect().forall(_.length == 4))

    val codes = Similarity.pqEncode(e, "vec_id", "emb", cbs, dim = 8, m = 2)
      .select("codes").as[Seq[Long]].collect()
    assert(codes.length == 12)
    assert(codes.forall(cs => cs.length == 2 && cs.forall(c => c >= 0 && c < 3)))

    // every query's PQ top-1 must come from its own cluster
    val top1 = Similarity.pqTopK(e, "vec_id", "emb", cbs,
        lit(true), dim = 8, m = 2, topK = 1)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect()
    assert(top1.length == 12)
    assert(top1.forall { case (q, n) => q % 3 == n % 3 },
      s"cross-cluster neighbor in ${top1.mkString(",")}")
  }

  test("ivfPqTopK: one cell equals plain pqTopK; cell routing only shrinks candidate sets") {
    import org.apache.spark.sql.functions.{col, lit}
    val e = Tables.load(spark, sfDir, "embeddings")
    val cbs = (0 until 4).map { sub =>
      e.where(col("vec_id") < 8)
        .select(lit(sub).as("sub"), col("vec_id").as("cid"),
          org.apache.spark.sql.functions.slice(
            col("embedding").cast("array<double>"), sub * 16 + 1, 16).as("cemb"))
    }.reduce(_ union _)
    // a single centroid puts every vector in one cell — IVF routing
    // becomes a no-op and IVF-PQ must equal plain PQ exactly
    val oneCell = e.where(col("vec_id") < 1)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val ivfpq1 = Similarity.ivfPqTopK(e, "vec_id", "embedding", oneCell, cbs,
      col("vec_id") < 10, 64, 4, 5).orderBy("query_id", "rank").collect().toSeq
    val pq = Similarity.pqTopK(e, "vec_id", "embedding", cbs,
      col("vec_id") < 10, 64, 4, 5).orderBy("query_id", "rank").collect().toSeq
    assert(ivfpq1 == pq)
    assert(ivfpq1.nonEmpty)

    // with 8 cells each query's result set is a subset of the
    // unrouted PQ candidates (routing can only remove candidates)
    val cents = e.where(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val routed = Similarity.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
        col("vec_id") < 10, 64, 4, 1000)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val unrouted = Similarity.pqTopK(e, "vec_id", "embedding", cbs,
        col("vec_id") < 10, 64, 4, 1000)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(routed.subsetOf(unrouted))
    assert(routed.size < unrouted.size) // routing actually pruned
  }

  test("collectSetCapped: sorted distinct ids under cap, NULL past cap, merge-safe") {
    import graft.functions.GraftFunctions.collectSetCapped
    // groups: g=0 has 3 distinct ids (dup rows), g=1 has 5 (> cap 4),
    // g=2 has 1; many partitions force partial-buffer merges
    val rows = Seq.tabulate(200)(i => (i % 3 match {
      case 0 => (0L, (i % 9 / 3).toLong)       // ids 0..2, duplicated
      case 1 => (1L, (i % 15 / 3).toLong + 10) // ids 10..14
      case 2 => (2L, 42L)
    })).map { case (g, v) => (g, v) }
    val df = rows.toDF("g", "id").repartition(13)
    val out = df.groupBy("g").agg(collectSetCapped(col("id"), 4).as("ids"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(out(0L).contains(Seq(0L, 1L, 2L)))   // sorted, deduped
    assert(out(1L).isEmpty)                      // overflow → null
    assert(out(2L).contains(Seq(42L)))
    // strategy equivalence on real data: one-pass capped agg ==
    // two-pass count/semi-join/collect_set, bit for bit
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), (col("n_chars") % 37).as("k"))
    val onePass = Similarity.cappedIdSets(d, Seq("k"), "doc_id", 50, "ids")
      .orderBy("k").collect()
    val twoPass = Similarity.cappedIdSets(d, Seq("k"), "doc_id", 50, "ids",
        twoPass = true)
      .orderBy("k").collect()
    assert(onePass.sameElements(twoPass))
    assert(onePass.nonEmpty)
  }

  test("collectSetCapped survives the sort-based aggregation fallback") {
    import graft.functions.GraftFunctions.collectSetCapped
    // fallbackThreshold=1 forces ObjectHashAggregateExec to spill to
    // sort-based aggregation after one in-memory group — the path
    // that exercises buffer serialize/deserialize and out-of-order
    // partial merges hardest
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val df = spark.range(3000)
        .selectExpr("id % 50 AS g", "id % 200 AS v").repartition(11)
      val out = df.groupBy("g").agg(collectSetCapped(col("v"), 10).as("ids"))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
      assert(out.size == 50)
      // every group sees 4 distinct values of (id%200) — under the cap,
      // sorted ascending, identical to what the non-fallback path gives
      out.foreach { case (g, ids) =>
        assert(ids.exists(s => s.size == 4 && s == s.sorted), s"group $g: $ids")
      }
      val over = df.groupBy(lit(1).as("k"))
        .agg(collectSetCapped(col("v"), 10).as("ids"))
        .collect()
      assert(over.head.isNullAt(1)) // 200 distinct > 10 → null via merges
    } finally spark.conf.set(key, prev)
  }

  test("signLshBucket: identical vectors collide, orthogonal-ish vectors get ids in range") {
    val e = Seq(
      (0L, Array(1.0, 0.0, 0.5, 0.2)),
      (1L, Array(1.0, 0.0, 0.5, 0.2)),
      (2L, Array(-1.0, 2.0, -0.5, 0.8))
    ).toDF("vec_id", "emb")
    val b = e.select(col("vec_id"), Similarity.signLshBucket(col("emb"), 6).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b.values.forall(v => v >= 0 && v < 64))
  }

  test("knnGraphClusters: identical triads cluster; mutual rule excludes hangers-on") {
    // two triads of identical vectors (cos 1.0 to mates, so with k=2
    // each member's slots fill with its mates) plus a bridge vector
    // whose edges can never be mutual
    val vecs = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(1.0, 0.0)), (12L, Array(1.0, 0.0)),
      (20L, Array(0.0, 1.0)), (21L, Array(0.0, 1.0)), (22L, Array(0.0, 1.0)),
      (30L, Array(0.7, 0.7))).toDF("vec_id", "embedding")
    val cc = Similarity.knnGraphClusters(vecs, "vec_id", "embedding",
        k = 2, subPlanes = 1)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $cc")
  }

  test("knnGraphClusters: hot-block cap bounds the pair stream; uncapped result unchanged") {
    // a degenerate corpus: 60 IDENTICAL vectors — one sign-LSH bucket
    // at any plane count, the shape subPlanes cannot split. With
    // maxBlockSize = 10 the self-join must stay within id-hash
    // sub-blocks: every vector still lands in a cluster (its
    // sub-block mates are identical too), but no cluster can exceed
    // a sub-block's population, which is ≪ 60 — the observable proof
    // that no 60×60 block pair stream was formed.
    val hot = (0L until 60L).map(i => (i, Array(1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    // UNCAPPED: one block, one mutual clique of the k+1 smallest ids
    // (identical cosines tie-break by id, so everyone courts the
    // smallest ids and only the first k+1 are mutual)
    val uncapped = Similarity.knnGraphClusters(hot, "vec_id", "embedding",
        k = 3, subPlanes = 2, maxBlockSize = 4096)
      .as[(Long, Long)].collect()
    assert(uncapped.map(_._2).distinct.length == 1 && uncapped.length == 4,
      s"uncapped degenerate block should form one k+1 clique: ${uncapped.toSeq}")
    // CAPPED at 10: ceil(60/10) = 6 id-hash sub-blocks, pairs emitted
    // only within a sub-block — so MULTIPLE disjoint cliques appear
    // (one per populated sub-block), the observable proof that the
    // 60×60 block pair stream was never formed
    val capped = Similarity.knnGraphClusters(hot, "vec_id", "embedding",
        k = 3, subPlanes = 2, maxBlockSize = 10)
      .as[(Long, Long)].collect()
    val sizes = capped.groupBy(_._2).map(_._2.length)
    assert(sizes.size >= 2, s"sub-blocks must not merge: ${capped.toSeq}")
    assert(sizes.max <= 4, s"a cluster outgrew the mutual-kNN bound: $sizes")
    // a corpus UNDER the cap takes the single-sub-block path and must
    // reproduce the uncapped clustering bit-for-bit
    val vecs = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(1.0, 0.0)), (12L, Array(1.0, 0.0)),
      (20L, Array(0.0, 1.0)), (21L, Array(0.0, 1.0)), (22L, Array(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val under = Similarity.knnGraphClusters(vecs, "vec_id", "embedding",
        k = 2, subPlanes = 1, maxBlockSize = 4096)
      .as[(Long, Long)].collect().toMap
    assert(under == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $under")
  }

  test("semDedupIncremental matches plain semDedup on the union when corpus ids precede") {
    // corpus ids 0..199 < batch ids 200..399, so the incremental rule
    // ("corpus wins regardless of id") coincides with semDedup's
    // lower-id pair dominance on the union — removed flags must agree
    // exactly on the batch ids, including chains where the dominating
    // vector is itself removed
    def vec(i: Long): Array[Double] = {
      val base = (i % 7).toInt
      Array.tabulate(8)(d =>
        (if (d == base) 1.0 else 0.05 * ((i + d) % 3)) + 0.001 * (i % 11))
    }
    // half the batch re-treads corpus directions (removed by the
    // corpus rule), half points into dims the corpus never uses
    // (negative base — survives the corpus, dedups only within the
    // batch by the lower-id rule)
    def novel(i: Long): Array[Double] =
      Array.tabulate(8)(d =>
        (if (d == (i % 4).toInt + 4) -1.0 else 0.03 * ((i + d) % 3)))
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch = (200L until 400L)
      .map(i => (i, if (i % 2 == 0) vec(i + 3) else novel(i)))
      .toDF("vec_id", "embedding")
    val cents = (0L until 6L).map(i => (i, vec(i * 31))).toDF("cid", "cemb")
    val inc = Similarity.semDedupIncremental(batch, "vec_id", "embedding",
        corpus, cents, minCos = 0.9, maxBlockSize = 50, subPlanes = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val full = Similarity.semDedup(corpus.union(batch), "vec_id", "embedding",
        cents, minCos = 0.9, maxBlockSize = 50, subPlanes = 2)
      .where(col("vec_id") >= 200L)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(inc.size == 200 && inc == full,
      s"diff: ${(inc.toSet diff full.toSet).take(5)} / ${(full.toSet diff inc.toSet).take(5)}")
    assert(inc.values.sum > 0, "stress the rule: some batch vector must be removed")
    assert(inc.values.sum < 200, "and some must survive")
  }

  test("dedupSurvivalCurve: monotone sweep, exact duplicate removed at every threshold") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base.trim),
      (2L, base.trim), // exact duplicate of 1 → est = 1.0
      (3L, "one two three four five six seven eight nine ten eleven twelve"),
      (4L, "completely different words nothing shared here at all okay fine sure yes")
    ).toDF("doc_id", "text")
    val rows = Similarity.dedupSurvivalCurve(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq == Seq(5L, 6L, 7L, 8L, 9L))
    // the exact duplicate (doc 2) is removed at every threshold
    assert(rows.forall(_._3 >= 1), s"dup not removed everywhere: ${rows.toSeq}")
    // counts are non-increasing as the threshold rises
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._4 >= hi._4)
      case _ =>
    }
    // accounting ties out against the corpus
    rows.foreach { r =>
      assert(r._3 + r._5 == 4L, "docs removed + left = corpus")
      assert(r._7 >= 0.0 && r._7 <= 1.0)
    }
  }

  test("ann_nprobe_curve: recall is monotone in nprobe and bounded by 1") {
    val rows = SparkEntry.queries("ann_nprobe_curve")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    // widening the probe set only ever ADDS candidate cells, so hits
    // (and recall) cannot decrease
    assert(rows.sliding(2).forall(p => p.length < 2 || p(1)._3 >= p(0)._3),
      s"hits not monotone: ${rows.toSeq}")
    rows.foreach { case (_, nTrue, nHit, recall) =>
      assert(nHit <= nTrue && recall >= 0.0 && recall <= 1.0)
    }
  }

  // Iteration-helper contract (see GraphSpec): each ceiling is the job
  // count the operator started before its loop moved onto ops.Iterate.
  // connectedComponents' 23 then did not include materializing the
  // returned frame: freeing the last label frame dropped its cache.
  test("iteration contract: connectedComponents caches only its result " +
    "and stays under its job ceiling") {
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    info(s"jobs = ${iterationContract(23)(
      Similarity.connectedComponents(edges))}")
  }

  test("iteration contract: kmeansFit caches only its result and stays " +
    "under its job ceiling") {
    val rows = for (axis <- 0 until 3; i <- 0 until 6)
      yield (axis * 100L + i, Array.tabulate(4)(d =>
        (if (d == axis) 10.0 else 0.0) + 0.1 * math.sin(i * 7 + d)))
    val e = rows.toDF("vec_id", "embedding")
    info(s"jobs = ${iterationContract(28)(
      Similarity.kmeansFit(e, "vec_id", "embedding", k = 3, iters = 3))}")
  }
}
