package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.Text
import graft.sources.{Jsonl, Orc}

class TextJsonlSpec extends SparkSpec {
  import spark.implicits._

  test("langId classifies by stopword profile; und when no hits") {
    val d = Seq(
      "the cat sat on the mat and it is happy",
      "el perro y la casa en que los gatos es",
      "der hund und die katze ist von zu ein haus",
      "xyzzy qwerty plugh").toDF("text")
    val got = d.select(Text.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "und"))
  }

  test("cleanText drops urls and emails, strips control chars, squeezes whitespace") {
    val dirty = "see https://ex.com/a?b=1 or  mail bob@ex-ample.org  now\t\tok "
    val got = Seq(dirty).toDF("text")
      .select(Text.cleanText(col("text"))).as[String].head()
    assert(got == "see or mail now ok")
  }

  test("wordChunks covers every word with the configured overlap") {
    def chunksOf(text: String, c: Int, s: Int) =
      Seq(text).toDF("t").select(Text.wordChunks(col("t"), c, s))
        .as[Seq[String]].head()
    val words = (1 to 10).map(i => s"w$i").mkString(" ")
    // chunk 4 / stride 3 over 10 words → starts 0,3,6 and STOP: the
    // window at 6 reaches the end, so no suffix-duplicate tail chunk
    assert(chunksOf(words, 4, 3) == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    // doc shorter than one chunk → itself
    assert(chunksOf("a b", 5, 5) == Seq("a b"))
    // no overlap when stride == chunk
    assert(chunksOf(words, 5, 5) == Seq("w1 w2 w3 w4 w5", "w6 w7 w8 w9 w10"))
    // short tail still emitted when it carries NEW words
    assert(chunksOf((1 to 11).map(i => s"w$i").mkString(" "), 5, 5)
      == Seq("w1 w2 w3 w4 w5", "w6 w7 w8 w9 w10", "w11"))
  }

  test("rollingFingerprint matches a plain-Scala reimplementation") {
    val text = "spark window batch merge"
    val expected = text.toLowerCase.split(" ").foldLeft(0L) { (h, w) =>
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = java.lang.Long.parseLong(md5hex.take(15), 16)
      (h * 31 + base % 2147483647L) % 2147483647L
    }
    val got = Seq(text).toDF("text")
      .select(Text.rollingFingerprint(col("text"))).as[Long].head()
    assert(got == expected)
  }

  test("qualityScore stays in [0,1] over real documents") {
    val d = Tables.load(spark, sfDir, "documents")
    val mm = d.select(min(Text.qualityScore(col("text"))),
      max(Text.qualityScore(col("text")))).as[(Double, Double)].head()
    assert(mm._1 >= 0.0 && mm._2 <= 1.0)
  }

  test("bpeTokenCount splits letter runs, digit runs, symbols") {
    val n = Seq("abc de-12 f!").toDF("t")
      .select(bpeTokenCount(col("t"))).as[Int].head()
    // abc, de, -, 12, f, ! → 6
    assert(n == 6)
  }

  test("jsonl roundtrip, guarded write, split sink") {
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val d = Seq((1L, "a", "train"), (2L, "b", "test")).toDF("id", "v", "split")
    Jsonl.write(d, s"$dir/out")
    val back = Jsonl.read(spark, s"$dir/out")
    assert(back.count() == 2)
    intercept[IllegalArgumentException] {
      Jsonl.guardedWrite(d, s"$dir/out", append = false)
    }
    Jsonl.writeSplits(d, s"$dir/splits")
    val train = Jsonl.read(spark, s"$dir/splits/split=train")
    assert(train.count() == 1)
  }

  test("orc roundtrip preserves schema and pushes predicates to the scan") {
    val dir = Files.createTempDirectory("graft-orc").toString
    val d = Tables.load(spark, sfDir, "documents").limit(100)
    Orc.write(d, s"$dir/docs")
    val back = Orc.read(spark, s"$dir/docs")
    assert(back.schema == d.schema)
    assert(back.count() == 100)
    // predicate reaches the ORC scan (same pushdown contract as parquet)
    val plan = back.where($"doc_id" === 7L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      s"no pushed filter in:\n$plan")
  }

  test("native char_shingle_count: Scala API, SQL registration, parity with composed form") {
    // 'abcdef' 3-grams: abc bcd cde def → 4; repeated text dedups
    val got = Seq(("abcdef"), ("aaaa")).toDF("t")
      .select(charShingleCount(col("t"), 3)).as[Int].collect().toSeq
    assert(got == Seq(4, 1))
    // SQL path via SparkSessionExtensions
    assert(spark.sql("SELECT char_shingle_count('abcdef', 3)")
      .as[Int].head() == 4)
    // parity with the composed-builtins formulation on real text
    val d = Tables.load(spark, sfDir, "documents").limit(50)
    val native = d.select(charShingleCount(col("text"), 7)).as[Int].collect().toSeq
    val composed = d.select(size(graft.ops.Similarity.charShingles(col("text"), 7)))
      .as[Int].collect().toSeq
    assert(native == composed)
  }

  test("word_shingle_minhash / word_shingle_hashes SQL registrations match the Scala API") {
    val d = Tables.load(spark, sfDir, "documents").limit(30)
    d.createOrReplaceTempView("ws_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, word_shingle_minhash(text, 16, 5) AS sig,
        |  word_shingle_hashes(text, 5) AS hs,
        |  word_shingle_hashes(text, 2, false) AS hsAll
        |FROM ws_docs""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val viaScala = d.select(col("doc_id"),
        column(graft.expressions.WordShingleMinHash(
          expression(col("text")), 16, 5)).as("sig"),
        graft.ops.Similarity.shingleHashes(col("text"), 5).as("hs"),
        column(graft.expressions.WordShingleHashes(
          expression(col("text")), 2, distinct = false)).as("hsAll"))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(viaSql.keySet == viaScala.keySet && viaSql.nonEmpty)
    viaSql.foreach { case (id, v) => assert(v == viaScala(id), s"doc $id") }
  }

  test("csv source reads headers; plugin loader instantiates by class name") {
    val dir = Files.createTempDirectory("graft-csv").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/d.csv"), "id,v\n1,a\n2,b\n")
    val d = graft.sources.Csv.read(spark, s"$dir/d.csv")
    assert(d.columns.toSeq == Seq("id", "v") && d.count() == 2)

    val c = graft.pipeline.Plugins.loadClient("graft.pipeline.MockCodeActClient")
    assert(c.isInstanceOf[graft.pipeline.MockCodeActClient])
  }

  test("msgContent navigates msgs[idx].content with fallback") {
    val d = Seq(("fb", "hello")).toDF("fallback", "t")
    val msgs = chatml("user" -> col("t"))
    val got = d.select(
      msgContent(msgs, 0, col("fallback")),
      msgContent(msgs, 5, col("fallback"))).as[(String, String)].head()
    assert(got == ("hello", "fb"))
  }

  test("globalShuffle is a deterministic permutation at any partitioning") {
    val d = (1 to 100).toDF("id")
    val p1 = graft.ops.Relational.globalShuffle(d.repartition(1), Seq(col("id")))
      .as[Int].collect().toSeq
    val p8 = graft.ops.Relational.globalShuffle(d.repartition(8), Seq(col("id")))
      .as[Int].collect().toSeq
    assert(p1 == p8)
    assert(p1 != (1 to 100).toSeq, "shuffle should permute")
    assert(p1.sorted == (1 to 100).toSeq)
  }

  test("encodingText: extra cols + all-but-last messages as role:content") {
    val d = Seq(("ctx", "q1", "a1", "q2")).toDF("extra", "q1", "a1", "q2")
    val msgs = chatml("user" -> col("q1"), "assistant" -> col("a1"),
      "user" -> col("q2"))
    val got = d.select(encodingText(msgs, col("extra"))).as[String].head()
    assert(got == "ctx\nuser:\nq1\nassistant:\na1\n")
  }

  test("chatml build → normalize → text render") {
    val d = Seq("hi").toDF("t")
    val msgs = chatml("system" -> lit("S"), "user" -> col("t"))
    val out = d.select(chatmlToText(normalizeRoles(msgs))).as[String].head()
    assert(out == "<user>S</user><assistant>Ok.</assistant><user>hi</user>")
  }

  test("sourceReweight: balanced sources weigh 1.0; rare sources upsample") {
    val d = Seq(
      ("a", "w w w w"), ("a", "w w w w"),     // 8 tokens
      ("b", "w w w w w w w w"),               // 8 tokens — balanced vs a
      ("c", "w w")).toDF("source", "text")    // 2 tokens — rare
    val got = Text.sourceReweight(d, "source", "text")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a")._3 == 8L && got("b")._3 == 8L && got("c")._3 == 2L)
    // uniform target is 6 tokens per source (18 total / 3 sources)
    assert(got("a")._5 == 0.75 && got("b")._5 == 0.75 && got("c")._5 == 3.0)
    assert(math.abs(got("c")._4 - 2.0 / 18) < 1e-6)
  }

  test("stripBoilerplate: df-threshold tokens removed, order kept, empty docs survive") {
    // "the" in 4/4 docs, "nav" in 3/4 — both > 0.6; "cats" in 2/4 stays
    val d = Seq(
      (1L, "the nav cats sleep the"),
      (2L, "the nav dogs cats"),
      (3L, "the nav run"),
      (4L, "the the the")).toDF("doc_id", "text")
    val got = Text.stripBoilerplate(d, "doc_id", "text", 0.6)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "cats sleep", 2L, 3L),
      (2L, "dogs cats", 2L, 2L),
      (3L, "run", 1L, 2L),
      (4L, "", 0L, 3L)))
  }

  test("stripBoilerplate: brute-force equivalence on a random corpus") {
    val rnd = new scala.util.Random(7)
    val corpus = Seq.tabulate(30) { i =>
      (i.toLong, Seq.fill(4 + rnd.nextInt(8))(s"w${rnd.nextInt(15)}")
        .mkString(" "))
    }
    val frac = 0.3
    val bp = corpus.flatMap(_._2.split(" ").distinct).groupBy(identity)
      .collect { case (t, xs) if xs.size > frac * corpus.size => t }.toSet
    val want = corpus.map { case (id, s) =>
      val kept = s.split(" ").filterNot(bp)
      (id, kept.mkString(" "), kept.length.toLong,
        (s.split(" ").length - kept.length).toLong)
    }
    val got = Text.stripBoilerplate(corpus.toDF("doc_id", "text"),
      "doc_id", "text", frac).orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("wordNgrams: positions kept, short docs empty") {
    val d = Seq("a b c d", "a b", "a a a").toDF("text")
    val got = d.select(Text.wordNgrams(col("text"), 3)).as[Seq[String]]
      .collect().toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Seq(), Seq("a a a")))
  }

  test("decontaminate: hand-computed overlap counts, clean docs absent") {
    val train = Seq(
      (1L, "x y z p q"),     // shares "x y z" with eval 100
      (2L, "p q r s t u"),   // shares "p q r","q r s","r s t" w/ 100+101
      (3L, "m n o")          // clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "x y z a b p q r s"),
      (101L, "q r s t z z")).toDF("doc_id", "text")
    val got = Text.decontaminate(train, eval, "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSeq
    // doc 2: ngrams {p q r, q r s, r s t, s t u}; hits: "p q r"(100),
    // "q r s"(100,101), "r s t"(101) → 3 ngrams, 2 eval docs
    assert(got == Seq((2L, 3L, 2L), (1L, 1L, 1L)))
  }

  test("entropySignals: uniform vs constant docs, trigram dup mass") {
    val d = Seq(
      (1L, "a b c d"),   // all distinct: H = log2(4) = 2.0; no dup tri
      (2L, "a a a a"),   // single word: H = 0; trigrams "a a a"×2 dup
      (3L, "a b")        // too short for trigrams → 0.0
    ).toDF("doc_id", "text")
    val got = Text.entropySignals(d, "doc_id", "text")
      .as[(Long, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 2.0, 0.0), (2L, 0.0, 1.0), (3L, 1.0, 0.0)))
  }

  test("entropySignals: entropy matches a driver-side computation") {
    val rnd = new scala.util.Random(11)
    val corpus = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(s"w${rnd.nextInt(6)}")
        .mkString(" "))
    }
    def h(s: String): Double = {
      val c = s.split(" ").groupBy(identity).map(_._2.length.toDouble)
      val n = c.sum
      val raw = math.log(n) / math.log(2) -
        c.map(x => BigDecimal(x * math.log(x) / math.log(2))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / n
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = Text.entropySignals(corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), col("word_entropy"))
      .as[(Long, Double)].collect().toMap
    corpus.foreach { case (id, s) => assert(got(id) == h(s), s"doc $id") }
  }

  test("jsDivergenceBySlice: identical slices diverge 0, disjoint slices approach ln 2") {
    // two slices with the SAME token distribution → each equals the
    // corpus mix → JS = 0 after 6dp rounding
    val same = Seq(("a", "x x y"), ("a", "z"), ("b", "x x y"), ("b", "z"))
    val got0 = Text.jsDivergenceBySlice(same.toDF("source", "text"),
        "source", "text", vocabK = 10)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got0 == Map("a" -> ((4L, 0.0)), "b" -> ((4L, 0.0))), s"$got0")
    // disjoint vocabularies at equal mass: each slice is {own: 1} vs
    // the 50/50 corpus mix, so per slice
    // JS = ½·ln(4/3) + ¼·ln(2/3) + ¼·ln 2 ≈ 0.215762, symmetric and
    // bounded by ln 2
    val disj = Seq(("a", "p p p p"), ("b", "q q q q"))
    val want = 0.5 * math.log(4.0 / 3) + 0.25 * math.log(2.0 / 3) +
      0.25 * math.log(2.0)
    val got1 = Text.jsDivergenceBySlice(disj.toDF("source", "text"),
        "source", "text", vocabK = 10)
      .as[(String, Long, Double)].collect()
    got1.foreach { case (_, _, js) =>
      assert(math.abs(js - want) < 1e-5 && js <= math.log(2.0),
        s"${got1.toSeq}")
    }
  }

  test("jsDivergenceBySlice: OOV bucket keeps mass with a tiny vocab cap, partitioning-independent") {
    val rnd = new scala.util.Random(17)
    val docs = Seq.tabulate(60) { i =>
      ("s" + (i % 3), Seq.fill(5 + rnd.nextInt(10))(s"t${rnd.nextInt(40)}")
        .mkString(" "))
    }
    val df = docs.toDF("source", "text")
    // capping vocab at 3 lumps most mass into OOV — the divergence is
    // still finite, non-negative, and ≤ ln 2
    val capped = Text.jsDivergenceBySlice(df, "source", "text", vocabK = 3)
      .as[(String, Long, Double)].collect()
    assert(capped.length == 3 &&
      capped.forall { case (_, n, js) =>
        n > 0 && js >= 0.0 && js <= math.log(2.0) })
    val a = Text.jsDivergenceBySlice(df.repartition(3), "source", "text", 3)
      .collect().toSeq
    val b = Text.jsDivergenceBySlice(df.repartition(23), "source", "text", 3)
      .collect().toSeq
    assert(a == b)
  }

  test("malformed JSONL: corrupt lines quarantine under PERMISSIVE, " +
    "drop under DROPMALFORMED, nothing lost silently") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badjsonl")
    java.nio.file.Files.writeString(dir.resolve("part.jsonl"),
      """{"doc_id": 1, "text": "good one"}
        |{"doc_id": 2 "text": "missing comma"}
        |{"doc_id": 3, "text": "also good"}
        |not json at all
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString).cache()
    assert(permissive.count() == 4) // every input line accounted for
    assert(permissive.where(col("_corrupt_record").isNotNull).count() == 2)
    assert(permissive.where(col("_corrupt_record").isNull)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    permissive.unpersist()
    val dropped = spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.fields.init))
      .option("mode", "DROPMALFORMED")
      .json(dir.toString)
    assert(dropped.count() == 2)
  }

  test("parquet schema evolution: mergeSchema unions columns across files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    spark.range(0, 10).selectExpr("id", "'old' AS src")
      .write.mode("overwrite").parquet(s"$dir/b=1")
    spark.range(10, 20).selectExpr("id", "'new' AS src", "id * 2 AS extra")
      .write.mode("overwrite").parquet(s"$dir/b=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "src", "extra", "b"))
    assert(merged.count() == 20)
    // old files surface the evolved column as NULL, not an error
    assert(merged.where(col("b") === 1 && col("extra").isNull).count() == 10)
    assert(merged.where(col("b") === 2)
      .select(sum(col("extra"))).head().getLong(0) == (10L until 20L).map(_ * 2).sum)
  }
}
