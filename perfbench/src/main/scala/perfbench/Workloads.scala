package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{Relational, Similarity}
import graft.pipeline._
import graft.sources.Jsonl
import graft.streaming.MinHashLocal

/** One sink write of an operation: build the DataFrame (builder
  * phase), then write it (exec phase); the runner plans it in between.
  */
final case class Step(build: SparkSession => DataFrame, sink: DataFrame => Unit)

/** The unit a user waits on: a whole pipeline pass, or one registry
  * query. `items` is what it completes: input rows or one query.
  */
final case class Op(name: String, items: Long, steps: Seq[Step])

trait Workload {
  def name: String

  /** Input properties, printed with every run. */
  def describe: Seq[(String, String)]

  /** Writes the seeded inputs under the run's data directory. */
  def prepare(spark: SparkSession): Unit

  /** The operations of pass `p`, in order. Negative p = set-up pass. */
  def pass(p: Int): Seq[Op]

  /** Prompts one pass sends to `LlmClient.run`, known from the input. */
  def promptsPerPass: Long = 0L

  /** Checks the outputs of the last pass. Returns the failures, then
    * the self-test misses: each check also runs on a copy of the
    * outputs corrupted to fail it, and every corruption it does not
    * catch is listed.
    */
  def check(spark: SparkSession): (Seq[String], Seq[String])
}

/** Seeded synthetic text: a fixed vocabulary of pseudo-words, so two
  * random documents share no 5-word shingle.
  */
object Text {
  val Vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Iterator.continually(Seq.fill(3 + r.nextInt(5))(letters(r.nextInt(26))).mkString)
      .distinct.take(5000).toIndexedSeq
  }

  def words(r: Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Vocab(r.nextInt(Vocab.size)))

  def writeLines(path: Path, lines: Iterator[String]): Long = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.size(path)
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** LLM map→reduce over a `documents`-schema corpus: the reference's
  * own workload. Bound by waiting on the model; Spark runs a few jobs.
  */
final class LlmMapReduce(seed: Long, dir: Path) extends Workload {
  import LlmMapReduce._
  val name = "llm_mapreduce"
  private val input = dir.resolve("input.jsonl")
  private val out = dir.resolve("out")
  private val client = DelayedMockClient(DelayMs)
  private var docs: IndexedSeq[(Long, String, String, String)] = IndexedSeq.empty
  private var bytes = 0L

  def prepare(spark: SparkSession): Unit = {
    val r = new Random(seed)
    docs = (0 until Rows).map { i =>
      (i.toLong, Text.words(r, 20 + r.nextInt(41)).mkString(" "),
        Langs(r.nextInt(Langs.size)), s"src${r.nextInt(Sources)}")
    }
    bytes = Text.writeLines(input, docs.iterator.map { case (id, t, l, s) =>
      s"""{"doc_id":$id,"text":${Json.str(t)},"lang":"$l","source":"$s","n_chars":${t.length}}"""
    })
  }

  def describe: Seq[(String, String)] = Seq(
    "rows" -> Rows.toString, "bytes" -> bytes.toString,
    "delay_ms_per_call" -> DelayMs.toString,
    "distinct_prompts" -> distinctPrompts.toString,
    "llm_cache_capacity" -> "10000")

  /** summarize and final are distinct per document; classify sees one
    * prompt per (lang, source) pair.
    */
  private def distinctPrompts: Long =
    docs.map(_._2).distinct.size.toLong + docs.map(d => (d._3, d._4)).distinct.size +
      docs.map(d => (d._2, d._3, d._4)).distinct.size

  // results: summarize + classify + final per doc; traces: summarize +
  // classify per doc, evaluated twice (chatmls, then meta)
  override def promptsPerPass: Long = Rows.toLong * (3 + 2 * 2)

  def pass(p: Int): Seq[Op] = Seq(Op("pipeline_pass", Rows, Seq(
    Step(s => InstructionRunner.runPipeline(Jsonl.read(s, input.toString, Schema),
        Config, client, InputCols).select(col("doc_id"), col("result_md")),
      df => Jsonl.write(df, out.resolve("results").toString)),
    Step(s => InstructionRunner.traceStage(
        InstructionRunner.stringifyKv(Jsonl.read(s, input.toString, Schema),
          InputCols, "stage0_result"),
        Config.stages.head, client, "stage0_result", "doc_id"),
      df => Jsonl.writeTraces(df, out.resolve("traces").toString)))))

  private def outputs(spark: SparkSession): (Seq[Row], Seq[Row], Seq[Row]) = (
    spark.read.schema("doc_id long, result_md string")
      .json(out.resolve("results").toString).collect().toSeq,
    spark.read.schema("session_id string, stage string, name string, " +
        "msgs array<struct<role:string,content:string>>, result string, finished boolean")
      .json(out.resolve("traces/chatmls").toString).collect().toSeq,
    spark.read.schema("session_id string, stage string, name string")
      .json(out.resolve("traces/meta").toString).collect().toSeq)

  def check(spark: SparkSession): (Seq[String], Seq[String]) = {
    val (res, chat, meta) = outputs(spark)
    def alter(r: Row, i: Int): Row = Row.fromSeq(r.toSeq.updated(i, r.getString(i) + "x"))
    (verify(res, chat, meta), Seq(
      "result_md altered" -> verify(res.updated(0, alter(res.head, 1)), chat, meta),
      "result row dropped" -> verify(res.tail, chat, meta),
      "trace result altered" -> verify(res, chat.updated(0, alter(chat.head, 4)), meta),
      "meta row dropped" -> verify(res, chat, meta.tail)
    ).collect { case (what, errs) if errs.isEmpty => what })
  }

  /** Recomputes every output from the mock's arithmetic over the
    * generated rows, independently of the pipeline's prompt code.
    */
  private def verify(res: Seq[Row], chat: Seq[Row], meta: Seq[Row]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val bySession = docs.map(d => Text.sha256Hex(d._1.toString).take(32) -> d).toMap
    val expect = docs.map(d => d._1 -> Ref.expected(d._2, d._3, d._4)).toMap
    if (res.size != Rows) errs += s"results: ${res.size} rows, want $Rows"
    if (res.map(_.getLong(0)).distinct.size != res.size) errs += "results: duplicate doc_id"
    res.iterator.filterNot(r => expect.get(r.getLong(0)).exists(_.resultMd == r.getString(1)))
      .take(1).foreach(r => errs += s"results: doc ${r.get(0)} result_md differs")
    if (chat.size != 2 * Rows) errs += s"traces: ${chat.size} rows, want ${2 * Rows}"
    if (chat.map(r => (r.getString(0), r.getString(2))).distinct.size != chat.size)
      errs += "traces: duplicate (session, name)"
    chat.iterator.filterNot { r =>
      bySession.get(r.getString(0)).exists { d =>
        val e = expect(d._1)
        val (sys, user, answer) = r.getString(2) match {
          case "summarize" => (Ref.SumSys, e.sumUser, e.sum)
          case "classify" => (Ref.ClsSys, e.clsUser, e.cls)
          case _ => ("", "", null)
        }
        val msgs = r.getSeq[Row](3).map(m => (m.getString(0), m.getString(1)))
        r.getString(1) == "map" && r.getString(4) == answer && r.getBoolean(5) &&
          msgs == Seq(("system", sys), ("user", user), ("assistant", answer))
      }
    }.take(1).foreach(r => errs += s"traces: row ${r.getString(0)}/${r.getString(2)} differs")
    val chatKeys = chat.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    if (meta.size != chat.size || meta.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet != chatKeys)
      errs += "traces: meta rows do not match chatmls"
    errs.result()
  }

  /** Independent render of the prompts and of `MockLlmClient`'s reply:
    * `RE:` + the first 16 hex of sha256(system + "\n" + user) + `:` +
    * the first 40 code points of the user prompt.
    */
  private object Ref {
    final case class Expected(sumUser: String, sum: String, clsUser: String,
                              cls: String, resultMd: String)
    private def sys(i: Instruction) = s"## Your Role\n${i.role}\n\n## Task\n${i.task}"
    val SumSys: String = sys(Summarize)
    val ClsSys: String = sys(Classify)
    private val FinalSys = sys(Final)
    private def reply(sys: String, user: String): String = {
      val n = math.min(40, user.codePointCount(0, user.length))
      s"RE:${Text.sha256Hex(sys + "\n" + user).take(16)}:" +
        user.substring(0, user.offsetByCodePoints(0, n))
    }
    def expected(text: String, lang: String, source: String): Expected = {
      val sumUser = s"# text\n$text\n"
      val clsUser = s"# lang\n$lang\n# source\n$source\n"
      val s = reply(SumSys, sumUser)
      val c = reply(ClsSys, clsUser)
      val f = reply(FinalSys, s"# summarize\n$s\n# classify\n$c\n")
      Expected(sumUser, s, clsUser, c, s"# final\n$f\n")
    }
  }
}

object LlmMapReduce {
  val Rows = 6000
  val DelayMs = 1L
  val Sources = 20
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "zh")
  val InputCols: Seq[String] = Seq("doc_id", "text", "lang", "source")
  val Schema: StructType = StructType.fromDDL(
    "doc_id long, text string, lang string, source string, n_chars long")
  val Summarize: Instruction = Instruction("summarize", role = "You are a summarizer.",
    task = "Summarize the document.", scope = Seq("text"))
  val Classify: Instruction = Instruction("classify", role = "You are a classifier.",
    task = "Classify the document language and source.", scope = Seq("lang", "source"))
  val Final: Instruction = Instruction("final", role = "You are an editor.",
    task = "Merge the sections into a final report.", scope = Seq("summarize", "classify"))
  val Config: PipelineConfig = PipelineConfig(Seq(
    InstructionStage("map", Seq(Summarize, Classify)),
    InstructionStage("reduce", Seq(Final))))
}

/** The classical curation chain: length filter, exact dedup, MinHash
  * LSH near-dedup, per-source cap and a grouped split. Bound by CPU,
  * shuffle and writes; no model calls.
  */
final class CurationDedup(seed: Long, dir: Path) extends Workload {
  import CurationDedup._
  val name = "curation_dedup"
  private val input = dir.resolve("input.jsonl")
  private val out = dir.resolve("out")
  // ids of the documents that must survive dedup, by source
  private var survivors: Map[String, Set[Long]] = Map.empty
  // long originals: the survivors if LSH merged no unrelated pair
  private var designed = 0
  private var bytes = 0L

  /** The chain's dedup semantics over (id, text, source), computed in
    * the benchmark's JVM: length filter, lowest id per exact text, then
    * MinHash LSH (128 permutations, 32 bands of 4 rows) dropping every id above
    * the lowest id of a bucket it shares. Signatures come from
    * `MinHashLocal`, the kernel's documented JVM twin. Its 30-bit
    * shingle hash lets unrelated documents share a bucket now and
    * then; the designed-minus-kept gap is reported as lsh_false_merges.
    */
  private def referenceDedup(docs: Seq[(Long, String, String)]): Map[String, Set[Long]] = {
    val long = docs.filter(_._2.split(" ", -1).length >= MinWords)
    val exact = long.groupBy(_._2).values.map(_.minBy(_._1)).toIndexedSeq.sortBy(_._1)
    val buckets = exact.map { d =>
      MinHashLocal.buckets(MinHashLocal.signature(d._2, 128, 5).get, 32, 4)
    }
    val dropped = (0 until 32).flatMap { band =>
      exact.indices.groupBy(i => buckets(i)(band)._2).values.flatMap { ix =>
        val ids = ix.map(exact(_)._1)
        val lowest = ids.min
        ids.filter(_ > lowest)
      }
    }.toSet
    exact.filterNot(d => dropped(d._1)).groupBy(_._3)
      .map { case (s, ds) => s -> ds.map(_._1).toSet }
  }

  def prepare(spark: SparkSession): Unit = {
    val r = new Random(seed)
    val weights = (0 until Sources).map(i => 1.0 / (i + 1))
    def source(): String = {
      var x = r.nextDouble() * weights.sum
      var i = 0
      while (x >= weights(i) && i < Sources - 1) { x -= weights(i); i += 1 }
      s"src$i"
    }
    val originals = Rows - ExactDups - NearDups
    // (id, words, source, site, isLongOriginal)
    val base = (0 until originals).map { i =>
      val short = r.nextDouble() < ShortShare
      val n = if (short) 2 + r.nextInt(MinWords - 2) else 80 + r.nextInt(81)
      (i.toLong, Text.words(r, n), source(), r.nextInt(Sites).toLong, !short)
    }
    val long = base.filter(_._5)
    val exact = (0 until ExactDups).map { j =>
      val o = long(r.nextInt(long.size))
      ((originals + j).toLong, o._2, source(), o._4, false)
    }
    // a near duplicate differs from its original in the last word only,
    // a Jaccard of at least 75/77 over 5-word shingles: LSH with 32
    // bands of 4 rows misses such a pair with probability below 1e-30
    val near = (0 until NearDups).map { j =>
      val o = long(r.nextInt(long.size))
      var w = o._2.last
      while (w == o._2.last) w = Text.Vocab(r.nextInt(Text.Vocab.size))
      ((originals + ExactDups + j).toLong, o._2.updated(o._2.size - 1, w), source(), o._4, false)
    }
    val all = base ++ exact ++ near
    survivors = referenceDedup(all.map(d => (d._1, d._2.mkString(" "), d._3)))
    designed = long.size
    val rows = r.shuffle(all)
    bytes = Text.writeLines(input, rows.iterator.map { case (id, ws, s, site, _) =>
      val t = ws.mkString(" ")
      s"""{"doc_id":$id,"text":${Json.str(t)},"lang":"en","source":"$s","site_id":$site,"n_chars":${t.length}}"""
    })
  }

  def expectedKept: Long = survivors.values.map(s => math.min(s.size, Cap).toLong).sum

  def describe: Seq[(String, String)] = Seq(
    "rows" -> Rows.toString, "bytes" -> bytes.toString,
    "exact_dup_share" -> (ExactDups.toDouble / Rows).toString,
    "near_dup_share" -> (NearDups.toDouble / Rows).toString,
    "short_share_of_originals" -> ShortShare.toString,
    "lsh_false_merges" -> (designed - survivors.values.map(_.size).sum).toString,
    "expected_kept" -> expectedKept.toString)

  def pass(p: Int): Seq[Op] = Seq(Op("curation_pass", Rows, Seq(Step(
    s => {
      val docs = Jsonl.read(s, input.toString, Schema)
      val long = Relational.lengthFilter(docs, "text", MinWords)
      val exact = Relational.dedupFirst(long, Seq("text"), Seq(col("doc_id")))
      val near = Similarity.minhashDedup(exact, "doc_id", "text", 128, 5, 32, 4)
      val capped = Relational.groupSample(near, Seq("source"), Cap, Seq(col("doc_id")))
      Relational.groupSplit(capped, "site_id")
    },
    df => Jsonl.writeSplits(df, out.toString)))))

  private def outputs(spark: SparkSession): Seq[(Long, String, String, Long, String)] =
    spark.read.schema("doc_id long, text string, source string, site_id long, split string")
      .json(out.toString).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))

  def check(spark: SparkSession): (Seq[String], Seq[String]) = {
    val kept = outputs(spark)
    val k0 = kept.head
    (verify(kept), Seq(
      "foreign id" -> verify(kept :+ k0.copy(_1 = Rows + 1L, _2 = k0._2 + " x")),
      "duplicate text" -> verify(kept.updated(1, kept(1).copy(_2 = k0._2))),
      "wrong split" -> verify(kept.updated(0, k0.copy(_5 = if (k0._5 == "train") "test" else "train"))),
      "row dropped" -> verify(kept.tail)
    ).collect { case (what, errs) if errs.isEmpty => what })
  }

  private def verify(kept: Seq[(Long, String, String, Long, String)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val allSurvivors = survivors.values.flatten.toSet
    if (!kept.forall(k => k._1 >= 0 && k._1 < Rows))
      errs += "kept ids are not a subset of the input ids"
    if (!kept.forall(k => allSurvivors.contains(k._1)))
      errs += "a kept id is a duplicate or a short document"
    if (kept.map(_._2).distinct.size != kept.size) errs += "two kept rows share a text"
    kept.find(k => k._5 != splitOf(k._4))
      .foreach(k => errs += s"doc ${k._1}: split ${k._5}, rule gives ${splitOf(k._4)}")
    if (kept.size != expectedKept) errs += s"kept ${kept.size} rows, expected $expectedKept"
    kept.groupBy(_._3).foreach { case (s, ks) =>
      val want = math.min(Cap, survivors.get(s).map(_.size).getOrElse(0))
      if (ks.size != want) errs += s"source $s: kept ${ks.size}, expected $want"
    }
    errs.result()
  }
}

object CurationDedup {
  val Rows = 24000
  val ExactDups = 2400
  val NearDups = 2400
  val ShortShare = 0.1
  val MinWords = 8
  val Sources = 20
  val Sites = 2000
  val Cap = 1000
  val Schema: StructType = StructType.fromDDL(
    "doc_id long, text string, lang string, source string, site_id long, n_chars long")

  /** `Relational.groupSplit`'s rule, recomputed: the deterministic
    * hash of the key into 100 buckets, 80 train / 10 val / 10 test.
    */
  def splitOf(key: Long): String = {
    val p = 1000003L
    val bucket = Math.floorMod(Math.floorMod(key, p) * 2654435761L + 12345L, 100L)
    if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
  }
}

/** Named registry queries over a generated table set, to a noop sink:
  * bound by the Spark driver, with job counts that repeat exactly.
  */
final class QueryMix(seed: Long, dir: Path, checkDir: Path) extends Workload {
  import QueryMix._
  val name = "query_mix"

  def prepare(spark: SparkSession): Unit =
    if (!Files.exists(dir.resolve("_complete"))) {
      Text.rmrf(dir)
      graft.FuzzGen.generate(spark, DataSeed, dir.toString)
      Files.writeString(dir.resolve("_complete"), "")
    }

  def describe: Seq[(String, String)] = Seq(
    "queries" -> Names.size.toString, "tables" -> s"FuzzGen seed $DataSeed",
    "tables_dir" -> dir.toString, "order_seed" -> seed.toString)

  def pass(p: Int): Seq[Op] =
    new Random(seed * 1009L + p).shuffle(Names).map { n =>
      val fn = graft.SparkEntry.queries(n)
      Op(n, 1L, Seq(Step(s => fn(s, dir.toString),
        _.write.format("noop").mode("overwrite").save())))
    }

  /** The check pass: every query's result as parquet plus its oracle
    * SQL; run.py compares them in DuckDB.
    */
  def checkOps: Seq[Op] = Names.map { n =>
    val fn = graft.SparkEntry.queries(n)
    Op(n, 1L, Seq(Step(s => fn(s, dir.toString),
      _.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(n).toString))))
  }

  def writeOracles(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(checkDir.resolve("oracle_sql.json"), Names.map { n =>
      s"${Json.str(n)}:${Json.str(sql(n))}"
    }.mkString("{", ",", "}"))
  }

  // the results are compared with their oracles by run.py, in DuckDB
  def check(spark: SparkSession): (Seq[String], Seq[String]) = (Nil, Nil)
}

object QueryMix {
  val DataSeed = 1L
  val Names: Seq[String] = Seq(
    // builder-job-heavy
    "quantile_multi_report", "stats_winsorized",
    // short single-plan
    "q3_topk_revenue", "text_token_stats", "cost_report", "dedup_exact",
    // the round-14 doublers
    "q20_dominant_suppliers", "source_novelty_curve")
}
