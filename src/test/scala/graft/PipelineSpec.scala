package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.pipeline._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val ins = Instruction(
    name = "summ", role = "R.", task = "T.", scope = Seq("text"))
  private val stage = InstructionStage("map", Seq(ins))
  private val client = MockLlmClient()

  private def docs = Seq((1L, "hello world"), (2L, "NA")).toDF("doc_id", "text")

  test("runStage produces the mock's deterministic output and skips invalid scopes") {
    val st0 = InstructionRunner.stringifyKv(docs, Seq("doc_id", "text"), "s0")
    val out = InstructionRunner.runStage(st0, stage, client, "s0", "r")
      .select(col("doc_id"), element_at(col("r"), "summ").as("v"))
      .as[(Long, String)].collect().toMap

    val sys = Prompts.sysPrompt(ins)
    val user = "# text\nhello world\n"
    val expected =
      s"RE:${LlmClient.sha256Hex(sys + "\n" + user).take(16)}:${user.take(40)}"
    assert(out(1L) == expected)
    assert(out(2L) == null, "all-invalid scope must skip the instruction")
  }

  test("prompt rendering: section order, skipped empties, invalid filtering") {
    assert(Prompts.sysPrompt(ins) == "## Your Role\nR.\n\n## Task\nT.")
    val full = Instruction("n", role = "r", task = "t",
      requirements = Seq("a", "b"), knowledge = "k")
    assert(Prompts.sysPrompt(full).contains("## Requirements\na\nb"))
    val got = Prompts.userPrompt(Instruction("n", scope = Seq("x", "y")),
      Map("x" -> "1", "y" -> "N/A"))
    assert(got.contains("# x\n1\n"))
    // invalid = EXACT membership in the reference's INVALID_VALS
    // (constants.py:9-20): one and three spaces are invalid, TWO
    // spaces and "\t" are valid — the reference does `v in SET`, not
    // a trim, and r12's fuzz run showed trim variants diverge
    // between engines (FUZZ.md #4)
    assert(Prompts.userPrompt(Instruction("n", scope = Seq("y")),
      Map("y" -> " ")).isEmpty)
    assert(Prompts.userPrompt(Instruction("n", scope = Seq("y")),
      Map("y" -> "   ")).isEmpty)
    assert(Prompts.userPrompt(Instruction("n", scope = Seq("y")),
      Map("y" -> "\n")).isEmpty)
    assert(Prompts.userPrompt(Instruction("n", scope = Seq("y")),
      Map("y" -> "  ")).contains("# y\n  \n"))
    assert(Prompts.userPrompt(Instruction("n", scope = Seq("y")),
      Map("y" -> "\t")).contains("# y\n\t\n"))
  }

  test("LRU cache: repeated conversations hit the cache; clients do not collide") {
    LlmCache.clear()
    val msgs = Seq(ChatMessage("user", "same question"))
    val a = MockJudgeClient("a").run(msgs)
    val b = MockJudgeClient("b").run(msgs)
    val a2 = MockJudgeClient("a").run(msgs)
    assert(a == a2)
    assert(LlmCache.size == 2, "two clients, same prompt → two entries")
  }

  test("length-stop retry: retries up to 3 then returns the last response") {
    var calls = 0
    val flaky = new LlmClient {
      override def cacheId = s"flaky-${System.nanoTime()}"
      override def complete(msgs: Seq[ChatMessage], attempt: Int) = {
        calls += 1
        LlmResponse(s"c$attempt", if (attempt < 2) "length" else "stop")
      }
    }
    assert(flaky.run(Seq(ChatMessage("user", "q"))) == "c2")
    assert(calls == 3)
    assert(flaky.ping())
  }

  test("runPipeline chains stages: reduce consumes the map result map") {
    val reduce = InstructionStage("reduce",
      Seq(Instruction("final", role = "E.", task = "M.", scope = Seq("summ"))))
    val out = InstructionRunner.runPipeline(
        docs.where(col("doc_id") === 1), PipelineConfig(Seq(stage, reduce)),
        client, Seq("doc_id", "text"))
      .select("result_md").as[String].head()
    assert(out.startsWith("# final\nRE:"))
  }

  test("config reader parses the reference pipe shape") {
    val cfg = ConfigReader.fromJson(
      """{"pipe": [
        |  {"name": "map", "instructions": [
        |    {"name": "a", "role": "R", "task": "T",
        |     "requirements": ["x"], "scope": ["text"], "model": "m1"}]},
        |  {"name": "reduce", "instructions": [
        |    {"name": "b", "task": "T2", "scope": ["a"]}]}
        |]}""".stripMargin)
    assert(cfg.stages.map(_.name) == Seq("map", "reduce"))
    val a = cfg.stages.head.instructions.head
    assert(a == Instruction("a", role = "R", task = "T",
      requirements = Seq("x"), scope = Seq("text"), model = "m1"))
    assert(cfg.stages(1).instructions.head.model == "mock")
  }

  test("eligibility rubric scoring") {
    assert(Judge.eligibilityScore(Some("eligible")) == 1.0)
    assert(Judge.eligibilityScore(Some("partially_eligible")) == 0.25)
    assert(Judge.eligibilityScore(Some("ineligible")) == 0.0)
    assert(Judge.eligibilityScore(None) == 0.5)
  }

  test("saltedAgg matches plain aggregation") {
    val d = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", 1L))
      .toDF("k", "v")
    val salted = graft.ops.Relational.saltedAgg(
        d, Seq("k"), col("v"), sum, sum, salts = 8)
      .as[(String, Long)].collect().toMap
    val plain = d.groupBy("k").agg(sum(col("v")))
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  // ---- per-row LLM operator contract: concurrency, order, failure ----

  /** 16 rows in one partition, in doc_id order. */
  private def slowDocs = (1 to 16).map(i => (i.toLong, s"doc $i"))
    .toDF("doc_id", "text").coalesce(1).withColumn("q", lit("compute"))
  private def slowSt0 = InstructionRunner.stringifyKv(slowDocs, Seq("doc_id", "text"), "s0")
  private val ids = (1L to 16L).map(_.toString)

  /** Each per-row LLM operator over the 16 rows, with `model(role)`
    * as its model(s); the result's first column names its input row.
    */
  private val operators: Seq[(String, (String => LlmClient) => DataFrame)] = Seq(
    "runStage" -> (m => InstructionRunner.runStage(slowSt0, stage, m("stage"), "s0", "r")
      .select("doc_id")),
    "runChain" -> (m => InstructionRunner.runChain(slowSt0, ins, Seq("Check."), m("chain"),
      "s0", "r").select("doc_id")),
    "traceStage" -> (m => InstructionRunner.traceStage(slowSt0, stage, m("trace"), "s0",
      "doc_id").select("session_id")),
    "scoreWith" -> (m => Judge.scoreWith(slowDocs, "claim __T__", Map("__T__" -> "text"),
      Seq(m("judge-a"), m("judge-b")), Judge.score, "s").select("doc_id")),
    "panelLabels" -> (m => Judge.panelLabels(slowDocs, "claim __T__", Map("__T__" -> "text"),
      Seq(m("judge-a"), m("judge-b")), Seq("a", "b")).select("doc_id")),
    "codeAct" -> (m => CodeAct.codeAct(slowDocs, "q", "text", m("codeact"), MockSandbox(),
      1, "out").select("doc_id")))

  for ((name, run) <- operators) {
    test(s"$name calls the model concurrently and keeps row order") {
      val tag = s"$name-${System.nanoTime()}"
      SlowClient.reset()
      val got = run(role => SlowClient(s"$tag-$role"))
        .collect().map(r => String.valueOf(r.get(0))).toSeq
      val want =
        if (name == "traceStage") ids.map(LlmClient.sha256Hex(_).take(32)) else ids
      assert(got == want, s"$name changed row order")
      assert(SlowClient.peak.get > 1, s"$name called the model one row at a time")
    }

    test(s"$name fails with the model's exception when one row's call throws") {
      val tag = s"$name-fail-${System.nanoTime()}"
      val action = Future(run(role => SlowClient(s"$tag-$role", failOn = "doc 5")).collect())(
        ExecutionContext.global)
      val result = Await.ready(action, 2.minutes).value.get
      assert(result.isFailure, s"$name ignored the failed call")
      assert(causes(result.failed.get).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "model failed on doc 5"), s"got ${result.failed.get}")
    }
  }

  test("traceStage + writeTraces call the model once per row and instruction") {
    val n = 6
    val k = 2
    val twoIns = InstructionStage("map", Seq(ins, ins.copy(name = "summ2", task = "T2.")))
    val st0 = InstructionRunner.stringifyKv(
      (1 to n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text"),
      Seq("doc_id", "text"), "s0")
    val dir = java.nio.file.Files.createTempDirectory("graft-traces").toString
    LlmCache.clear()
    CountingClient.firstAttempts.set(0)
    try {
      graft.sources.Jsonl.writeTraces(
        InstructionRunner.traceStage(st0, twoIns, CountingClient(), "s0", "doc_id"), dir)
    } finally LlmCache.clear()
    assert(CountingClient.firstAttempts.get == n * k)
    val meta = graft.sources.Jsonl.read(spark, s"$dir/meta")
    assert(meta.count() == n * k)
    assert(meta.columns.toSet == Set("session_id", "stage", "name"))
  }

  test("markdownExpr skips missing entries") {
    val d = Seq(Map("a" -> "1")).toDF("m")
    val md = d.select(InstructionRunner.markdownExpr(Seq("a", "b"), col("m")))
      .as[String].head()
    assert(md == "# a\n1\n")
  }
}

/** A model that takes about 20 ms a call and records the peak number of
  * calls in flight; it throws on any prompt containing `failOn`. The
  * client ships to tasks as a serialized copy, so the counters live in
  * the companion. `tag` keeps each test's prompts out of the others'
  * cache entries.
  */
final case class SlowClient(tag: String, failOn: String = null) extends LlmClient {
  override def cacheId: String = s"slow:$tag"

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    if (failOn != null && user.contains(failOn))
      throw new IllegalStateException(s"model failed on $failOn")
    SlowClient.peak.accumulateAndGet(SlowClient.inFlight.incrementAndGet(), math.max)
    try {
      Thread.sleep(20)
      LlmResponse("""{"label": "supported"}""", "stop")
    } finally SlowClient.inFlight.decrementAndGet()
  }
}

object SlowClient {
  val inFlight = new AtomicInteger
  val peak = new AtomicInteger
  /** Waits for calls left over from a failed action, then clears the peak. */
  def reset(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (inFlight.get != 0 && System.nanoTime() < deadline) Thread.sleep(5)
    assert(inFlight.get == 0, "model calls still in flight")
    peak.set(0)
  }
}

/** A model that counts its first-attempt calls. Its cache identity is
  * new on every call, so LlmCache never answers for it and every
  * evaluation of a frame reaches the model.
  */
final case class CountingClient() extends LlmClient {
  override def cacheId: String = s"counting:${CountingClient.ids.incrementAndGet()}"

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    if (attempt == 0) CountingClient.firstAttempts.incrementAndGet()
    LlmResponse("ok", "stop")
  }
}

object CountingClient {
  val ids = new java.util.concurrent.atomic.AtomicLong
  val firstAttempts = new AtomicInteger
}
