package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pipeline.LlmCache

/** One benchmark run: set up, measure closed-loop passes for a fixed
  * time, check the outputs, and write `result.json` (plus `spans.jsonl`
  * when traced) into the run directory. `run.py` turns that into the
  * result line.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --run-dir <dir> --data-dir <dir>
  */
object Main {
  /** Set-ups per run: `setup_s` is their median. */
  val Setups = 3
  val Cpus: String = math.min(4, Runtime.getRuntime.availableProcessors).toString

  final case class PhaseRec(id: Long, phase: String, start: Long, end: Long)
  final case class OpRec(name: String, items: Long, start: Long, end: Long,
                         ok: Boolean, phases: Seq[PhaseRec]) {
    def wall: Double = (end - start) / 1e9
  }
  final case class PassRec(index: Int, traced: Boolean, id: Long,
                           start: Long, end: Long, startMs: Long, endMs: Long,
                           ops: Seq[OpRec], llm0: LlmProbe.Snapshot,
                           llm1: LlmProbe.Snapshot, cacheEntries: Int) {
    def wall: Double = (end - start) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val dataDir = Paths.get(a("data-dir")).toAbsolutePath
    val wl: Workload = a("workload") match {
      case "llm_mapreduce" => new LlmMapReduce(seed, runDir.resolve("llm"))
      case "curation_dedup" => new CurationDedup(seed, runDir.resolve("curation"))
      case "query_mix" => new QueryMix(seed, dataDir.resolve(s"fuzz-${QueryMix.DataSeed}"),
        runDir.resolve("check"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    new Runner(wl, a("seconds").toInt, a("trace") == "1", runDir).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.max(0, math.ceil(q * xs.size).toInt - 1))
}

final class Runner(wl: Workload, seconds: Int, trace: Boolean, runDir: Path) {
  import Main._

  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private val recorder = new Recorder
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1L
  private var barriers = 0
  // maps listener epoch-millisecond times onto the nanoTime clock
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def msToNs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def openSpan(): Long = { val id = nextSpan; nextSpan += 1; id }

  private def phase[T](traced: Boolean, name: String, parent: Long,
                       out: mutable.Buffer[PhaseRec])(body: => T): T = {
    val id = openSpan()
    if (traced) spark.sparkContext.setJobGroup(id.toString, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      out += PhaseRec(id, name, t0, t1)
      if (traced) spans += Span(id, parent, "phase", name, t0, t1)
    }
  }

  /** Runs one operation; one that throws is counted and never timed. */
  private def runOp(op: Op, traced: Boolean, parent: Long): OpRec = {
    spark.catalog.clearCache()
    val id = openSpan()
    val phases = mutable.ArrayBuffer.empty[PhaseRec]
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try {
      op.steps.foreach { st =>
        val df = phase(traced, "builder", id, phases)(st.build(spark))
        phase(traced, "plan", id, phases)(df.queryExecution.executedPlan)
        phase(traced, "exec", id, phases)(st.sink(df))
      }
      true
    } catch {
      case e: Exception =>
        failed += 1
        log(s"${op.name} failed: $e")
        false
    } finally if (traced) spark.sparkContext.clearJobGroup()
    val t1 = System.nanoTime()
    if (traced) spans += Span(id, parent, "op", op.name, t0, t1)
    OpRec(op.name, op.items, t0, t1, ok, phases.toSeq)
  }

  private def runPass(index: Int, ops: Seq[Op], traced: Boolean): PassRec = {
    LlmCache.clear()
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(recorder)
    val id = openSpan()
    val llm0 = LlmProbe.snapshot()
    val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
    val recs = ops.map(runOp(_, traced, id))
    val (t1, ms1) = (System.nanoTime(), System.currentTimeMillis())
    val llm1 = LlmProbe.snapshot()
    val entries = LlmCache.size
    if (traced) {
      spans += Span(id, 0L, "pass", s"pass-$index", t0, t1)
      barriers += 1
      val g = Recorder.BarrierPrefix + barriers
      sc.setJobGroup(g, "barrier")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      if (!recorder.awaitBarrier(g, 30000L)) log("listener did not drain")
      sc.removeSparkListener(recorder)
    }
    PassRec(index, traced, id, t0, t1, ms0, ms1, recs, llm0, llm1, entries)
  }

  private def buildSession(): SparkSession = {
    val s = graft.LocalSession.build(Cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(): Unit = {
    // set-up: a session build plus an untimed warm pass, several times;
    // the first is the fresh JVM's
    val setups = (0 until Setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = buildSession()
      val p0 = System.nanoTime()
      if (k == 0) {
        wl.prepare(spark)
        wl.describe.foreach { case (key, v) => log(s"${wl.name} $key = $v") }
      }
      val prepNs = System.nanoTime() - p0
      runPass(-1 - k, wl.pass(-1 - k), traced = false)
      (System.nanoTime() - t0 - prepNs) / 1e9
    }
    log(f"set-up times ${setups.map(s => f"$s%.3f").mkString(" ")}")

    val minPasses = if (trace) 2 else 1
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val start = System.nanoTime()
    while (passes.size < minPasses || System.nanoTime() - start < seconds * 1000000000L)
      passes += runPass(passes.size, wl.pass(passes.size), traced = trace && passes.size % 2 == 0)
    log(s"${passes.size} timed passes, ${passes.map(p => f"${p.wall}%.3f").mkString(" ")} s")

    wl match {
      case q: QueryMix =>
        Files.createDirectories(runDir.resolve("check"))
        runPass(-100, q.checkOps, traced = false)
        q.writeOracles()
      case _ =>
    }
    val (checkErrors, selfTestMissed) = wl.check(spark)
    if (checkErrors.nonEmpty) failed += 1
    checkErrors.foreach(e => log(s"check: $e"))
    selfTestMissed.foreach(e => log(s"self-test: the check missed '$e'"))

    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val metrics: Seq[(String, Double)] =
      if (trace) layerMetrics(passes.toSeq, setups.head)
      else endToEnd(passes.toSeq, setups, heapMb)
    val fields = Seq(
      s""""workload":${Json.str(wl.name)}""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      s""""check_errors":${checkErrors.map(Json.str).mkString("[", ",", "]")}""",
      s""""selftest_missed":${selfTestMissed.map(Json.str).mkString("[", ",", "]")}""",
      s""""describe":${wl.describe.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}""",
      s""""samples":${passes.flatMap(p => p.ops.filter(_.ok).map(o =>
        s"[${p.index},${Json.str(o.name)},${o.wall}]")).mkString("[", ",", "]")}""",
      s""""metrics":${metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")}""")
    if (trace) {
      val jobSpans = recorder.jobs.map(j => Span(openSpan(), j.group.toLongOption.getOrElse(0L), "job",
        s"job-${j.id}", msToNs(j.start), msToNs(j.end)))
      val all = Span(0L, -1L, "workload", wl.name, passes.head.start, passes.last.end) +:
        (spans ++ jobSpans).toSeq
      Files.write(runDir.resolve("spans.jsonl"), all.map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
          s""""start_ns":${s.start - nano0},"end_ns":${s.end - nano0}}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Files.writeString(runDir.resolve("result.json"), fields.mkString("{", ",", "}\n"))
    spark.stop()
  }

  private def endToEnd(passes: Seq[PassRec], setups: Seq[Double],
                       heapMb: Double): Seq[(String, Double)] = {
    val ok = passes.flatMap(_.ops.filter(_.ok))
    Seq(
      "setup_s" -> median(setups),
      "items_per_s" -> median(passes.flatMap { p =>
        val done = p.ops.filter(_.ok)
        if (done.isEmpty) None else Some(done.map(_.items).sum / done.map(_.wall).sum)
      }),
      "op_geomean_s" -> math.exp(ok.groupBy(_.name).values
        .map(os => math.log(median(os.map(_.wall)))).sum / ok.map(_.name).distinct.size),
      "retained_heap_mb" -> heapMb)
  }

  /** Per-layer numbers of one traced pass. Counts and times are per
    * pass; the run reports their median over the traced passes.
    */
  private def passLayers(p: PassRec): Map[String, Double] = {
    val phases = p.ops.flatMap(_.phases)
    val groups = phases.map(_.id.toString).toSet
    val builder = phases.filter(_.phase == "builder")
    val builderGroups = builder.map(_.id.toString).toSet
    val jobs = recorder.jobs.filter(j => groups(j.group))
    val tasks = recorder.tasks.filter(t => groups(t.group))
    // wall time of the pass with no task running, from the union of
    // task intervals clipped to the pass
    val busyMs = tasks.map(t => (math.max(t.launch, p.startMs), math.min(t.finish, p.endMs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - math.max(s, reach), e)
      }._1
    val wallMs = (p.endMs - p.startMs).toDouble
    val calls = (p.llm1.calls - p.llm0.calls).toDouble
    val retries = (p.llm1.retries - p.llm0.retries).toDouble
    val busyS = (p.llm1.busyNs - p.llm0.busyNs) / 1e9
    val rows = p.ops.map(_.items).sum.toDouble
    val prompts = wl.promptsPerPass.toDouble
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> recorder.stages.count(groups).toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.exec_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_wait_s" -> tasks.map(t => t.durationMs - t.runMs).sum / 1e3,
      "spark.no_task_s" -> (wallMs - busyMs) / 1e3,
      "spark.builder_jobs" -> jobs.count(j => builderGroups(j.group)).toDouble,
      "spark.builder_s" -> builder.map(b => b.end - b.start).sum / 1e9,
      "spark.plan_s" -> phases.filter(_.phase == "plan").map(b => b.end - b.start).sum / 1e9,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" -> (0L +: tasks.map(_.peakMem)).max.toDouble,
      "pipeline.prompts" -> prompts,
      "pipeline.llm_calls" -> calls,
      "pipeline.llm_retries" -> retries,
      "pipeline.calls_per_row" -> (if (calls > 0) calls / rows else 0.0),
      "pipeline.cache_hit_ratio" -> (if (prompts > 0) 1 - (calls - retries) / prompts else 0.0),
      "pipeline.cache_entries" -> (if (prompts > 0) p.cacheEntries.toDouble else 0.0),
      "pipeline.inflight_mean" -> (p.llm1.areaNs - p.llm0.areaNs) / (p.end - p.start),
      "pipeline.inflight_max" -> p.llm1.maxInflight.toDouble,
      "pipeline.llm_busy_s" -> busyS,
      "pipeline.idle_s" -> (if (calls > 0) p.wall - busyS else 0.0),
      "sources.bytes_read" -> tasks.map(_.bytesRead).sum.toDouble,
      "sources.bytes_written" -> tasks.map(_.bytesWritten).sum.toDouble,
      "sources.records_written" -> tasks.map(_.recordsWritten).sum.toDouble)
  }

  private def layerMetrics(passes: Seq[PassRec], coldSetup: Double): Seq[(String, Double)] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val perPass = traced.map(passLayers)
    val layers = perPass.head.keys.toSeq.sorted.map(k => k -> median(perPass.map(_(k))))
    val queryOps = if (wl.isInstanceOf[QueryMix]) traced.flatMap(_.ops.filter(_.ok)) else Nil
    val perQuery = QueryMix.Names.flatMap { n =>
      val runs = queryOps.filter(_.name == n)
      val jobs = runs.map { o =>
        val g = o.phases.map(_.id.toString).toSet
        recorder.jobs.count(j => g(j.group)).toDouble
      }
      Seq(s"queries.$n.wall_s" -> median(runs.map(_.wall)), s"queries.$n.jobs" -> median(jobs))
    }
    layers ++ perQuery ++ Seq(
      "queries.p50_s" -> median(queryOps.map(_.wall)),
      "queries.p90_s" -> quantile(queryOps.map(_.wall), 0.9),
      "queries.samples" -> queryOps.size.toDouble,
      "setup.cold_s" -> coldSetup,
      "trace.overhead_ratio" ->
        (median(traced.map(_.wall)) / median(untraced.map(_.wall)) - 1.0))
  }
}
