package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One inspection tool for the registered queries: where a query's time
  * and jobs go, and what its plans look like.
  * {{{
  * sbt "runMain graft.Inspect profile [query...]"
  * sbt "runMain graft.Inspect plan [query...]"
  * sbt "runMain graft.Inspect census [outFile]"
  * }}}
  * No query names means every registered query. Tables come from
  * SPARK_GRAFT_SF_DIR (required; PLANS.md is generated at sf0.01), the
  * session from [[LocalSession]] (SPARK_GRAFT_CPUS, default 4).
  *  - `profile`: after the JVM warm-up, one warm run and then one
  *    measured run of each query to the noop sink. Prints every job and
  *    stage of the measured run (wall, tasks, executor run and CPU
  *    seconds, shuffle read/write), then the wall and job count of its
  *    three phases: `builder` (the query's own code before it returns
  *    its DataFrame: count probes, eager checkpoints, loops), `plan`
  *    (`queryExecution.executedPlan`) and `execute` (the sink write).
  *  - `plan`: runs each query to the noop sink and prints the formatted
  *    plan of the write, whose adaptive part shows the final plan.
  *  - `census`: writes PLANS.md (or `outFile`): per query, the operator
  *    counts of the AQE initial plan of the returned DataFrame.
  */
object Inspect {

  val Phases: Seq[String] = Seq("builder", "plan", "execute")
  /** Unmeasured runs of each query before its measured one. */
  val WarmRuns = 1

  /** One measured run: wall seconds and jobs started per phase, and the
    * number of jobs the listener saw in all.
    */
  final case class Profile(query: String, walls: Map[String, Double], jobs: Map[String, Int], totalJobs: Int)

  def profile(spark: SparkSession, sfDir: String,
              names: Seq[String]): Seq[Profile] = names.flatMap { name =>
    val sc = spark.sparkContext
    val walls = mutable.Map.empty[String, Double]
    // a job's description tags it with the phase it started in
    def phase[T](p: String)(body: => T): T = {
      sc.setJobDescription(s"$name $p")
      val t0 = System.nanoTime()
      try body finally walls(p) = (System.nanoTime() - t0) / 1e9
    }
    def run(): Unit = try {
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(300)
      val df = phase("builder")(SparkEntry.queries(name)(spark, sfDir))
      phase("plan")(df.queryExecution.executedPlan)
      phase("execute")(df.write.format("noop").mode("overwrite").save())
    } finally sc.setJobDescription(null)
    try {
      (1 to WarmRuns).foreach(_ => run())
      val descs = traced(spark)(run())
      val jobs = Phases.map(ph => ph -> descs.count(_ == s"$name $ph")).toMap
      println(s"[inspect] $name: " + Phases.map(ph => f"$ph ${walls(ph)}%.3f s (${jobs(ph)} jobs)")
        .mkString("  ") + s"  total ${descs.size} jobs")
      Some(Profile(name, walls.toMap, jobs, descs.size))
    } catch { case e: Throwable => println(s"[inspect] $name failed: $e"); None }
    finally spark.catalog.clearCache()
  }

  private val Fence = "inspect-fence"
  private def description(j: SparkListenerJobStart): String =
    Option(j.properties).map(_.getProperty("spark.job.description")).orNull

  /** Runs `body` between `attach` and `detach` of a listener, with fence
    * jobs around it so the listener sees exactly the events `body`
    * caused: the shared listener queue delivers in order, so once a
    * fence job's start lands, every earlier event has landed.
    */
  private def listening[T](spark: SparkSession)(attach: => Unit, detach: => Unit)
                          (body: => T): T = {
    val sc = spark.sparkContext
    def fence(): Unit = {
      val seen = new CountDownLatch(1)
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (description(j) == Fence) seen.countDown()
      }
      sc.addSparkListener(l)
      sc.setJobDescription(Fence)
      try {
        sc.parallelize(Seq(1), 1).count()
        require(seen.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      } finally { sc.setJobDescription(null); sc.removeSparkListener(l) }
    }
    fence()
    attach
    try { val out = body; fence(); out } finally detach
  }

  /** Runs `body`, printing each job and stage it ran; returns the
    * description of every job it started.
    */
  private def traced(spark: SparkSession)(body: => Unit): Seq[String] = {
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, String)]
    val stages = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (description(j) != Fence) { jobs(j.jobId) = (j.time, description(j)); stages ++= j.stageIds }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.get(j.jobId).foreach {
        case (t0, desc) => println(f"    job ${j.jobId}%3d ${(j.time - t0) / 1e3}%7.3f s  $desc")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val (info, m) = (s.stageInfo, s.stageInfo.taskMetrics)
        val wall = info.completionTime.zip(info.submissionTime).map(t => (t._1 - t._2) / 1e3)
        if (stages(info.stageId)) println(
          f"      stage ${info.stageId}%3d ${wall.getOrElse(-1.0)}%7.3f s  tasks=${info.numTasks}%-4d " +
          f"exec=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB  ${info.name.takeWhile(_ != '\n').take(90)}")
      }
    }
    val sc = spark.sparkContext
    listening(spark)(sc.addSparkListener(listener), sc.removeSparkListener(listener))(body)
    jobs.values.map(_._2).toSeq
  }

  /** The first query execution that `body` completes and `wanted`
    * accepts (by action name and execution). Query-execution events
    * share the listener queue, so the fences of [[listening]] hold.
    */
  def executed(spark: SparkSession)(wanted: (String, QueryExecution) => Boolean)
              (body: => Any): QueryExecution = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (wanted(action, qe)) seen.add(qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    listening(spark)(spark.listenerManager.register(listener),
      spark.listenerManager.unregister(listener))(body)
    Option(seen.peek()).getOrElse(sys.error("no matching query execution completed"))
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = names.foreach { name =>
    println(s"\n========== $name ==========")
    try println(executed(spark)((_, qe) => qe.logical.isInstanceOf[V2WriteCommand])(
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save())
      .explainString(ExplainMode.fromString("formatted")))
    catch { case e: Throwable => println(s"plan failed: $e") }
    finally spark.catalog.clearCache()
  }

  /** Census column → the operator it counts; `shuf` is hash/range Exchange. */
  val CensusColumns: Seq[(String, String)] = Seq("shuf" -> "Exchange", "bcast" -> "BroadcastExchange",
    "SMJ" -> "SortMergeJoin", "BHJ" -> "BroadcastHashJoin", "BNLJ" -> "BroadcastNestedLoopJoin",
    "hashAgg" -> "HashAggregate", "objAgg" -> "ObjectHashAggregate", "sortAgg" -> "SortAggregate",
    "win" -> "Window", "winLimit" -> "WindowGroupLimit")
  val CensusHeader: String = CensusColumns.map(_._1).mkString("| query | ", " | ", " |")

  /** The operator name on each line of a plan's tree string. */
  def operators(plan: String): Seq[String] = plan.linesIterator
    .map(_.dropWhile(c => !c.isLetter).takeWhile(c => c.isLetter)).filter(_.nonEmpty).toSeq

  /** Per query, its count of each census column's operator, or the name
    * of the error its plan threw.
    */
  def census(spark: SparkSession, sfDir: String,
             queries: Seq[QueryDef]): Seq[(String, Either[String, Seq[Int]])] = queries.map { q =>
    q.name -> (try {
      val ops = operators(q.fn(spark, sfDir).queryExecution.executedPlan.toString)
      Right(CensusColumns.map { case (_, op) => ops.count(_ == op) })
    } catch { case e: Throwable => Left(e.getClass.getSimpleName) }
    finally spark.catalog.clearCache())
  }

  def censusRow(name: String, counts: Either[String, Seq[Int]]): String =
    counts.fold(e => s"| $name | plan failed: $e |", c => s"| $name | ${c.mkString(" | ")} |")

  def censusTable(sfDir: String, rows: Seq[(String, Either[String, Seq[Int]])]): String = (Seq(
    "# PLANS — physical-plan inventory (generated by graft.Inspect census)\n",
    s"Per-query operator census of the AQE initial physical plan at `$sfDir`.",
    "`shuf` = hash/range Exchange, `bcast` = BroadcastExchange, joins and aggregates by",
    "physical strategy. Regenerate with `sbt \"runMain graft.Inspect census\"` and diff",
    "after plan-affecting changes.\n", CensusHeader, "|---" * (CensusColumns.size + 1) + "|") ++
    rows.map { case (n, c) => censusRow(n, c) } :+ (s"| **total (${rows.size} queries)** | " +
      s"${rows.flatMap(_._2.toOption).transpose.map(_.sum).mkString(" | ")} |")).mkString("", "\n", "\n")

  def main(args: Array[String]): Unit = {
    val (mode, rest) = (args.headOption.getOrElse(""), args.toSeq.drop(1))
    require(Set("profile", "plan", "census")(mode),
      "usage: graft.Inspect profile|plan [query...] | census [outFile]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the tables directory"))
    val spark = LocalSession.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (rest.isEmpty) Queries.all.map(_.name) else rest
    try mode match {
      case "profile" => LocalSession.warmUp(spark); profile(spark, sfDir, names)
      case "plan" => plan(spark, sfDir, names)
      case _ =>
        val out = rest.headOption.getOrElse("PLANS.md")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
          censusTable(sfDir, census(spark, sfDir, Queries.all)))
        println(s"[inspect] wrote $out")
    } finally spark.stop()
  }
}
