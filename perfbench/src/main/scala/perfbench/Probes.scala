package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.pipeline.{ChatMessage, LlmClient, LlmResponse, MockLlmClient}

/** JVM-wide counters of the model stand-in. The client ships to tasks
  * as a serialized copy, so its counters live in this object; under a
  * local master every task runs in this JVM.
  */
object LlmProbe {
  private val calls = new AtomicLong
  private val retries = new AtomicLong
  // in-flight bookkeeping: a time-weighted integral of the in-flight
  // count and the wall time with at least one call in flight
  private var inflight = 0
  private var maxInflight = 0
  private var lastNs = System.nanoTime()
  private var areaNs = 0.0
  private var busyNs = 0L

  private def advance(now: Long): Unit = {
    val dt = now - lastNs
    areaNs += inflight.toDouble * dt
    if (inflight > 0) busyNs += dt
    lastNs = now
  }

  def begin(attempt: Int): Unit = {
    calls.incrementAndGet()
    if (attempt > 0) retries.incrementAndGet()
    synchronized {
      advance(System.nanoTime())
      inflight += 1
      maxInflight = math.max(maxInflight, inflight)
    }
  }

  def end(): Unit = synchronized {
    advance(System.nanoTime())
    inflight -= 1
  }

  final case class Snapshot(calls: Long, retries: Long, areaNs: Double,
                            busyNs: Long, maxInflight: Int)

  /** Reads the counters and restarts the in-flight maximum. */
  def snapshot(): Snapshot = synchronized {
    advance(System.nanoTime())
    val s = Snapshot(calls.get, retries.get, areaNs, busyNs, maxInflight)
    maxInflight = inflight
    s
  }
}

/** The benchmark's model: `MockLlmClient`'s content after a fixed
  * per-call delay, so a pass waits on the model as it would on a
  * served one. The mock stays a pure function of the conversation,
  * which is what lets the output check recompute every result.
  */
final case class DelayedMockClient(delayMs: Long) extends LlmClient {
  private val mock = MockLlmClient()

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    LlmProbe.begin(attempt)
    try {
      Thread.sleep(delayMs)
      mock.complete(msgs, attempt)
    } finally LlmProbe.end()
  }
}

/** One traced interval. `kind` is the layer boundary it sits on:
  * workload, pass, op, phase or job. Times are nanoseconds on the
  * `System.nanoTime` clock.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** Finished task as the listener saw it; times in epoch milliseconds. */
final case class TaskRec(group: String, launch: Long, finish: Long,
                         cpuNs: Long, runMs: Long, durationMs: Long,
                         shuffleWrite: Long, spill: Long, peakMem: Long,
                         bytesRead: Long, bytesWritten: Long,
                         recordsWritten: Long)

final case class JobRec(id: Int, group: String, start: Long, end: Long)

/** Listener the benchmark registers for traced passes. Jobs are
  * attributed to the span named by their job group, which the runner
  * sets to the phase span id before each builder, plan or exec phase.
  */
final class Recorder extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  /** Job group of every completed stage. */
  val stages = mutable.ArrayBuffer.empty[String]
  private val barriers = mutable.Set.empty[String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageIds.foreach(s => stageGroup(s) = g)
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      if (g.startsWith(Recorder.BarrierPrefix)) barriers += g
      else jobs += JobRec(e.jobId, g, t0, e.time)
    }
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += stageGroup.getOrElse(e.stageInfo.stageId, "")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    if (m != null && !g.startsWith(Recorder.BarrierPrefix)) {
      val i = e.taskInfo
      tasks += TaskRec(g, i.launchTime, i.finishTime,
        m.executorCpuTime, m.executorRunTime, i.duration,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
    }
  }

  /** Blocks until the listener has seen the end of the barrier job
    * `g`. Events reach a listener in the order they were posted, so
    * everything before the barrier has been recorded by then.
    */
  def awaitBarrier(g: String, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!barriers.contains(g) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    barriers.contains(g)
  }
}

object Recorder {
  val BarrierPrefix = "perfbench-barrier-"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
