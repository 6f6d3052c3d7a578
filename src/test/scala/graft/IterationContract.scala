package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The hand-off contract of the iterative operators (ops.Iterate): the
  * returned frame is the only cache an operator leaves behind, and the
  * number of Spark jobs one call starts stays under a pinned ceiling.
  */
trait IterationContract { self: SparkSpec =>

  private val Open = "iteration-contract-open"
  private val Close = "iteration-contract-close"

  /** `op`'s result and the number of Spark jobs it started. */
  def jobsStarted[A](op: => A): (A, Int) = {
    val sc = spark.sparkContext
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val jobs = new AtomicInteger
    // listener events arrive in job-submission order, so jobs seen
    // between the two fence jobs are exactly the ones `op` started
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case Open => opened.countDown()
          case Close => closed.countDown()
          case _ =>
            if (opened.getCount == 0 && closed.getCount == 1)
              jobs.incrementAndGet()
        }
    }
    def fence(tag: String, seen: CountDownLatch): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), s"listener never saw $tag")
    }
    sc.addSparkListener(listener)
    try {
      fence(Open, opened)
      val out = op
      fence(Close, closed)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `op`, checks that the only persistent RDD it leaves is the
    * returned frame's cache (then unpersists it), and that it started
    * at most `maxJobs` Spark jobs. AQE submits query stages as their
    * inputs finish, so an operator with many stages can start a few
    * more or fewer jobs on identical runs; an over-ceiling count is
    * re-measured up to `tries` times and the fewest is checked.
    * Returns that count.
    */
  def iterationContract(maxJobs: Int, tries: Int = 3)
                       (op: => DataFrame): Int = {
    val sc = spark.sparkContext
    def once(): Int = {
      val before = sc.getPersistentRDDs.keySet
      val (out, jobs) = jobsStarted(op)
      val held = sc.getPersistentRDDs.keySet -- before
      assert(held.size == 1, s"expected only the returned frame's cache: $held")
      out.unpersist(blocking = true)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"operator caches left behind: $leaked")
      jobs
    }
    var jobs = once()
    for (_ <- 2 to tries if jobs > maxJobs) jobs = math.min(jobs, once())
    assert(jobs <= maxJobs, s"$jobs jobs > ceiling $maxJobs")
    jobs
  }
}
