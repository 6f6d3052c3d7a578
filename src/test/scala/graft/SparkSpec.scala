package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  val sfDir = "/root/testdata/sf0.001"

  /** `t` and its chain of causes, outermost first. */
  def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  /** `df` unioned `k` times, copy i with each of `idCols` shifted by
    * i·10⁷: every row sits in a k-way identical cluster under distinct
    * ids, the N-way-duplication corpus the scaling pins run at ×1 and ×k.
    */
  def duplicated(df: DataFrame, k: Int, idCols: String*): DataFrame =
    (0 until k).map(i => df.select(df.columns.toIndexedSeq.map(c =>
        if (idCols.contains(c)) (col(c) + lit(i * 10000000L)).as(c) else col(c)): _*))
      .reduce(_ union _)

  /** Every physical operator that ran when `df` was written to the noop
    * sink, through adaptive and query-stage wrappers, in pre-order. Their
    * SQL metrics hold the run's counts (`numOutputRows`,
    * `shuffleRecordsWritten`, `dataSize`, ...).
    */
  def executedOps(df: DataFrame): Seq[SparkPlan] = {
    val qe = Inspect.executions(spark)((_, qe) => qe.logical.isInstanceOf[V2WriteCommand])(
      df.write.format("noop").mode("overwrite").save()).head
    SparkSpec.Aqe.collectWithSubqueries(qe.executedPlan) { case p => p }
  }

  /** The first operator at or below `p` (through query stages) that
    * `pf` accepts.
    */
  def below[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Option[T] =
    SparkSpec.Aqe.collectFirst(p)(pf)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private object Aqe extends AdaptiveSparkPlanHelper
}
