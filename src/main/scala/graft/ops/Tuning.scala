package graft.ops

import org.apache.spark.sql.SparkSession

/** Shared partition-sizing helpers for the exchanges that feed
  * CPU-dense or output-multiplying stages (guide §2.5): AQE sizes
  * post-shuffle partitions by input BYTES, which under-provisions a
  * stage whose work per input byte is large (quadratic candidate
  * joins, per-candidate verification). The r13 fix pinned those
  * exchanges to the raw session shuffle-partition count; measured in
  * r14 that over-provisions just as badly on small inputs — 32
  * near-empty tasks of a KB-scale frame cost more in per-task
  * scheduling + concurrent-allocation pressure than the work they
  * spread (the PPJoin verify stage burned 264 CPU-s at 32 tasks vs
  * 16 CPU-s at 8 tasks for identical input — SCALING.md "The 32-core >
  * 8-core suite inversion"). Partitions
  * must be derived from the stage's own unit of work, capped by the
  * session knob a cluster operator sizes to the data.
  */
object Tuning {

  /** Conf key: when `true`, every query-path lineage checkpoint uses
    * a RELIABLE checkpoint (written to `SparkContext.setCheckpointDir`
    * storage) instead of `localCheckpoint`. Local checkpoints store
    * blocks only on executors: on a cluster with executor loss,
    * dynamic allocation or preemption the query FAILS UNRECOVERABLY
    * instead of recomputing (VERDICT r13 #2). The local default is
    * right for a single-JVM session — and for any cluster whose jobs
    * are cheap to re-run — but a production deployment at scale sets
    * this to true (plus a checkpoint dir) and pays one durable write
    * per staged frame for a recovery story. Most staged frames are
    * result-sized or distinct-value-sized, but some are corpus-sized:
    * for example dedup_survival_curve stages the whole augmented
    * documents corpus, and semDedup, semDedupCentroidRank and
    * semDedupIncremental stage one `assignCells` row per input
    * embedding. So the durable write per query is bounded by its
    * largest staged input — up to a whole corpus table — not by its
    * output.
    */
  private val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"

  /** `df.stageCheckpoint(eager)` — the one lineage-truncation point
    * for multi-consumer / sort-sampled intermediates in query paths:
    * `localCheckpoint(eager)` by default, a reliable `checkpoint`
    * under [[ReliableCheckpointKey]]. Keeps the duplicate-subtree
    * elimination (both forms replace the plan with a scan of the
    * materialized RDD) while making the fault-tolerance trade an
    * operator choice instead of a hard-coded one.
    */
  implicit class StagedFrame(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def stageCheckpoint(eager: Boolean): org.apache.spark.sql.DataFrame =
      if (df.sparkSession.conf
          .getOption(ReliableCheckpointKey).exists(_.toBoolean))
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }

  /** The session's shuffle-partition count with a safe fallback —
    * `spark.sql.shuffle.partitions` can resolve to a non-numeric
    * value on AQE-vendored platforms ("auto"). One definition for
    * every pin site (the r13 code inlined the conf lookup five
    * times).
    */
  private[graft] def sessionShufflePartitions(spark: SparkSession): Int =
    try spark.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: NumberFormatException => spark.sparkContext.defaultParallelism }

  /** Partition count for an exchange feeding a work-dense stage:
    * `workUnits / unitsPerTask`, clamped to [1, session count]. The
    * caller supplies the stage's real work measure (candidate-probe
    * count, DP cell count, …) computed from already-materialized
    * inputs; at corpus scale the division saturates at the session
    * cap — the cluster-sized knob — so no behavior changes where the
    * data is big, while small inputs get tasks with enough work each
    * to amortize their fixed cost.
    */
  private[graft] def workParts(spark: SparkSession, workUnits: Long,
                               unitsPerTask: Long): Int = {
    require(unitsPerTask > 0, s"unitsPerTask: $unitsPerTask")
    val cap = sessionShufflePartitions(spark).toLong
    math.max(1L, math.min(cap, workUnits / unitsPerTask + 1)).toInt
  }
}
