package graft.ops

import org.apache.spark.sql.SparkSession

/** Partition sizing for the exchanges that feed CPU-dense or
  * output-multiplying stages: AQE sizes post-shuffle partitions by
  * input BYTES, which under-provisions a stage whose work per input
  * byte is large (quadratic candidate joins, per-candidate
  * verification), while the raw session shuffle-partition count
  * over-provisions small inputs — near-empty tasks cost more in
  * scheduling than the work they spread (SCALING.md "The 32-core >
  * 8-core suite inversion"). So a pinned exchange derives its
  * partition count from the stage's own unit of work, capped by the
  * session count a cluster operator sizes to the data.
  */
object Tuning {

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
