package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions.cmsBucket

/** Streaming Count–Min sketch — the stateful form of the batch
  * `count_min` aggregate (expressions/CountMinSketch.scala), closing
  * the batch↔stream parity set for the sketch family (MinHashStream,
  * HeavyHittersStream, KmvStream, CmsStream).
  *
  * Shape: pre-hashed values (GraftFunctions.hash60, same as batch)
  * partition by hash residue into `groups` disjoint substreams; each
  * group's state is a full depth×width counter array updated per
  * micro-batch by flatMapGroupsWithState — O(groups · d · w) state
  * forever, independent of item cardinality. An item's buckets depend
  * only on its hash (GraftFunctions.cmsBucket — the single shared
  * definition), so the element-wise SUM of the per-group sketches IS
  * the batch sketch over the same rows, bit for bit: merge-then-probe
  * equals the batch aggregate's answer exactly (asserted by
  * CmsStreamSpec), the same exact-merge contract KmvStream documents
  * for bottom-k.
  *
  * Each batch a touched group re-emits its current counters tagged
  * with `version` = rows processed by that group so far (monotone);
  * "current sketch" = max-version row per group, the same read
  * contract as the other sketch streams.
  */
object CmsStream {

  final case class HashIn(h: Long)
  final case class SketchRow(grp: Int, version: Long, counters: Seq[Long])

  /** Per-group state (public for the state-store encoder). */
  final case class GroupCms(seen: Long, counters: Seq[Long])

  def cmsStream(in: Dataset[HashIn], depth: Int, width: Int,
                groups: Int = 8): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad geometry: $depth x $width")
    require(groups >= 1, s"groups must be >= 1: $groups")
    import in.sparkSession.implicits._
    in.groupByKey(x => math.floorMod(x.h, groups.toLong).toInt)
      .flatMapGroupsWithState[GroupCms, SketchRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (grp: Int, rows: Iterator[HashIn], state) =>
          val prev = state.getOption
            .getOrElse(GroupCms(0L, Vector.fill(depth * width)(0L)))
          val arr = prev.counters.toArray
          var n = prev.seen
          rows.foreach { r =>
            n += 1
            var j = 0
            while (j < depth) {
              arr(j * width + cmsBucket(r.h, j, width)) += 1L
              j += 1
            }
          }
          val upd = GroupCms(n, arr.toVector)
          state.update(upd)
          Iterator(SketchRow(grp, n, upd.counters))
      }.toDF()
  }

  /** Element-wise merge of per-group sketches — equals the batch
    * count_min over the union of their inputs exactly.
    */
  def merge(sketches: Seq[Seq[Long]]): Array[Long] = {
    require(sketches.nonEmpty, "nothing to merge")
    val out = new Array[Long](sketches.head.length)
    sketches.foreach { s =>
      require(s.length == out.length, "geometry mismatch")
      var i = 0
      while (i < out.length) { out(i) += s(i); i += 1 }
    }
    out
  }

  /** Point estimate — identical arithmetic to countMinEstimate. */
  def estimate(counters: Array[Long], h: Long, depth: Int, width: Int): Long =
    (0 until depth)
      .map(j => counters(j * width + cmsBucket(h, j, width)))
      .min
}
