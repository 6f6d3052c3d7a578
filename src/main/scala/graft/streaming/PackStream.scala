package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions

/** Streaming sequence packer — the online twin of
  * [[graft.ops.Text.packHarmonic]]: documents arrive on a stream and
  * are placed into fixed-capacity context windows by the same
  * harmonic class rule (class k = ⌊capacity/tokens⌋, bins hold
  * exactly k docs), emitting each placement as it happens. The
  * ingest-to-training-shards shape: bins fill incrementally and a
  * bin's id never changes once assigned, so a downstream writer can
  * append docs to shard files as placements stream out.
  *
  * State per (class, shard) group is ONE counter (docs seen) — O(1),
  * no timeout needed, bounded by construction: bin = (rank−1) div k
  * needs only the arrival rank. Within a micro-batch, a group's
  * arrivals order by (md5Long(id), id) — the SAME total order the
  * batch op ranks by, so the layout is batch-boundary-deterministic
  * AND, when the stream delivers docs in hash order overall, the
  * placements are BIT-IDENTICAL to packHarmonic's (PackStreamSpec
  * pins this parity, plus the capacity invariant under arbitrary
  * arrival order and bin continuation across batches).
  */
object PackStream {

  final case class DocIn(doc_id: Long, n_tokens: Long)

  final case class Placement(doc_id: Long, k: Long, shard: Long, bin: Long)

  final case class PackState(seen: Long)

  def packStream(in: Dataset[DocIn], capacity: Int, shards: Int = 1)
      : Dataset[Placement] = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    require(shards >= 1, s"shards must be >= 1: $shards")
    import in.sparkSession.implicits._
    in.filter(d => d.n_tokens > 0 && d.n_tokens <= capacity)
      .map { d =>
        val k = capacity / d.n_tokens
        // same seeded 60-bit hash as the batch op's shard key
        val shard = math.floorMod(
          GraftFunctions.md5Long(s"2:${d.doc_id}"), shards.toLong)
        (k, shard, d.doc_id)
      }
      .groupByKey { case (k, shard, _) => (k, shard) }
      .flatMapGroupsWithState[PackState, Placement](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((k, shard), it, state) =>
          var seen = state.getOption.map(_.seen).getOrElse(0L)
          val out = it.toSeq
            .sortBy { case (_, _, id) =>
              (GraftFunctions.md5Long(id.toString), id) }
            .map { case (_, _, id) =>
              seen += 1
              Placement(id, k, shard, (seen - 1) / k)
            }
          state.update(PackState(seen))
          out.iterator
      }
  }
}
