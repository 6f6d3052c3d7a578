package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.storage.StorageLevel

/** Staging: the one place a frame is cut from its lineage, cached or
  * handed to its owner, and the loop scaffold built on those rules —
  * [[Graph]]'s PageRank, k-core peel, label propagation and BFS, and
  * [[Similarity.connectedComponents]] / [[Similarity.kmeansFit]]. A
  * staged frame needs three decisions; the call shape picks each:
  *
  *  - How to cut. `df.stageCheckpoint(eager)` ([[StagedFrame]]) is a
  *    checkpoint: the plan becomes a scan of stored rows. It is local
  *    by default and reliable (written to the session's checkpoint
  *    dir) under [[ReliableCheckpointKey]]. [[root]], [[cached]] and
  *    [[handOff]] cut with a root: the rows of the executed plan behind
  *    a flat leaf, the node Spark's own checkpoint builds, which keeps
  *    the frame's output partitioning and ordering, so a join keyed
  *    the same way as a root adds no exchange on its side. A root
  *    keeps its RDD lineage: a lost block is recomputed from it, which
  *    is why a loop survives executor loss without a reliable
  *    checkpoint, and why the key does not apply to roots.
  *  - Whether to materialize now. `stageCheckpoint(true)` and
  *    [[handOff]] run a job at once; `stageCheckpoint(false)` and
  *    [[cached]] are filled by the first job that reads them. A root
  *    adds no action: with adaptive execution on, building it runs the
  *    rooted plan's shuffle stages, and its last stage runs inside
  *    whichever action reads it.
  *  - Who frees the frame. A checkpoint has no owner: its blocks go
  *    when the frame is garbage-collected, so query paths, which hand
  *    their frames to callers that never unpersist, use it. A
  *    [[cached]] frame (a root persisted MEMORY_AND_DISK) belongs to
  *    the operator that made it, which unpersists it only after the
  *    job that reads it has run — an early unpersist recomputes the
  *    chain — so peak storage is one chunk of rounds, not the whole
  *    history. [[handOff]] returns a materialized cache the caller
  *    owns and frees everything else the operator cached.
  *
  * Loops re-root every round ([[rounds]], [[untilStable]]): a plan
  * that references its previous round grows every round until
  * analysis itself hangs.
  */
object Stage {

  /** Conf key: when `true`, [[StagedFrame.stageCheckpoint]] writes a
    * RELIABLE checkpoint (to `SparkContext.setCheckpointDir` storage)
    * instead of a local one. Local checkpoints store blocks only on
    * executors: on a cluster with executor loss, dynamic allocation or
    * preemption the query FAILS UNRECOVERABLY instead of recomputing.
    * The local default is right for a single-JVM session — and for any
    * cluster whose jobs are cheap to re-run — but a production
    * deployment at scale sets this to true (plus a checkpoint dir) and
    * pays one durable write per staged frame for a recovery story.
    * Most staged frames are result-sized or distinct-value-sized, but
    * some are corpus-sized: for example dedup_survival_curve stages the
    * whole augmented documents corpus, and semDedup,
    * semDedupCentroidRank and semDedupIncremental stage one
    * `assignCells` row per input embedding. So the durable write per
    * query is bounded by its largest staged input — up to a whole
    * corpus table — not by its output.
    */
  private val ReliableCheckpointKey = "spark.graft.reliableCheckpoint"

  /** `df.stageCheckpoint(eager)` — the owner-less cut for
    * multi-consumer or sort-sampled intermediates in query paths:
    * `localCheckpoint(eager)` by default, a reliable `checkpoint` under
    * [[ReliableCheckpointKey]]. Both forms replace the plan with a scan
    * of the materialized RDD, so a subtree read twice runs once.
    */
  implicit class StagedFrame(private val df: DataFrame) extends AnyVal {
    def stageCheckpoint(eager: Boolean): DataFrame =
      if (df.sparkSession.conf
          .getOption(ReliableCheckpointKey).exists(_.toBoolean))
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
  }

  /** `df` re-rooted on its executed rows: the same rows, partitioning
    * and ordering behind a flat plan.
    */
  def root(df: DataFrame): DataFrame = GraftPlanBridge.root(df)

  /** [[root]] persisted MEMORY_AND_DISK; filled by its first reader. */
  def cached(df: DataFrame): DataFrame =
    root(df).persist(StorageLevel.MEMORY_AND_DISK)

  /** Persists and materializes `df` as the caller-owned result, then
    * unpersists `free` (the operator's own caches it no longer needs).
    */
  def handOff(df: DataFrame, free: DataFrame*): DataFrame = {
    val out = cached(df)
    out.count()
    free.foreach(_.unpersist())
    out
  }

  /** Fixed-rounds form: `n` rounds of `step` from `init`, each round
    * reading a root of the one before. Adds no action: the last round
    * is returned uncut for the caller to finish and [[handOff]], whose
    * count is the chain's one action.
    */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    step((1 until n).foldLeft(root(init))((cur, _) => root(step(cur))))

  /** One round of [[untilStable]]: its 1-based index over the whole
    * loop, and a cache for frames the round reads twice, freed at the
    * chunk boundary.
    */
  final class Round private[Stage] (val index: Int,
                                    chunk: ArrayBuffer[DataFrame]) {
    def cache(df: DataFrame): DataFrame = {
      val c = cached(df)
      chunk += c
      c
    }
  }

  /** The last boundary of an [[untilStable]] loop: persisted and
    * materialized (caller-owned), its probe value, the rounds run, and
    * whether the stability test fired.
    */
  final case class Stable[T](frame: DataFrame, value: T, rounds: Int,
                             stable: Boolean)

  /** A stability test that never fires: [[untilStable]] then runs
    * exactly `maxRounds` rounds, materializing each chunk.
    */
  def never[T]: (Option[T], T) => Boolean = (_, _) => false

  /** Until-stable form: rounds of `step` in chunks of `checkEvery`, up
    * to `maxRounds`, stopping at the first chunk boundary where
    * `stable(previous probe value, this one)` holds. The initial test
    * is `stable(None, start)` when a `start` value for `init` is known.
    *
    * Each boundary is [[cached]], and `probe` is the ONE action per
    * chunk: it reads the boundary, so it materializes every round of
    * the chunk and returns the test's value from that same action. The
    * chunk's other caches and the previous boundary (`init` first —
    * pass it persisted; the loop owns it) are freed once the probe has
    * run.
    *
    * Lazy rounds (default) read a root of the round before, the chunk's
    * boundary included, so a chunk evaluates as one chain. With
    * `cacheRounds` every round is cached and read directly — for rounds
    * with two consumers; superseded rounds free at the boundary.
    */
  def untilStable[T](init: DataFrame, maxRounds: Int, checkEvery: Int,
                     cacheRounds: Boolean = false)(probe: DataFrame => T)(
                     stable: (Option[T], T) => Boolean,
                     start: Option[T] = None)(
                     step: (DataFrame, Round) => DataFrame): Stable[T] = {
    require(checkEvery >= 1, s"checkEvery must be >= 1: $checkEvery")
    require(start.nonEmpty || maxRounds >= 1,
      s"no start value and no rounds to probe: maxRounds=$maxRounds")
    var frame = init
    var value = start
    var isStable = start.exists(stable(None, _))
    var done = 0
    while (!isStable && done < maxRounds) {
      val n = math.min(checkEvery, maxRounds - done)
      val chunk = ArrayBuffer.empty[DataFrame]
      var cur = frame
      for (i <- 1 to n) {
        val round = new Round(done + i, chunk)
        val next = step(if (cacheRounds) cur else root(cur), round)
        cur = if (i == n) cached(next) else if (cacheRounds) round.cache(next)
          else next
      }
      val v = probe(cur)
      chunk.foreach(_.unpersist())
      frame.unpersist()
      isStable = stable(value, v)
      value = Some(v)
      frame = cur
      done += n
    }
    Stable(frame, value.get, done, isStable)
  }
}
