package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The loop scaffold shared by the iterative operators — [[Graph]]'s
  * PageRank, k-core peel, label propagation and BFS, and
  * [[Similarity.connectedComponents]] / [[Similarity.kmeansFit]]. Three
  * rules live here and nowhere else:
  *
  *  - Cut. A plan that references its previous round grows every round
  *    until analysis itself hangs, so rounds are re-rooted on their RDD
  *    ([[root]]). A root adds no action: with adaptive execution on,
  *    building it runs the rooted plan's shuffle stages, and its last
  *    stage runs inside whichever action reads it. Unlike
  *    localCheckpoint, a root is a normal Dataset: a cached round frees
  *    its blocks the moment it is unpersisted, not at a later GC.
  *  - Cache. A frame read more than once is a persisted root
  *    ([[cached]], MEMORY_AND_DISK), filled by the first job that reads
  *    it. Superseded frames are unpersisted only after the job that
  *    reads them has run — an early unpersist recomputes the chain —
  *    so peak storage is one chunk of rounds, not the whole history.
  *  - Hand-off. An operator returns a persisted, materialized frame
  *    and frees everything else it cached ([[handOff]]); the caller
  *    owns the returned frame's `.unpersist()`.
  */
object Iterate {

  /** `df` re-rooted on its RDD: the same rows behind a flat plan. */
  def root(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

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
  final class Round private[Iterate] (val index: Int,
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
