package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** ST1 strict parity — true streaming MinHash-LSH dedup (reference
  * apps/etl/etl_slimpajama_dc_proc.py:119-166: the sequential corpus
  * pass that queries the LSH index per doc and inserts as it goes,
  * first-seen-wins).
  *
  * Streaming shape: per-row signature → explode to band buckets →
  * flatMapGroupsWithState keyed by bucket (state = the bucket is
  * claimed) emitting a per-(bucket, doc) verdict → per-doc bool-or
  * aggregation (flatMapGroupsWithState in Append mode may be followed
  * by an aggregation). State per bucket is O(1) — a presence flag —
  * so state-store size is O(distinct buckets), the streaming analogue
  * of the batch signature table.
  *
  * Ordering semantics: within a micro-batch a bucket's verdicts use
  * lowest-doc-id-wins (identical to ops.Similarity.lshDroppedIds when
  * everything arrives in one batch — SimilaritySpec asserts this);
  * across batches the earlier batch's claim wins regardless of id,
  * which is exactly the reference's arrival-order rule.
  */
object MinHashStream {

  final case class DocIn(doc_id: Long, text: String)
  final case class BucketHit(bucket: Long, doc_id: Long)
  final case class DocVerdict(doc_id: Long, dropped: Boolean)

  /** Per-doc verdicts over the stream: one row per doc with
    * dropped=true iff some band bucket was already claimed by an
    * earlier doc. Query it with OutputMode.Complete/Update (an
    * unwindowed aggregation); survivors are `dropped = false`.
    *
    * State lifecycle: a bucket claim is a one-bit flag, so the state
    * store grows with DISTINCT buckets seen — the same unbounded
    * contract as the reference's in-memory index (its index also
    * never evicts). For long-running streams pass `stateTtl`: claims
    * then expire `stateTtl` of processing time after their last hit
    * (GroupStateTimeout.ProcessingTimeTimeout — the timeout resets
    * every time the bucket is re-touched, so hot buckets never
    * expire). An expired claim means a later duplicate of a
    * long-silent document is treated as first-seen — the standard
    * bounded-memory dedup window trade. For exact unbounded dedup at
    * scale, compact instead: periodically snapshot survivors'
    * signatures to a table and seed a fresh stream via the batch
    * `minhashDedupIncremental` path.
    */
  def minhashDedupStream(docs: Dataset[DocIn],
                         numPerms: Int = 64, shingleN: Int = 5,
                         bands: Int = 16, rows: Int = 4,
                         stateTtl: Option[java.time.Duration] = None): DataFrame = {
    import docs.sparkSession.implicits._
    // capture the session hash mode on the driver at plan build, like
    // the batch operators do — stream and batch signatures must share
    // a hash family or cross-seam dedup (snapshot -> incremental)
    // would silently never collide
    val xx = graft.functions.GraftFunctions.hashModeIsXx
    val hits = docs.flatMap { d =>
      MinHashLocal.signature(d.text, numPerms, shingleN, xx) match {
        case Some(sig) =>
          MinHashLocal.buckets(sig, bands, rows)
            .map { case (band, bv) => BucketHit(bv * bands + band, d.doc_id) }
        case None =>
          // no signature (too few words): a private bucket no other doc
          // can share, so the doc always survives — mirrors the batch
          // rule where signature-less docs are never dropped
          Seq(BucketHit(-1L - d.doc_id, d.doc_id))
      }
    }
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val verdicts = hits
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Boolean, DocVerdict](
        OutputMode.Append(), timeoutConf) {
        (_: Long, it: Iterator[BucketHit], state) =>
          if (state.hasTimedOut) {
            // claim expired with no new hits: drop it so the store
            // stays O(buckets-active-within-ttl)
            state.remove()
            Iterator.empty
          } else {
            val ids = it.map(_.doc_id).toSeq.distinct.sorted
            val out =
              if (state.exists) ids.map(DocVerdict(_, dropped = true))
              else DocVerdict(ids.head, dropped = false) +:
                ids.tail.map(DocVerdict(_, dropped = true))
            state.update(true)
            stateTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.iterator
          }
      }
    verdicts.groupBy(col("doc_id"))
      .agg(max(col("dropped")).as("dropped"))
  }
}

/** Plain-JVM mirror of the ops.Similarity column math, for per-row
  * evaluation inside streams (a row's signature depends only on its
  * own text, so no aggregation is needed there). Bit-identical to the
  * expression pipeline — SimilaritySpec asserts signature parity
  * against minhashSignatures.
  */
object MinHashLocal {

  val MersennePrime31: Long = 2147483647L // 2^31 - 1
  val Base30Mod: Long = 1073741824L       // 2^30

  private val md5Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 15 hex digits of md5, parsed base 16 — GraftFunctions.md5Long. */
  def md5Long(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    // 15 hex digits = 7.5 bytes: take 8 bytes, drop the low nibble
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** xxhash64(seed 42, Spark's xxhash64 function) folded to 60 bits —
    * the JVM twin of GraftFunctions.hash60's xxhash64 branch
    * (shiftrightunsigned(xxhash64(c), 4)). Hashes the same UTF-8
    * bytes Spark's XxHash64 sees for a string column.
    */
  def xxHash60(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L) >>> 4
  }

  /** Mode-selected 60-bit hash (GraftFunctions.hash60's JVM twin). */
  def hash60(s: String, xx: Boolean): Long =
    if (xx) xxHash60(s) else md5Long(s)

  /** Distinct word n-grams; split with limit -1 like Spark's split. */
  def wordShingles(text: String, n: Int): Seq[String] = {
    val w = text.split(" ", -1)
    if (w.length < n) Nil
    else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).distinct
  }

  /** md5Long of each distinct shingle (hash per distinct STRING — the
    * array may contain equal longs if two shingles collide, exactly
    * like hashing the exploded distinct strings in SQL).
    */
  def shingleHashes(text: String, n: Int, xx: Boolean = false): Array[Long] =
    wordShingles(text, n).iterator.map(hash60(_, xx)).toArray

  /** Positional (non-distinct) variant: one hash per shingle
    * occurrence, in document order.
    */
  def shingleHashesAll(text: String, n: Int, xx: Boolean = false): Array[Long] = {
    val w = text.split(" ", -1)
    if (w.length < n) Array.emptyLongArray
    else (0 to w.length - n).iterator
      .map(i => hash60(w.slice(i, i + n).mkString(" "), xx)).toArray
  }

  /** MinHash signature; None when the doc has too few words. */
  def signature(text: String, numPerms: Int, shingleN: Int,
                xx: Boolean = false): Option[Array[Long]] = {
    val shingles = wordShingles(text, shingleN)
    if (shingles.isEmpty) None
    else {
      val sig = Array.fill(numPerms)(Long.MaxValue)
      shingles.foreach { s =>
        val base = hash60(s, xx) % Base30Mod
        var i = 0
        while (i < numPerms) {
          val h = (base * (2L * i + 1) + (7919L * i + 12345L)) % MersennePrime31
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      Some(sig)
    }
  }

  /** (band, bandValue) keys — Similarity.bandValue's base-31 fold,
    * under the same Long-range bound (the JVM loop would wrap silently).
    */
  def buckets(sig: Array[Long], bands: Int, rows: Int): Seq[(Int, Long)] = {
    require(rows <= graft.ops.Similarity.MaxBandRows,
      s"LSH band of $rows rows overflows a Long; " +
        s"max ${graft.ops.Similarity.MaxBandRows}")
    (0 until bands).map { j =>
      var bv = 0L
      var r = 0
      while (r < rows) { bv = bv * 31L + sig(j * rows + r); r += 1 }
      (j, bv)
    }
  }
}
