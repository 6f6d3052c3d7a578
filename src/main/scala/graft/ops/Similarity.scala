package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.Tuning.StagedFrame

/** One (node, cluster=min component id) row of a bucket-local CC —
  * top-level so the UDF return type has a stable encoder.
  */
private[graft] case class BucketNodeCluster(node: Long, cluster: Long)

/** Near-duplicate detection and similarity primitives for corpus-scale
  * dedup: word shingles, MinHash signatures with LSH banding, SimHash.
  *
  * Reference semantics: apps/etl/etl_slimpajama_dc_proc.py:41-113 —
  * char 7-gram MinHash (num_perm=128) with LSH threshold 0.6, probed
  * sequentially first-seen-wins. The Spark re-design replaces the
  * sequential in-memory index with the standard distributed shape:
  * shingle → signature (map-side partial min-aggregation, one shuffle
  * by doc) → band explode → per-bucket min-id window → anti-join
  * survivors (pair joins exist only where pairs are the output).
  * "First seen" becomes "lowest doc_id": a total order that is stable
  * at any parallelism, unlike file order. (Deviation from the
  * reference: a doc that only matches an already-dropped doc is also
  * dropped here; the reference's sequential index would keep it. The
  * declarative rule is deterministic and scale-stable — see SURVEY
  * §7.4 on invariant-level parity.)
  *
  * Why not ml.feature.MinHashLSH (SURVEY §7.1.4 considered it): the
  * MLlib estimator requires CountVectorizer→Vector UDT conversion
  * (leaves codegen, materializes a vocabulary model), its hash family
  * is not reproducible in ANSI SQL (no oracle), and
  * approxSimilarityJoin hides the banding — the expression/aggregate
  * formulation here stays in whole-stage codegen end-to-end, needs no
  * fitted model, and is verified bit-for-bit against DuckDB.
  *
  * Hashing: one 60-bit md5 base hash per shingle, folded to 30 bits,
  * then a universal-hash family h_i(x) = ((2i+1)·x + 7919i + 12345)
  * mod (2^31-1) generates the "permutations" — the same construction
  * datasketch uses (one strong base hash + affine family), chosen here
  * because every step is exact 64-bit integer arithmetic reproducible
  * in ANSI SQL (no float, no overflow: (2^31)·(2^30) < 2^62).
  */
object Similarity {

  val MersennePrime31 = 2147483647L // 2^31 - 1
  val Base30Mod = 1073741824L       // 2^30

  /** Distinct word n-gram shingles of a text column (space-joined).
    * Documents with fewer than n words yield no shingles.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n,
      array_distinct(transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** F10 — character n-gram shingles after punctuation strip (the
    * reference's CharNGramExtractor uses char 7-grams,
    * etl_slimpajama_dc_proc.py:41-55). Word shingles (above) are the
    * default here — fewer, more discriminative at corpus scale — but
    * char shingles reproduce the reference's exact featurization.
    */
  val PunctStripPattern = """[\p{Punct}]"""

  def charShingles(text: Column, n: Int): Column = {
    // substr directly on the string: a char-array split + slice
    // formulation allocates length² bytes per row and measured ~16×
    // slower at bench
    val t = regexp_replace(text, PunctStripPattern, "")
    when(length(t) >= n,
      array_distinct(transform(
        sequence(lit(1), length(t) - (n - 1)),
        i => t.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** 30-bit base hash of a shingle (mode-selected 60-bit hash folded
    * to 30 bits — md5-derived and engine-portable by default,
    * xxhash64 under spark.graft.hashMode=xxhash64).
    */
  def base30(s: Column): Column = pmod(hash60(s), lit(Base30Mod))

  /** i-th member of the affine universal hash family over a 30-bit
    * base hash. All values < 2^31-1.
    */
  def minhashPerm(i: Int, base: Column): Column =
    pmod(base * lit(2L * i + 1) + lit(7919L * i + 12345L), lit(MersennePrime31))

  /** MinHash signature as one column per permutation, computed by the
    * native one-pass expression (expressions.WordShingleMinHash): the
    * whole signature is a scan-time projection — no explode, no
    * aggregation, NO SHUFFLE. Measured 4.5× faster than the
    * explode+min-agg formulation at sf0.1 (0.5 s vs 2.4 s), and at
    * 100 TB it removes the signature pipeline's only exchange.
    *
    * The 64-column unpack after the array projection is safe:
    * Spark ≥3.3's CollapseProject refuses to duplicate non-cheap
    * producer expressions, so the signature is evaluated once per row
    * (a naive per-row formulation of 64 array_min(transform(...))
    * lambda columns was measured 50× slower because lambda expressions
    * are excluded from subexpression elimination — see
    * minhashSignaturesExploded for the prior shape). The short-doc
    * filter uses the cheap word-count predicate BELOW the projection:
    * filtering on the signature's own nullness would let predicate
    * pushdown clone the expensive expression into the Filter and
    * evaluate it twice per row (caught by explain during review).
    *
    * Input: (idCol, textCol). Output: idCol, m0..m{numPerms-1}.
    * Docs with fewer than `shingleN` words are dropped (no signature).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numPerms: Int, shingleN: Int): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val sig = column(graft.expressions.WordShingleMinHash(
      expression(col(textCol)), numPerms, shingleN, hashModeIsXx))
    df.where(size(split(col(textCol), " ")) >= shingleN)
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +:
        (0 until numPerms).map(i => element_at(col("__sig"), i + 1).as(s"m$i")): _*)
  }

  /** The distributed-aggregation formulation of minhashSignatures —
    * explode shingles, map-side partial min-aggregation, one shuffle of
    * numPerms longs per doc. Retained as the shape for engines without
    * the native expression and as the independent in-engine
    * cross-check (SimilaritySpec asserts bit-parity with the one-pass
    * expression; the DuckDB oracles independently recompute this exact
    * arithmetic in SQL).
    */
  def minhashSignaturesExploded(df: DataFrame, idCol: String, textCol: String,
                                numPerms: Int, shingleN: Int): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(wordShingles(col(textCol), shingleN)).as("__sh"))
      .select(col(idCol), base30(col("__sh")).as("__b"))
    val aggs = (0 until numPerms).map(i => min(minhashPerm(i, col("__b"))).as(s"m$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Most signature components one LSH band may fold into a Long.
    * Components are < 2^31 − 1, so a base-31 fold of r of them is
    * < 2^31 · (31^r − 1)/30: about 2^61 at r = 7, past 2^63 at r = 8.
    */
  val MaxBandRows = 7

  /** LSH band value: fold `rows` consecutive signature components with
    * a base-31 polynomial — exact in a Long for rows ≤ [[MaxBandRows]],
    * checked here (at plan construction, before any job runs).
    */
  def bandValue(sigCols: Seq[Column]): Column = {
    require(sigCols.size <= MaxBandRows,
      s"LSH band of ${sigCols.size} rows overflows a Long; max $MaxBandRows")
    sigCols.reduce((a, b) => a * lit(31L) + b)
  }

  /** Exploded (id, band, bv) bucket assignments of a signature frame.
    * One row per (doc, band); docs are unique within a bucket.
    */
  private def bandBuckets(sig: DataFrame, idCol: String,
                          bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        bandValue((0 until rows).map(r => col(s"m${j * rows + r}"))).as("bv"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bv").as("bv"))
  }

  /** All ordered (id_a < id_b) pairs from a sorted id array (shared by
    * the group-then-pair inverted-index operators).
    */
  private[graft] def orderedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Capped per-bucket id sets, the hot-bucket-safe core of every
    * group-then-pair generator. Result-identical to
    * `collect_set → filter(size BETWEEN 2 AND cap)` — over-cap buckets
    * are dropped either way — but an adversarial hot bucket (a
    * boilerplate shingle shared by 100M docs, an empty-text length
    * band) never materializes its id set in one aggregation buffer.
    * Two interchangeable strategies, chosen per call site by what was
    * measured (SCALING.md "hot-bucket prefilter"):
    *
    *  - `twoPass = false` (default): ONE pass through `df` with the
    *    size-capped native aggregate [[graft.functions.GraftFunctions
    *    .collectSetCapped]] — worst-case O(cap) state per bucket (a
    *    hot bucket collapses to an overflow flag), one shuffle, no
    *    lineage re-evaluation. The right choice when `df`'s lineage
    *    is expensive (e.g. 64-permutation MinHash signatures).
    *  - `twoPass = true`: (1) count rows per bucket — O(1) state,
    *    (2) left-semi join to buckets with count in [2, cap],
    *    (3) collect_set only on survivors. Costs a second evaluation
    *    of `df`'s lineage + an extra shuffle, but prunes hot buckets'
    *    rows BEFORE the set shuffle — measured faster when hot
    *    buckets carry a large share of the rows and the lineage is
    *    cheap (the shingle inverted indexes on a duplication-stressed
    *    corpus).
    *
    * REQUIRES (keyCols..., idCol) rows to be distinct — every call
    * site here satisfies this by construction (one row per doc per
    * band / distinct shingle hashes per doc / distinct chunk hashes
    * per doc), so count(*) equals the would-be set size exactly, and
    * idCol to be LongType (the native aggregate's contract).
    * Output: keyCols ++ ascending-sorted distinct idCol array AS
    * outCol, only for buckets with 2..cap ids.
    */
  private[graft] def cappedIdSets(df: DataFrame, keyCols: Seq[String],
                                  idCol: String, cap: Int,
                                  outCol: String,
                                  twoPass: Boolean = false): DataFrame =
    if (twoPass) {
      val ok = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__cnt"))
        .where(col("__cnt").between(2, cap))
        .select(keyCols.map(col): _*)
      df.join(ok, keyCols, "left_semi")
        .groupBy(keyCols.map(col): _*)
        .agg(sort_array(collect_set(col(idCol))).as(outCol))
    } else {
      df.groupBy(keyCols.map(col): _*)
        .agg(collectSetCapped(col(idCol), cap).as(outCol))
        .where(col(outCol).isNotNull && size(col(outCol)) >= 2)
    }

  /** Ids dropped by first-(lowest-id)-wins LSH dedup: every doc whose
    * id exceeds the minimum id of any band bucket it occupies.
    *
    * This is the dedup-only shortcut past candidate-pair generation:
    * "shares a bucket with a lower id" ⟺ "id > min(id) of some
    * bucket", so one shuffle on (band, bv) plus a linear min-window
    * replaces the bucket self-join — a hot bucket (giant duplicate
    * cluster) costs O(k) here instead of the O(k²) pairs it would
    * produce in lshCandidatePairs. At 100 TB this is the difference
    * between a skew-proof plan and a quadratic hot-bucket stall.
    */
  def lshDroppedIds(sig: DataFrame, idCol: String,
                    bands: Int, rows: Int): DataFrame =
    bandBuckets(sig, idCol, bands, rows)
      .withColumn("__mn", min(col(idCol)).over(Window.partitionBy("band", "bv")))
      .where(col(idCol) > col("__mn"))
      .select(col(idCol)).distinct()

  /** First-seen-wins canonical attribution for the LSH dedup pass:
    * (id, canon_id) where canon_id = the minimum id over every band
    * bucket the doc lands in (= itself for survivors). canon_id < id
    * iff lshDroppedIds would drop the doc, and it names the doc the
    * drop is attributed to — the input for per-source impact
    * accounting. Bucket-level attribution, not transitive closure
    * (use connectedComponents for cluster identity). Cost is linear
    * in bucket size: one (band, bv) window + one id-keyed groupBy.
    */
  def lshCanonicalIds(sig: DataFrame, idCol: String,
                      bands: Int, rows: Int): DataFrame =
    bandBuckets(sig, idCol, bands, rows)
      .withColumn("__mn", min(col(idCol)).over(Window.partitionBy("band", "bv")))
      .groupBy(col(idCol))
      .agg(min(col("__mn")).as("canon_id"))

  /** Candidate near-duplicate pairs via LSH banding: docs sharing any
    * band bucket. Returns distinct (id_a, id_b) with id_a < id_b.
    * bands × rows must equal numPerms of the signature frame.
    *
    * Pairs are generated per bucket group (collect ids, explode
    * ordered pairs) rather than by a bucket self-join: no second
    * evaluation of the signature pipeline, no broadcast of an exploded
    * frame (Spark's size estimate of a post-explode side comes from
    * the tiny pre-explode source and picks a pathological
    * BroadcastHashJoin — measured 13.5 s vs 2 s at sf0.1).
    * `maxBucketSize` drops buckets above the cap — the quadratic-skew
    * guard for pair *output*; dedup itself should use lshDroppedIds,
    * which needs no cap (linear in bucket size).
    */
  def lshCandidatePairs(sig: DataFrame, idCol: String,
                        bands: Int, rows: Int,
                        maxBucketSize: Int = 1000): DataFrame =
    cappedIdSets(bandBuckets(sig, idCol, bands, rows),
        Seq("band", "bv"), idCol, maxBucketSize, "__ids")
      .select(explode(orderedPairs(col("__ids"))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .distinct()

  /** MinHash-LSH dedup, first-(lowest-id)-wins: drop every doc that
    * shares an LSH bucket with a lower-id doc (reference flow J1/ST1
    * with most_dup=0). Returns the surviving rows of `df`. Built on
    * lshDroppedIds — no pair join, skew-proof at any cluster size.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numPerms: Int = 64, shingleN: Int = 5,
                   bands: Int = 16, rows: Int = 4): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    df.join(lshDroppedIds(sig, idCol, bands, rows), Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard similarity pairs ≥ threshold, via an
    * inverted index grouped by shingle hash: explode shingles once,
    * group docs per shingle, explode ordered pairs per group, count
    * shared shingles per pair (only docs sharing ≥1 shingle are ever
    * paired, never the full cross product).
    * Output: id_a, id_b, jaccard (rounded to 6 for hash-stability).
    *
    * Shape notes, each measured at sf0.1:
    * - Group-then-pair instead of an index self-join: the self-join
    *   broadcast-hashes a post-explode side (Spark sizes it from the
    *   tiny pre-explode source) and evaluates the shingle pipeline
    *   once per branch — 12.3 s vs 7 s.
    * - Pairing on the 60-bit md5 of the shingle, not the string:
    *   5× smaller shuffle; both engines hash identically so the
    *   oracle mirrors it exactly.
    * - `maxShingleDf` drops shingles appearing in more docs than the
    *   cap before pairing — THE skew guard at corpus scale: one
    *   stop-phrase shingle with df=1M would otherwise contribute
    *   5·10¹¹ pairs. Capped shingles are excluded from the pair
    *   support but not from na/nb, so reported jaccard is a
    *   conservative underestimate for pairs whose overlap is mostly
    *   stop-shingles (the pairs dedup cares about — near-identical
    *   docs — share rare shingles too). The oracle mirrors the cap.
    */
  /** One-pass distinct-shingle-hash featurization (native expression;
    * see expressions.WordShingleHashes): no shingle strings in the
    * plan. Array element count = distinct shingle count.
    */
  def shingleHashes(text: Column, shingleN: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.WordShingleHashes(expression(text), shingleN,
      distinct = true, xx = hashModeIsXx))
  }

  /** Positional (non-distinct) shingle hashes: one 60-bit hash per
    * n-token window in document order — array index = 0-based window
    * start. The featurizer under positional operators
    * (Text.duplicatedSpans); same kernel, so bit-identical to the
    * distinct variant's hashes.
    */
  def gramHashesAll(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expressions.WordShingleHashes(expression(text), n,
      distinct = false, xx = hashModeIsXx))
  }

  /** Shared inverted-index pair-support pipeline for the exact
    * set-overlap metrics: distinct shingle-hash sets per doc, df-capped
    * group-then-pair, support counts joined to per-doc set sizes.
    * Columns: id_a, id_b, __common, __na, __nb.
    */
  private def pairSupport(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, maxShingleDf: Int): DataFrame = {
    val exh = df
      .select(col(idCol), explode(shingleHashes(col(textCol), shingleN)).as("__h"))
    val cnts = exh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val pairs = cappedIdSets(exh, Seq("__h"), idCol, maxShingleDf, "__ids")
      .select(explode(orderedPairs(col("__ids"))).as("__p"))
      .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
      .agg(count(lit(1)).as("__common"))
    pairs
      .join(cnts.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(cnts.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, threshold: Double,
                   maxShingleDf: Int = 1000): DataFrame =
    pairSupport(df, idCol, textCol, shingleN, maxShingleDf)
      .withColumn("jaccard", round(
        col("__common").cast("double") /
          (col("__na") + col("__nb") - col("__common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Asymmetric containment pairs: C = |A∩B| / min(|A|, |B|), the
    * quote/subset detector — a short doc fully contained in a long one
    * has containment ≈ 1 while its Jaccard ≈ |A|/|B| stays far below
    * any dedup threshold. Same inverted-index pipeline, skew guard, and
    * scale shape as [[jaccardPairs]] (reference near-dup family:
    * etl_slimpajama_dc_proc.py:146-158 is the symmetric variant).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, threshold: Double,
                       maxShingleDf: Int = 1000): DataFrame =
    pairSupport(df, idCol, textCol, shingleN, maxShingleDf)
      .withColumn("containment", round(
        col("__common").cast("double") / least(col("__na"), col("__nb")), 6))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Exact word-set Jaccard self-join via PREFIX FILTERING (the
    * PPJoin/AllPairs family): order each doc's distinct tokens by
    * global rarity (df asc, token asc) and index only the first
    * |s| − ⌈t·|s|⌉ + 1 of them — two sets with J ≥ t MUST share at
    * least one prefix token (if they shared none, the overlap is
    * confined to the ⌈t·|s|⌉ − 1 suffix tokens, below the overlap
    * ⌈t/(1+t)·(|a|+|b|)⌉ that J ≥ t forces). So candidate generation
    * is exact-recall WITHOUT the df cap [[jaccardPairs]] needs: the
    * cap trades recall for skew-safety, the prefix trades nothing —
    * hot (common) tokens land in nobody's prefix precisely because
    * the ordering puts rare tokens first.
    *
    * Scale shape: token postings (one explode), a df count, one
    * per-doc window to rank tokens (shuffle on id), then a SELF-JOIN
    * of the prefix postings on the token — hot prefix buckets stream
    * through a hash join's O(bucket²) row flow instead of
    * materializing a single O(bucket²)-element pair array in one
    * aggregation row (measured 19× on a 31-token-vocabulary stress
    * corpus where every bucket is hot). The join carries the PPJoin
    * LENGTH filter (J ≥ t forces t·|a| ≤ |b| ≤ |a|/t), pruning
    * size-mismatched pairs before the distinct. Exact verification
    * then intersects the DISTINCT candidates' word sets (bounded per
    * doc by doc length). Prefix bucket sizes are data-dependent but
    * concentrate on rare tokens; for corpora whose pair density at
    * `threshold` is itself huge (everything really is similar), the
    * OUTPUT is the quadratic term — no algorithm beats its own
    * result size.
    */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double): DataFrame =
    jaccardPrefixPairsDetailed(
      df.select(col(idCol).as("__id"),
        explode(array_distinct(split(col(textCol), " "))).as("__w")),
      threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** [[jaccardPrefixPairs]]'s engine over a caller-tokenized element
    * frame `tok` of DISTINCT (__id, __w) rows — any set representation
    * (words, shingles, hashes rendered to string) runs the same
    * prefix-filtered exact join. Returns one row per pair with
    * jaccard ≥ threshold, INCLUDING the integer support (sz_a, sz_b,
    * common over the 60-bit hashed element sets) that downstream
    * reports need for engine-exact binning — a ratio re-derived from
    * the rounded jaccard would bin differently across engines at the
    * bin edges; (10·common) div union cannot.
    */
  def jaccardPrefixPairsDetailed(tok: DataFrame,
                                 threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold: $threshold")
    val dfreq = tok.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val sz = tok.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
    val wOrd = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__w"))
    // localCheckpoint: both self-join legs read the SAME postings —
    // without it the scan+window lineage evaluates twice (measured
    // 2× the prefix stage); the checkpoint blocks are executor-local,
    // O(postings) like the join's own shuffle files, and the context
    // cleaner frees them when the result frame is released.
    val pre = tok.join(dfreq, "__w").join(sz, "__id")
      .withColumn("__rn", row_number().over(wOrd))
      .where(col("__rn") <= col("__sz") -
        ceil(lit(threshold) * col("__sz").cast("double")).cast("long") + 1)
      .select(col("__w"), col("__id"), col("__sz"), col("__rn"))
      .stageCheckpoint(true)
    // Size the two dense exchanges below by the stage's real work —
    // the candidate PROBE count Σ_w k_w² over the prefix postings —
    // not by bytes (AQE coalesced the ~2 MB postings to ONE partition:
    // serial pair generation, r13) and not by the flat session count
    // (r13's pin: at sf0.1 the postings carry 17 distinct tokens, so
    // 32 hash partitions were mostly empty while 32 concurrent
    // verify tasks burned 264 CPU-s on work that 8 tasks do in 16 —
    // measured by ProfileQuery r14, the driver's c8/c32 = 0.45
    // inversion). The probe count is one tiny aggregate over the
    // eagerly-checkpointed postings; ~6M probes ≈ 1–2 CPU-s of
    // codegen'd join work per task. At corpus scale the division
    // saturates at the session cap and the r13 plan shape stands.
    val denseParts = Tuning.workParts(tok.sparkSession,
      Option(pre.groupBy(col("__w")).agg(count(lit(1)).as("__k"))
          .agg(sum(col("__k") * col("__k"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L),
      6000000L)
    val preSpread = pre.repartition(denseParts, col("__w"))
    // PPJoin positional filter: at the EARLIEST shared token (global
    // (df, token) order, positions i, j) a true pair has no earlier
    // shared tokens, so overlap ≤ 1 + min(|a|−i, |b|−j); J ≥ t forces
    // overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉. Distinct-ORing per-token rows
    // keeps any pair whose earliest shared token passes — exact
    // recall, with late-position-only collisions pruned in the join.
    val minOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("x.__sz") + col("y.__sz")).cast("double"))
    // merge hint (r14): the checkpointed postings estimate under the
    // broadcast threshold, so the planner broadcast-hash-joined the
    // self-join — a per-task relation probe that cannot happen at
    // corpus scale (no executor holds the postings) and, locally, a
    // second independent exchange for the build leg. SMJ is the same
    // plan shape the 100 TB regime gets. Note (verified by plan dump,
    // plans/r14/ppjoin_engine_after.txt): EnsureRequirements re-plans
    // the two join-LEG exchanges to the session shuffle-partition
    // count, overriding the explicit denseParts there — harmless
    // (the legs carry ~0.25 MB of postings and the join stage
    // measured 1.8 CPU-s); the load-bearing pairs/verify exchange
    // below keeps the work-derived count.
    val pairs = preSpread.as("x").hint("merge")
      .join(preSpread.as("y").hint("merge"),
        col("x.__w") === col("y.__w") && col("x.__id") < col("y.__id") &&
          col("y.__sz").cast("double") >=
            lit(threshold) * col("x.__sz").cast("double") &&
          col("x.__sz").cast("double") >=
            lit(threshold) * col("y.__sz").cast("double") &&
          (lit(1L) + least(col("x.__sz") - col("x.__rn"),
            col("y.__sz") - col("y.__rn"))).cast("double") >= minOverlap)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      // the dedup exchange also feeds the per-candidate verify loop
      // (two set-attach joins + array_intersect per DISTINCT pair —
      // 3.3M candidates for 9K survivors at sf0.1), so it gets the
      // same work-derived count; the repartition's keys match
      // distinct's grouping keys, so the aggregate is partition-local
      // and no second exchange is added
      .repartition(denseParts, col("id_a"), col("id_b"))
      .distinct()
    // verify on 60-bit token HASHES, not strings: the intersect is
    // the per-candidate hot loop and long compares beat string
    // compares ~3× (same hashed-set convention as lshVerifiedPairs;
    // the oracle mirrors the md5-hash transform)
    val sets = tok.groupBy(col("__id"))
      .agg(sort_array(collect_set(graft.functions.GraftFunctions
        .hash60(col("__w")))).as("__s"))
    pairs
      .join(sets.select(col("__id").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__s").as("__sb")), "id_b")
      .withColumn("__common",
        size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", round(col("__common").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"),
        size(col("__sa")).cast("long").as("sz_a"),
        size(col("__sb")).cast("long").as("sz_b"),
        col("__common").cast("long").as("common"))
  }

  /** 16-bit SimHash of whitespace tokens, as a single pure expression:
    * hash each token once, fold ±1 votes per bit position with an
    * array accumulator, then pack sign bits. Each subexpression is
    * referenced exactly once, so generated code stays linear in the
    * bit width (cf. the langId codegen lesson in ops/Text).
    */
  val SimHashBits = 16

  def simhash(text: Column): Column = {
    val hashes = transform(split(text, " "), t => hash60(t))
    val zeros = array_repeat(lit(0L), SimHashBits)
    val votes = aggregate(hashes, zeros, (acc, h) =>
      zip_with(acc,
        array((0 until SimHashBits).map(bit =>
          (shiftright(h, bit).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))): _*),
        (x, y) => x + y))
    val powers = array((0 until SimHashBits).map(bit => lit(1L << bit)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** The production near-dup pipeline: LSH banding for recall, exact
    * Jaccard verification for precision. Only LSH candidate pairs —
    * not the full inverted-index pair space — pay the exact
    * set-intersection cost, which is what makes exact verification
    * affordable at corpus scale (the unrestricted exact join in
    * jaccardPairs is the small-scale oracle of this).
    */
  def lshVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double,
                       numPerms: Int = 64, shingleN: Int = 5,
                       bands: Int = 16, rows: Int = 4,
                       maxBucketSize: Int = 1000): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val cand = lshCandidatePairs(sig, idCol, bands, rows, maxBucketSize)
    // Shingle HASH sets (distinct longs) are joined to the candidate
    // pairs (small side), so the arrays reach only |pairs| rows and
    // the set intersection is paid per candidate, never per corpus
    // row — and it intersects 8-byte longs, not shingle strings (the
    // oracle mirrors the same hashed-set intersection). No persist:
    // each join scans the set pipeline once; callers that verify
    // repeatedly should persist their own frame (library ops stay
    // lazy and leak nothing into the session's storage).
    val sets = df.select(col(idCol),
      array_distinct(shingleHashes(col(textCol), shingleN)).as("__ss"))
    val common = size(array_intersect(col("a.__ss"), col("b.__ss")))
    cand
      .join(sets.as("a"), col("id_a") === col(s"a.$idCol"))
      .join(sets.as("b"), col("id_b") === col(s"b.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(common.cast("double") /
          (size(col("a.__ss")) + size(col("b.__ss")) - common), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** MinHash estimate-quality report — the dedup-index analog of
    * [[recallReport]]: for every LSH candidate pair, the
    * signature-ESTIMATED Jaccard (matching components / numPerms —
    * the only number a signature-based pipeline ever sees) next to
    * the TRUE shingle-set Jaccard, with their absolute error. This
    * is the tuning loop for numPerms/bands/rows: if abs_err is wide
    * at the dedup threshold, the signature is too short; if every
    * est is far below the threshold, the bands are too permissive.
    *
    * Scale shape: candidates come from the capped band buckets
    * (never all pairs); signatures (numPerms longs) and hashed
    * shingle sets join onto the |pairs|-row frame, so per-pair work
    * is O(numPerms + doc length) and nothing quadratic in the
    * corpus exists anywhere.
    */
  def minhashEstimateReport(df: DataFrame, idCol: String, textCol: String,
                            numPerms: Int = 64, shingleN: Int = 5,
                            bands: Int = 16, rows: Int = 4,
                            maxBucketSize: Int = 1000): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val cand = lshCandidatePairs(sig, idCol, bands, rows, maxBucketSize)
    val sigArr = sig.select(col(idCol),
      array((0 until numPerms).map(i => col(s"m$i")): _*).as("__sig"))
    val sets = df.select(col(idCol),
      array_distinct(shingleHashes(col(textCol), shingleN)).as("__ss"))
    val nEq = size(filter(zip_with(col("sa.__sig"), col("sb.__sig"),
      (x, y) => x === y), b => b))
    val common = size(array_intersect(col("a.__ss"), col("b.__ss")))
    val est = nEq.cast("double") / lit(numPerms.toDouble)
    val tru = common.cast("double") /
      (size(col("a.__ss")) + size(col("b.__ss")) - common)
    cand
      .join(sigArr.as("sa"), col("id_a") === col(s"sa.$idCol"))
      .join(sigArr.as("sb"), col("id_b") === col(s"sb.$idCol"))
      .join(sets.as("a"), col("id_a") === col(s"a.$idCol"))
      .join(sets.as("b"), col("id_b") === col(s"b.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(est, 6).as("est_jaccard"),
        round(tru, 6).as("true_jaccard"),
        round(abs(est - tru), 6).as("abs_err"))
  }

  /** b-bit minhash estimate quality (Li & König, "b-Bit Minwise
    * Hashing", WWW 2010): keep only the LOWEST b bits of each minhash
    * slot and estimate J from the b-bit match rate with the collision
    * correction Ĵ = (p̂ − C)/(1 − C), C = 2^−b — for uniform 60-bit
    * hash values two DIFFERENT minima still agree on their low b bits
    * with probability C (the large-domain simplification of the
    * paper's r₁/r₂ form; exact here because the hash range is 2⁶⁰ ≫
    * any set size). The 100 TB point is STORAGE: at b = 2 a 64-perm
    * signature is 16 bytes instead of 512 — the difference between a
    * signature index that fits executor memory and one that doesn't —
    * and this report measures what that 32× compression costs in
    * estimate error next to the full-width estimate, per LSH
    * candidate pair. All three estimates derive from integer match
    * counts / exact set intersections; the doubles are final-formula
    * only.
    */
  def minhashBbitReport(df: DataFrame, idCol: String, textCol: String,
                        b: Int = 2, numPerms: Int = 64, shingleN: Int = 5,
                        bands: Int = 16, rows: Int = 4,
                        maxBucketSize: Int = 1000): DataFrame = {
    require(b >= 1 && b < 60, s"bad bit width $b")
    val m = 1L << b
    val c = 1.0 / m // exact double for b ≤ 52
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val cand = lshCandidatePairs(sig, idCol, bands, rows, maxBucketSize)
    val sigArr = sig.select(col(idCol),
      array((0 until numPerms).map(i => col(s"m$i")): _*).as("__sig"))
    val sets = df.select(col(idCol),
      array_distinct(shingleHashes(col(textCol), shingleN)).as("__ss"))
    val nEq = size(filter(zip_with(col("sa.__sig"), col("sb.__sig"),
      (x, y) => x === y), k => k))
    // minhash values are nonnegative (60-bit md5/xxhash range), so
    // plain % is the low-b-bit mask on both engines
    val nEqB = size(filter(zip_with(col("sa.__sig"), col("sb.__sig"),
      (x, y) => (x % m) === (y % m)), k => k))
    val common = size(array_intersect(col("a.__ss"), col("b.__ss")))
    val estFull = nEq.cast("double") / lit(numPerms.toDouble)
    val estB = greatest(lit(0.0),
      (nEqB.cast("double") / lit(numPerms.toDouble) - lit(c)) / lit(1 - c))
    val tru = common.cast("double") /
      (size(col("a.__ss")) + size(col("b.__ss")) - common)
    cand
      .join(sigArr.as("sa"), col("id_a") === col(s"sa.$idCol"))
      .join(sigArr.as("sb"), col("id_b") === col(s"sb.$idCol"))
      .join(sets.as("a"), col("id_a") === col(s"a.$idCol"))
      .join(sets.as("b"), col("id_b") === col(s"b.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(estFull, 6).as("est_full"),
        round(estB, 6).as("est_bbit"),
        round(tru, 6).as("true_jaccard"),
        round(abs(estFull - tru), 6).as("err_full"),
        round(abs(estB - tru), 6).as("err_bbit"))
  }

  /** Threshold-sweep dedup survival curve over the production LSH
    * path: for each candidate threshold t (in tenths), the candidate
    * pairs whose ESTIMATED Jaccard (signature-slot agreement, the
    * cheap verification every datasketch-style pipeline uses) clears
    * t, the documents removed under the one-pass smaller-id-wins
    * rule, and the tokens that go with them — "which threshold do I
    * ship, and how much corpus survives it" read off the same
    * signatures and buckets production would use, in one pass.
    *
    * est ≥ t is compared in integers (nEq·10 ≥ t·numPerms): no float
    * threshold edges for engines to disagree on. Scale shape: the
    * sweep touches only LSH candidates (bucket-capped, never corpus²);
    * the explode multiplies the candidate stream by |thresholds| (≤5
    * here); per-threshold aggregates are ≤|thresholds| rows; corpus
    * totals ride along as a broadcast 1-row frame.
    */
  def dedupSurvivalCurve(df: DataFrame, idCol: String, textCol: String,
                         thresholdTenths: Seq[Int] = Seq(5, 6, 7, 8, 9),
                         numPerms: Int = 64, shingleN: Int = 5,
                         bands: Int = 16, rows: Int = 4,
                         maxBucketSize: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec8 = DecimalType(18, 8)
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val cand = lshCandidatePairs(sig, idCol, bands, rows, maxBucketSize)
    val sigArr = sig.select(col(idCol),
      array((0 until numPerms).map(i => col(s"m$i")): _*).as("__sig"))
    val nEq = size(filter(zip_with(col("sa.__sig"), col("sb.__sig"),
      (x, y) => x === y), b => b)).cast("long")
    val est = cand
      .join(sigArr.as("sa"), col("id_a") === col(s"sa.$idCol"))
      .join(sigArr.as("sb"), col("id_b") === col(s"sb.$idCol"))
      .select(col("id_b"), nEq.as("__neq"))
    val hits = est
      .select(col("id_b"),
        explode(array(thresholdTenths.map(lit(_)): _*)).as("t"), col("__neq"))
      .where(col("__neq") * 10 >= col("t") * numPerms)
    val pc = hits.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
    val wc = df.select(col(idCol).as("__id"),
      size(split(col(textCol), " ")).cast("long").as("__nw"))
    val remagg = hits.select(col("t"), col("id_b")).distinct()
      .join(wc, col("id_b") === col("__id"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_docs_removed"),
        sum(col("__nw")).as("tokens_removed"))
    val tot = wc.agg(count(lit(1)).as("__nd"), sum(col("__nw")).as("__tt"))
    val ss = df.sparkSession
    import ss.implicits._
    val th = thresholdTenths.toDF("t")
    th.join(pc, Seq("t"), "left").join(remagg, Seq("t"), "left")
      .crossJoin(broadcast(tot))
      .select(col("t").cast("long").as("threshold_tenths"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        (col("__nd") - coalesce(col("n_docs_removed"), lit(0L))).as("n_docs_left"),
        (col("__tt") - coalesce(col("tokens_removed"), lit(0L))).as("tokens_left"),
        round(((col("__tt") - coalesce(col("tokens_removed"), lit(0L)))
          .cast("double") / col("__tt").cast("double")).cast(dec8), 6)
          .cast("double").as("token_survive_frac"))
      .orderBy(col("threshold_tenths"))
  }

  /** LSH band-probability tuning curve — the "is my threshold right"
    * telemetry that turns [[minhashEstimateReport]] into a decision
    * tool: per true-similarity bin, the OBSERVED candidate rate (what
    * fraction of genuinely-similar pairs the banded index actually
    * surfaced) next to the ANALYTIC collision probability
    * 1 − (1 − s^rows)^bands. Wide gaps mean the signature is too
    * short for the curve to hold; an analytic curve whose knee sits
    * left of the dedup threshold means bands/rows are mis-chosen and
    * the index wastes verification work (or misses pairs) — both
    * visible here before any production run.
    *
    * The denominator (all pairs with true Jaccard ≥ threshold) comes
    * from the PPJoin prefix-filtered EXACT join — scalable exact
    * recall, no corpus² anywhere; candidates come from the same
    * capped band buckets production dedup uses. Binning is integer
    * arithmetic on the pair's support ((10·common) div union — no
    * float bin edges), and both rates use the decimal-sum/
    * fixed-shape-division discipline, so the report is reproducible
    * bit-for-bit on any engine and partitioning.
    */
  def lshBandCurveReport(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double,
                         numPerms: Int = 64, shingleN: Int = 5,
                         bands: Int = 16, rows: Int = 4,
                         maxBucketSize: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec8 = DecimalType(18, 8)
    val sig = minhashSignatures(df, idCol, textCol, numPerms, shingleN)
    val cand = lshCandidatePairs(sig, idCol, bands, rows, maxBucketSize)
      .withColumn("__hit", lit(1L))
    val tok = df.select(col(idCol).as("__id"),
      explode(array_distinct(wordShingles(col(textCol), shingleN))).as("__w"))
    val exact = jaccardPrefixPairsDetailed(tok, threshold)
    // p(s) = 1 − (1 − s^rows)^bands evaluated as LEFT-ASSOCIATIVE
    // multiply chains — the same IEEE operation sequence the oracle
    // spells out, so the doubles agree to the last bit before the
    // decimal cast freezes them.
    val j = col("common").cast("double") / col("__u").cast("double")
    exact
      .join(cand, Seq("id_a", "id_b"), "left")
      .withColumn("__u", col("sz_a") + col("sz_b") - col("common"))
      .withColumn("__j", j)
      .withColumn("__t",
        lit(1.0) - (1 to rows).map(_ => col("__j")).reduce(_ * _))
      .withColumn("__p",
        lit(1.0) - (1 to bands).map(_ => col("__t")).reduce(_ * _))
      .groupBy(expr("(10 * common) div __u").as("sim_bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_candidates"),
        sum(col("__p").cast(dec8)).as("__sp"))
      .select(col("sim_bin"), col("n_pairs"), col("n_candidates"),
        round((col("n_candidates").cast("double") /
          col("n_pairs").cast("double")).cast(dec8), 6).cast("double")
          .as("observed_rate"),
        round((col("__sp").cast("double") /
          col("n_pairs").cast("double")).cast(dec8), 6).cast("double")
          .as("analytic_rate"))
      .orderBy(col("sim_bin"))
  }

  /** LSH (bands, rows) parameter PLANNER: picks the split of the
    * numPerms signature a dedup deployment should use, from the
    * OBSERVED pair-similarity distribution rather than a textbook
    * s-curve guess. For each divisor split (b, r) in `plans`:
    *
    *   exp_recall = mean over enumerable pairs with J ≥ tauTarget of
    *                P(catch) = 1 − (1 − J^r)^b  — duplicates the
    *                deployment MUST find
    *   exp_waste  = the same mean over tauMin ≤ J < tauTarget — the
    *                sub-threshold candidates the verify stage pays for
    *
    * `selected` marks the FEWEST-bands plan whose exp_recall meets
    * `recallFloor` (each band is one more shuffled (band, bucket) key
    * per doc — fewer bands = cheaper index), falling back to the
    * max-recall plan when none reaches the floor.
    *
    * Scale shape: pair enumeration is the exact-recall PPJoin at
    * tauMin ([[jaccardPrefixPairsDetailed]] — prefix/length/positional
    * filtered, output-bounded, never corpus²), and everything after it
    * is one aggregate row over the pair stream + a ≤|plans|-row
    * unpivot. At 100 TB the planner runs on a deterministic doc sample
    * (the gate samples doc_id % 4 = 0): the similarity HISTOGRAM, not
    * the corpus, is the decision input. Exactness: per-pair catch
    * probabilities are left-associative multiply chains over the
    * exact-support J (the lshBandCurveReport convention), summed as
    * DECIMAL(18,8) so the means are partitioning-independent.
    */
  def lshParamPlan(df: DataFrame, idCol: String, textCol: String,
                   tauMin: Double, tauTarget: Double, recallFloor: Double,
                   numPerms: Int = 64, shingleN: Int = 5,
                   plans: Seq[(Int, Int)] =
                     Seq((32, 2), (16, 4), (8, 8), (4, 16))): DataFrame = {
    require(tauMin > 0 && tauMin < tauTarget && tauTarget <= 1,
      s"need 0 < tauMin < tauTarget <= 1: $tauMin, $tauTarget")
    require(plans.nonEmpty && plans.forall { case (b, r) =>
      b * r == numPerms }, s"every (b, r) must split numPerms=$numPerms")
    import org.apache.spark.sql.types.DecimalType
    val dec8 = DecimalType(18, 8)
    val tok = df.select(col(idCol).as("__id"),
      explode(array_distinct(wordShingles(col(textCol), shingleN))).as("__w"))
    val exact = jaccardPrefixPairsDetailed(tok, tauMin)
    val j = col("common").cast("double") /
      (col("sz_a") + col("sz_b") - col("common")).cast("double")
    val base = exact.select(j.as("__j"))
    val hi = col("__j") >= lit(tauTarget)
    val aggCols =
      Seq(sum(when(hi, 1L).otherwise(0L)).as("__nhi"),
        sum(when(!hi, 1L).otherwise(0L)).as("__nlo")) ++
        plans.zipWithIndex.flatMap { case ((b, r), k) =>
          val t = lit(1.0) - (1 to r).map(_ => col("__j")).reduce(_ * _)
          val p = lit(1.0) - (1 to b).map(_ => t).reduce(_ * _)
          Seq(sum(when(hi, p.cast(dec8))).as(s"__hi$k"),
            sum(when(!hi, p.cast(dec8))).as(s"__lo$k"))
        }
    val one = base.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = plans.zipWithIndex.map { case ((b, r), k) =>
      s"$b, $r, __hi$k, __lo$k" }.mkString(", ")
    val perPlan = one.selectExpr("__nhi", "__nlo",
      s"stack(${plans.size}, $stackArgs) AS (bands, rows, __shi, __slo)")
      .select(col("bands").cast("long").as("bands"),
        col("rows").cast("long").as("rows"),
        col("__nhi").as("n_pairs_high"), col("__nlo").as("n_pairs_low"),
        when(col("__nhi") > 0, round((col("__shi").cast("double") /
          col("__nhi").cast("double")).cast(dec8), 6).cast("double"))
          .as("exp_recall"),
        when(col("__nlo") > 0, round((col("__slo").cast("double") /
          col("__nlo").cast("double")).cast(dec8), 6).cast("double"))
          .as("exp_waste"))
    // |plans| rows: the selection window is driver-bounded by design
    val ok = coalesce(col("exp_recall"), lit(0.0)) >= lit(recallFloor)
    val w = Window.orderBy(ok.desc, when(ok, col("bands")).asc_nulls_last,
      desc("exp_recall"), col("bands"))
    perPlan
      .withColumn("selected", (row_number().over(w) === 1))
      .orderBy(col("bands"))
  }

  /** Incremental MinHash-LSH dedup for batch-append ingestion: drop
    * rows of `newDf` that collide (share an LSH band bucket) with the
    * already-accepted corpus, represented by its signature frame
    * `knownSigs` (schema: idCol, m0..m{numPerms-1} — persist it
    * alongside the corpus and union the survivors' signatures after
    * each batch). Within the new batch, lowest-id-wins as usual; any
    * collision with the known corpus drops the new row regardless of
    * id. This is the production shape of the reference's ST1
    * incremental index: state = the signature table, O(corpus) rows ×
    * numPerms longs, instead of an in-memory index.
    */
  def minhashDedupIncremental(newDf: DataFrame, idCol: String, textCol: String,
                              knownSigs: DataFrame,
                              numPerms: Int = 64, shingleN: Int = 5,
                              bands: Int = 16, rows: Int = 4): DataFrame = {
    // The new batch's signature pipeline feeds both drop paths; no
    // internal persist (library ops stay lazy) — incremental batches
    // are small by design, and callers looping over many batches
    // should persist newDf themselves.
    val newSigs = minhashSignatures(newDf, idCol, textCol, numPerms, shingleN)
    // new-vs-new: lowest id wins (linear window, no pair join)
    val intraDropped = lshDroppedIds(newSigs, idCol, bands, rows)
    // new-vs-known: any band-bucket match drops the new row
    val crossDropped = bandBuckets(newSigs, idCol, bands, rows).as("n")
      .join(bandBuckets(knownSigs, idCol, bands, rows).as("k"),
        col("n.band") === col("k.band") && col("n.bv") === col("k.bv"), "left_semi")
      .select(col(s"n.$idCol").as(idCol))
    newDf.join(intraDropped.union(crossDropped).distinct(), Seq(idCol), "left_anti")
  }

  /** Hamming distance between two packed bit signatures. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Deterministic pseudo-random hyperplane weight in [-0.5, 0.5) for
    * sign-LSH: w(k, d) from an LCG over (plane, dimension) — exact
    * integer arithmetic, so any engine computes the same hyperplanes.
    */
  def planeWeight(k: Int, dimIdx: Column): Column =
    pmod((lit(k.toLong * 131L) + dimIdx.cast("long")) * lit(2654435761L),
      lit(1000003L)).cast("double") / lit(1000003.0) - lit(0.5)

  /** Random-hyperplane sign-LSH bucket id (numPlanes bits) of an
    * embedding column. Vectors in the same bucket agree on all plane
    * signs — cosine-similar vectors collide with high probability.
    * Pure expression: bucket assignment happens at scan time, no
    * shuffle, no model fit. numPlanes bits → 2^numPlanes buckets; pick
    * numPlanes ≈ log2(rows / targetBucketSize) at scale.
    */
  def signLshBucket(emb: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { k =>
      val proj = aggregate(
        transform(emb, (x, i) => x * planeWeight(k, i)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Connected components over an undirected pair frame (`id_a,
    * id_b`) — the transitive-closure step that turns near-dup PAIRS
    * into dup CLUSTERS (a survivor per cluster, not per pair edge).
    * Each round: min-label propagation (every node takes the minimum
    * label among itself and its neighbors) followed by pointer
    * jumping (lbl ← lbl(lbl): labels are node ids, so they resolve
    * against the label table itself) — the doubling step makes
    * convergence O(log diameter) rounds, so an adversarial
    * 10⁶-node duplicate chain needs ~20 rounds, not 10⁶. Converged
    * when the global label sum stops falling (labels are
    * monotonically non-increasing, so the decimal sum is a strict
    * progress measure — one scalar action per round, never a row
    * collect).
    *
    * Cost per round: three hash-partition exchanges (neighbor join,
    * min-groupBy, jump join — all keyed on node/label). Each round's
    * frames are cached roots ([[Iterate.untilStable]], one round per
    * chunk): the self-join references the label plan twice per round,
    * so without lineage truncation the LOGICAL plan grows
    * exponentially and analysis itself hangs long before any data
    * moves (persist alone materializes data but keeps the full plan).
    * A root — unlike localCheckpoint — leaves each round a normal
    * cached Dataset, so superseded rounds unpersist deterministically
    * and peak storage stays 2×|nodes| (mins + next in flight) rather
    * than accumulating until a later GC. mins is cached once per round
    * — both the jump join's sides read its cache, not a recomputed
    * aggregation — and the label-sum test is the round's one action.
    *
    * Returns (doc_id, cluster) for every node appearing in `edges`,
    * cluster = the minimum doc id of the component. The returned
    * frame IS a persisted (materialized) frame — the iterative
    * lineage behind it is already computed, and the caller owns the
    * lifecycle: `.unpersist()` it when done (the same explicit
    * contract as minhashDedupIncremental's knownSigs). Throws
    * IllegalStateException instead of returning silently-wrong labels
    * if `maxIter` rounds don't reach the fixpoint (a component with
    * diameter > maxIter — raise maxIter, or use a log-rounds
    * star-contraction variant for adversarial chains).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val und = edges.select(col("id_a").as("node"), col("id_b").as("nbr"))
      .union(edges.select(col("id_b").as("node"), col("id_a").as("nbr")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // labels carry the output names (doc_id, cluster) from round 0, so
    // the last boundary — cached and materialized by its label-sum
    // action — IS the caller-owned result
    val labels0 = Iterate.cached(und.groupBy(col("node"))
      .agg(least(min(col("nbr")), col("node")).as("cluster"))
      .withColumnRenamed("node", "doc_id"))
    val labelSum = (b: DataFrame) =>
      b.agg(sum(col("cluster").cast("decimal(38,0)"))).head.getDecimal(0)
    // sum() over zero rows is null: an empty edge frame is already
    // converged (empty result), not an NPE. Labels only ever fall, so
    // an unchanged sum is the fixpoint.
    val res = Iterate.untilStable(labels0, maxIter, 1, cacheRounds = true)(
        labelSum)((prev, s) => s == null || prev.exists(_.compareTo(s) == 0),
        start = Some(labelSum(labels0))) { (labels, round) =>
      val prop = und.as("u")
        .join(labels.as("l"), col("u.nbr") === col("l.doc_id"))
        .select(col("u.node").as("doc_id"), col("l.cluster").as("cluster"))
      val mins = round.cache(labels.union(prop)
        .groupBy(col("doc_id")).agg(min(col("cluster")).as("cluster")))
      // pointer jump: lbl(lbl(n)) ≤ lbl(n) because every label is a
      // node id and lbl(m) ≤ m — inner join is total over the domain.
      // The right side is a renamed projection (fresh attribute ids)
      // so the self-join needs no alias-qualified resolution.
      val jumpTo = mins.select(col("doc_id").as("__jn"), col("cluster").as("__jl"))
      mins.join(jumpTo, col("cluster") === col("__jn"))
        .select(col("doc_id"), col("__jl").as("cluster"))
    }
    und.unpersist()
    if (!res.stable) {
      res.frame.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise it")
    }
    res.frame
  }

  /** IVF (nprobe=1) approximate-nearest-neighbor top-k against an
    * explicit centroid codebook table (`cid: long, cemb:
    * array<double>`): every vector is assigned to its max-cosine
    * centroid (broadcast nested-loop over the C codebook rows, then
    * one map-side-combined min-struct aggregation — O(rows × C)
    * scan-local work, no shuffle before the cell-restricted join),
    * and each query searches only its own cell. The codebook is a
    * DataFrame so a trained k-means table loads exactly like the BPE
    * merges file (any parquet/CSV source — see loadCentroids); a
    * deterministic fallback (first-N corpus vectors) keeps the oracle
    * reproducible. Assignment ranks by the ROUNDED cosine so engines
    * agree at ulp boundaries.
    *
    * Returns (query_id, neighbor_id, cos, rank) for rows matching
    * `queryPred`, rank 1..topK by descending cosine.
    */
  /** Max-cosine cell assignment — THE cell rule shared by ivfTopK
    * (serving) and kmeansFit (training); one definition so rounding
    * precision and tie-breaks cannot diverge between the two paths.
    * `e` must carry (idCol, __emb, __nrm); `centroids` is (cid,
    * cemb). Broadcast nested-loop over the C codebook rows, then one
    * map-side-combined min-struct aggregation — O(rows × C)
    * scan-local work, no shuffle before the per-id combine. Ranks by
    * the ROUNDED cosine so engines agree at ulp boundaries.
    * Returns (idCol, __emb, __nrm, cell).
    *
    * Plan note: this aggregate plans as SortAggregate — carrying the
    * vector through `first(__emb)` makes a buffer non-primitive, so
    * the packed-long argmax trick (hard_negatives_pool) cannot lift
    * it into HashAggregate. Deliberate trade: the sort is map-side
    * over rows × C with C small (a coarse codebook is ≤ thousands of
    * cells), while the hash-friendly alternative — aggregate
    * (id, cell) alone and re-join the vectors — costs a full corpus
    * shuffle. Packed-long wins only when nothing else in the
    * aggregate needs an array buffer.
    */
  private def assignCells(e: DataFrame, centroids: DataFrame,
                          idCol: String): DataFrame = {
    val c = centroids.select(col("cid"),
        col("cemb").cast("array<double>").as("__cemb"))
      .withColumn("__cnrm", vectorNorm(col("__cemb")))
    e.join(broadcast(c), lit(true))
      .select(col(idCol), col("__emb"), col("__nrm"),
        struct(
          (-round(cosineFromNorms(dotProduct(col("__emb"), col("__cemb")),
            col("__nrm"), col("__cnrm")), 6)).as("negcos"),
          col("cid").as("cid")).as("__c"))
      .groupBy(col(idCol))
      .agg(first(col("__emb")).as("__emb"), first(col("__nrm")).as("__nrm"),
        min(col("__c")).getField("cid").as("cell"),
        // cosine to the WINNING centroid (the argmax the struct-min
        // just picked): the within-cluster quality rank SemDeDup's
        // published representative rule orders by
        (-min(col("__c")).getField("negcos")).as("__ccos"))
  }

  def ivfTopK(emb: DataFrame, idCol: String, embCol: String,
              centroids: DataFrame, queryPred: Column, topK: Int): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val cells = assignCells(e, centroids, idCol)
    val q = cells.where(queryPred)
      .select(col(idCol).as("query_id"), col("__emb").as("__qemb"),
        col("__nrm").as("__qnrm"), col("cell").as("qcell"))
    val scored = cells.join(broadcast(q),
        col("cell") === col("qcell") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(cosineFromNorms(dotProduct(col("__qemb"), col("__emb")),
          col("__qnrm"), col("__nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Recall@k of an approximate ANN result against exact ground
    * truth — the eval loop every production index tuning runs
    * (nprobe / planes / codebook size move THIS number). Per query:
    * |approx ∩ exact| / |exact|. Inputs are any two (query,
    * neighbor) frames, so the same report grades LSH, IVF,
    * multiprobe, or PQ against the brute-force baseline — or
    * against each other.
    *
    * Scale shape: the result frames are k·|Q| rows (the corpus never
    * enters), so this is two small hash aggregates and one join on
    * (query, neighbor). Ground truth at 100 TB is computed on a
    * SAMPLED query set — the report's cost is proportional to the
    * sample, which is exactly why eval is affordable while the index
    * build is the expensive part.
    */
  def recallReport(approx: DataFrame, exact: DataFrame,
                   queryCol: String, neighborCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val a = approx.select(col(queryCol).as("query_id"),
      col(neighborCol).as("__n"))
    val e = exact.select(col(queryCol).as("query_id"),
      col(neighborCol).as("__n"))
    val truth = e.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
    val hits = a.join(e, Seq("query_id", "__n"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    truth.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round((coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_true").cast("double")).cast(dec), 6)
          .cast("double").as("recall"))
      .orderBy(col("query_id"))
  }

  /** Multi-probe IVF: each query probes its `nprobe` nearest cells
    * instead of one — the recall/cost dial of a production IVF index
    * (nprobe=1 misses neighbors sitting just across a Voronoi
    * boundary). Data vectors stay in exactly one cell, so index size
    * is unchanged and query cost grows linearly with nprobe; with
    * nprobe = |centroids| this degenerates to exact brute force
    * (spec-asserted). Same broadcast shapes as [[ivfTopK]]: centroids
    * and the probe set are small by construction, the corpus never
    * shuffles before the per-query top-k.
    */
  def ivfTopKMultiProbe(emb: DataFrame, idCol: String, embCol: String,
                        centroids: DataFrame, queryPred: Column,
                        topK: Int, nprobe: Int): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val cells = assignCells(e, centroids, idCol)
    val c = centroids.select(col("cid"),
        col("cemb").cast("array<double>").as("__cemb"))
      .withColumn("__cnrm", vectorNorm(col("__cemb")))
    // rank all cells per query by the same (rounded-cos, cid) order as
    // assignCells, keep the nprobe best, explode to one row per probe
    val probes = cells.where(queryPred)
      .join(broadcast(c), lit(true))
      .select(col(idCol).as("query_id"), col("__emb").as("__qemb"),
        col("__nrm").as("__qnrm"),
        struct(
          (-round(cosineFromNorms(dotProduct(col("__emb"), col("__cemb")),
            col("__nrm"), col("__cnrm")), 6)).as("negcos"),
          col("cid").as("cid")).as("__c"))
      .groupBy(col("query_id"))
      .agg(first(col("__qemb")).as("__qemb"), first(col("__qnrm")).as("__qnrm"),
        slice(sort_array(collect_list(col("__c"))), 1, nprobe).as("__cs"))
      .select(col("query_id"), col("__qemb"), col("__qnrm"),
        explode(col("__cs")).as("__probe"))
      .select(col("query_id"), col("__qemb"), col("__qnrm"),
        col("__probe.cid").as("qcell"))
    // a data vector lives in ONE cell, so per query each neighbor
    // appears through at most one probe — no post-join dedup needed
    val scored = cells.join(broadcast(probes),
        col("cell") === col("qcell") && col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        round(cosineFromNorms(dotProduct(col("__qemb"), col("__emb")),
          col("__qnrm"), col("__nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Deterministic-init spherical k-means (Lloyd's) codebook trainer
    * for IVF: seeds are the k vectors with the lowest detHash(id) —
    * partitioning-independent, unlike rand() sampling — assignment is
    * max-cosine (matching ivfTopK's cell rule), and each round
    * recomputes centroids as the per-cell elementwise mean
    * (posexplode → (cell, dim) avg → reassemble, so the shuffle
    * carries rows×dim scalars, never whole-vector groups on one
    * reducer). Cells that lose all members keep their previous
    * centroid. O(iters) rounds, each: one broadcast-scored scan + one
    * (cell, dim) aggregation. Centroid floats are reproducible up to
    * fp-addition order; the resulting codebook is an input artifact
    * (persist it with writeBucketed/parquet and load via
    * loadCentroids), so bit-level reproducibility across cluster
    * layouts is not part of the IVF contract.
    *
    * Returns (cid: long 0..k-1, cemb: array<double>).
    */
  def kmeansFit(emb: DataFrame, idCol: String, embCol: String,
                k: Int, iters: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e = emb
      .select(col(idCol).as("__id"), col(embCol).cast("array<double>").as("__emb"))
      .where(size(col("__emb")) > 0)
      .withColumn("__nrm", vectorNorm(col("__emb")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = Window.orderBy(col("__h"), col("__id"))
    val cents0 = Iterate.cached(
      e.withColumn("__h", detHash(DetHashPrime, col("__id")))
        .orderBy(col("__h"), col("__id")).limit(k)
        .select((row_number().over(w) - 1).cast("long").as("cid"),
          col("__emb").as("cemb")))
    // per-round lineage truncation, as in connectedComponents: cents
    // is referenced twice per round (assignment + empty-cell join),
    // so an unmaterialized plan doubles every iteration and analysis
    // hangs long before the spec's iters=5 would show it. Every round
    // is materialized by its own count (one round per chunk).
    val res = Iterate.untilStable(cents0, iters, 1, cacheRounds = true)(
        _.count())(Iterate.never, start = Some(cents0.count())) { (cents, _) =>
      val assigned = assignCells(e, cents, "__id")
      val means = assigned
        .select(col("cell"), posexplode(col("__emb")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cid"),
          transform(col("pm"), p => p.getField("m")).as("cemb"))
      // empty cells keep their previous centroid
      cents.as("old").join(means.as("new"), Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("new.cemb"), col("old.cemb")).as("cemb"))
    }
    e.unpersist()
    res.frame
  }

  /** Product quantization — the billion-scale ANN compression: split
    * each vector into `m` subspaces and learn a k-codeword codebook
    * per subspace (spherical k-means, deterministic detHash init via
    * [[kmeansFit]]). A vector is then stored as m small integer codes
    * — m·log₂(k) bits instead of dim·32 — and asymmetric scoring
    * reconstructs dot(q, x) ≈ Σ_s dot(q_s, codeword_s(x)) with the
    * query kept full-precision, so the only error is corpus-side
    * quantization. At 100 TB the encoded corpus is ~100× smaller and
    * the scoring join ships codes, not floats.
    *
    * Returns (sub, cid, cemb) — one codebook row per subspace cell.
    */
  def pqFit(emb: DataFrame, idCol: String, embCol: String,
            dim: Int, m: Int, k: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subLen = dim / m
    (0 until m).map { s =>
      val sub = emb.select(col(idCol),
        slice(col(embCol).cast("array<double>"), s * subLen + 1, subLen).as("__sv"))
      kmeansFit(sub, idCol, "__sv", k, iters)
        .select(lit(s).as("sub"), col("cid"), col("cemb"))
    }.reduce(_ union _)
  }

  /** PQ encoding: per subspace, the max-cosine codeword (rounded to
    * 6dp, cid tiebreak — kmeansFit's assignment rule). Codebooks are
    * broadcast; encoding is scan-local followed by one combine on the
    * id. Returns (idCol, codes: array<long> ordered by subspace).
    */
  def pqEncode(emb: DataFrame, idCol: String, embCol: String,
               codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    val subLen = dim / m
    val subs = (0 until m).map { s =>
      emb.select(col(idCol), lit(s).as("sub"),
        slice(col(embCol).cast("array<double>"), s * subLen + 1, subLen).as("__sv"))
    }.reduce(_ union _)
    val cb = codebooks.select(col("sub").as("__csub"), col("cid"),
        col("cemb").cast("array<double>").as("__cemb"))
      .withColumn("__cnrm", vectorNorm(col("__cemb")))
    subs.withColumn("__nrm", vectorNorm(col("__sv")))
      .join(broadcast(cb), col("sub") === col("__csub"))
      .select(col(idCol), col("sub"),
        struct(
          (-round(cosineFromNorms(dotProduct(col("__sv"), col("__cemb")),
            col("__nrm"), col("__cnrm")), 6)).as("negcos"),
          col("cid").as("cid")).as("__c"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(col("__c")).getField("cid").as("code"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        p => p.getField("code")).as("codes"))
  }

  /** Asymmetric PQ top-k: the query side stays full-precision; each
    * (query, sub, cid) partial dot product forms a broadcast LUT
    * (|queries|·m·k rows), and a candidate's score is the sum of its
    * codes' LUT entries — the corpus pays one scan over its CODES plus
    * a map-side-combined aggregate, never a float-vector shuffle.
    * Partial dots round to 6dp and sum as DECIMAL so the score is
    * addition-order-independent (and SQL-oracle-expressible).
    */
  def pqTopK(emb: DataFrame, idCol: String, embCol: String,
             codebooks: DataFrame, queryPred: Column,
             dim: Int, m: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val subLen = dim / m
    val codes = pqEncode(emb, idCol, embCol, codebooks, dim, m)
      .select(col(idCol).as("__nid"), col("codes"))
    val qsubs = (0 until m).map { s =>
      emb.where(queryPred).select(col(idCol).as("query_id"), lit(s).as("__lsub"),
        slice(col(embCol).cast("array<double>"), s * subLen + 1, subLen).as("__qv"))
    }.reduce(_ union _)
    val cb = codebooks.select(col("sub").as("__csub"), col("cid").as("__lcid"),
      col("cemb").cast("array<double>").as("__cemb"))
    val lut = qsubs.join(broadcast(cb), col("__lsub") === col("__csub"))
      .select(col("query_id"), col("__lsub"), col("__lcid"),
        round(dotProduct(col("__qv"), col("__cemb")), 6).as("__pd"))
    val scored = codes
      .select(col("__nid"), posexplode(col("codes")).as(Seq("__sub", "__code")))
      .join(broadcast(lut),
        col("__sub") === col("__lsub") && col("__code") === col("__lcid"))
      .where(col("__nid") =!= col("query_id"))
      .groupBy(col("query_id"), col("__nid"))
      .agg(round(sum(col("__pd").cast(DecimalType(18, 8)))
        .cast(DecimalType(18, 8)), 6).cast("double").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col("__nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("__nid").as("neighbor_id"),
        col("score"), col("rank").cast("int").as("rank"))
  }

  /** IVF-PQ: the composed billion-scale ANN index (FAISS's IVFADC
    * layout, Jégou et al. 2011) — IVF coarse routing restricts WHICH
    * candidates are scored, PQ code compression sets WHAT ships per
    * candidate. Index build: one cell assignment (broadcast centroids,
    * scan-local) + one PQ encode (broadcast codebooks, scan-local),
    * co-partitioned on the id by a single shuffle join. Query: the
    * per-(query, sub, codeword) partial-dot LUT is broadcast WITH the
    * query's cell attached, so the corpus-side join keys on
    * (cell, sub, code) — a candidate outside every probed cell never
    * leaves its scan partition, and candidates ship only their m
    * codes. Same determinism contract as pqTopK (round-6 partial dots,
    * DECIMAL sum) and as ivfTopK (rounded-cos cell assignment).
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, embCol: String,
                centroids: DataFrame, codebooks: DataFrame,
                queryPred: Column, dim: Int, m: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val subLen = dim / m
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val cells = assignCells(e, centroids, idCol)
    val codes = pqEncode(emb, idCol, embCol, codebooks, dim, m)
      .select(col(idCol).as("__nid"), col("codes"))
    // index build: codes ⋈ cells on the id (one co-partitioning
    // shuffle — in production this frame is the persisted index)
    val corpus = cells.select(col(idCol).as("__cellid"), col("cell"))
      .join(codes, col("__cellid") === col("__nid"))
      .select(col("__nid"), col("cell"), col("codes"))
    val q = cells.where(queryPred).select(col(idCol).as("query_id"),
      col("__emb").as("__qemb"), col("cell").as("qcell"))
    val qsubs = (0 until m).map { s =>
      q.select(col("query_id"), col("qcell"), lit(s).as("__lsub"),
        slice(col("__qemb"), s * subLen + 1, subLen).as("__qv"))
    }.reduce(_ union _)
    val cb = codebooks.select(col("sub").as("__csub"), col("cid").as("__lcid"),
      col("cemb").cast("array<double>").as("__cemb"))
    val lut = qsubs.join(broadcast(cb), col("__lsub") === col("__csub"))
      .select(col("query_id"), col("qcell"), col("__lsub"), col("__lcid"),
        round(dotProduct(col("__qv"), col("__cemb")), 6).as("__pd"))
    val scored = corpus
      .select(col("__nid"), col("cell"),
        posexplode(col("codes")).as(Seq("__sub", "__code")))
      .join(broadcast(lut), col("cell") === col("qcell") &&
        col("__sub") === col("__lsub") && col("__code") === col("__lcid"))
      .where(col("__nid") =!= col("query_id"))
      .groupBy(col("query_id"), col("__nid"))
      .agg(round(sum(col("__pd").cast(DecimalType(18, 8)))
        .cast(DecimalType(18, 8)), 6).cast("double").as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), col("__nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("__nid").as("neighbor_id"),
        col("score"), col("rank").cast("int").as("rank"))
  }

  /** Load an IVF codebook from a parquet or CSV table with columns
    * (cid, cemb). CSV expects cemb as a comma-joined number string
    * (the portable export format for a trained k-means codebook).
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame = {
    val df =
      if (path.endsWith(".csv"))
        spark.read.option("header", "true").csv(path)
          .select(col("cid").cast("long"),
            split(col("cemb"), ",").cast("array<double>").as("cemb"))
      else spark.read.parquet(path)
    df.select(col("cid").cast("long"),
      col("cemb").cast("array<double>").as("cemb"))
  }

  /** Embedding-cosine near-dup pairs under a label blocking key, with
    * a per-label block-size guard: labels at or under `maxBlockSize`
    * rows pair exactly (block key −1), larger labels are sub-blocked
    * by `signLshBucket(emb, subPlanes)` so a hot label of n rows costs
    * O((n/2^subPlanes)²) per bucket instead of O(n²) — the same skew
    * discipline as `maxShingleDf`/`maxBucketSize` on the shingle
    * paths. Within an oversized label only same-bucket pairs are
    * emitted (recall < 1 on hot labels, the standard LSH trade; raise
    * recall with band repetitions like `lshBandBuckets` if needed).
    * The label-count window and the bucket assignment each ride the
    * one hash-partition-by-label exchange the self-join needs anyway.
    */
  def cosineDedupBlocked(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String,
      minCos: Double,
      maxBlockSize: Int,
      subPlanes: Int): DataFrame = {
    val e = df
      .select(col(idCol), col(labelCol),
        col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
      .withColumn("__blk",
        when(count(lit(1)).over(Window.partitionBy(col(labelCol)))
            <= maxBlockSize, lit(-1L))
          .otherwise(signLshBucket(col("__emb"), subPlanes)))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col(s"a.$labelCol") === col(s"b.$labelCol") &&
        col("a.__blk") === col("b.__blk") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(cosineFromNorms(dotProduct(col("a.__emb"), col("b.__emb")),
          col("a.__nrm"), col("b.__nrm")), 6).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * assign every vector to its nearest centroid, then within each
    * cluster drop any vector whose cosine to a KEPT (lower-id) vector
    * exceeds `minCos`. The published recipe ranks within-cluster
    * duplicates by distance-to-centroid; this variant breaks ties by
    * id so both engines agree deterministically — the semantics
    * ("one representative per within-cluster near-dup set") are
    * identical.
    *
    * Scale shape: cluster assignment is the IVF coarse-quantizer pass
    * (broadcast centroids, scan-local argmax — see assignCells);
    * within-cluster pairing reuses cosineDedupBlocked with the cell
    * as the blocking key, so a hot cluster degrades to sign-LSH
    * sub-blocks instead of O(n²) — SemDeDup's clusters are small by
    * construction (k ~ √n in the paper), the guard makes that an
    * enforced contract rather than an assumption. Output is one row
    * per vector: (id, cell, removed 0/1).
    */
  /** Mutual-kNN graph clustering over an embedding column: within
    * sign-LSH blocks, each vector's top-k cosine neighbors (rounded-6
    * score, id tie-break — rank is engine-stable); an edge survives
    * only if BOTH endpoints rank each other (the mutual-kNN rule that
    * keeps hub vectors from chaining unrelated regions together);
    * components via the pointer-jumped min-label CC. Returns
    * (idCol, cluster) for every vector in a mutual pair — the
    * density-based complement to centroid assignment (kmeans-style
    * cells split convex regions; mutual-kNN follows the manifold).
    *
    * Scale: the block self-join is the only quadratic term — size
    * subPlanes so n/2^subPlanes stays ~10³ (the standard blocked-kNN
    * approximation; recall loss is pairs straddling a hyperplane,
    * the same contract as [[semDedup]]'s sub-blocking). Directed kNN
    * is a per-block window with a WindowGroupLimit prune to k rows
    * per vector; the mutual join carries id pairs only.
    *
    * `maxBlockSize` is the HOT-BLOCK bound `subPlanes` alone cannot
    * give: identical (or near-zero) embeddings share one sign-LSH
    * bucket at ANY plane count, so a degenerate corpus would make the
    * self-join quadratic in the hot bucket. A block over the cap is
    * split into ceil(n/maxBlockSize) deterministic id-hash sub-blocks
    * and pairs are emitted only WITHIN a sub-block — per-block pair
    * work is then ≤ n·maxBlockSize instead of n², the same capped
    * contract as [[cosineDedupBlocked]]. Recall on a hot block drops
    * (neighbors straddling sub-blocks are unseen), which for the
    * degenerate all-identical case is harmless: every sub-block still
    * clusters internally and CC merges nothing across them — callers
    * needing cross-sub-block merges re-run on representatives. The
    * block-count window rides the hash-partition-by-block exchange
    * the self-join needs anyway.
    */
  def knnGraphClusters(emb: DataFrame, idCol: String, embCol: String,
                       k: Int, subPlanes: Int,
                       maxIter: Int = 25,
                       maxBlockSize: Int = 4096): DataFrame = {
    require(maxBlockSize >= 2, s"maxBlockSize must be >= 2: $maxBlockSize")
    val e0 = emb.select(col(idCol).as("__id"),
        col(embCol).cast("array<double>").as("__e"))
      .withColumn("__n", vectorNorm(col("__e")))
      .withColumn("__blk", signLshBucket(col("__e"), subPlanes))
    val blkCnt = count(lit(1)).over(Window.partitionBy(col("__blk")))
    val e = e0.withColumn("__sub",
      when(blkCnt <= maxBlockSize, lit(0L))
        .otherwise(pmod(xxhash64(col("__id")),
          ceil(blkCnt / lit(maxBlockSize.toDouble)).cast("long"))))
    val pairs = e.as("a").join(e.as("b"),
        col("a.__blk") === col("b.__blk") &&
          col("a.__sub") === col("b.__sub") &&
          col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("src"), col("b.__id").as("dst"),
        round(cosineFromNorms(dotProduct(col("a.__e"), col("b.__e")),
          col("a.__n"), col("b.__n")), 6).as("cos"),
        col("a.__blk").as("__blk"), col("a.__sub").as("__sub"))
    val w = Window.partitionBy(col("src")).orderBy(desc("cos"), col("dst"))
    val directed = pairs.withColumn("__r", row_number().over(w))
      .where(col("__r") <= k)
      .select(col("src"), col("dst"), col("__blk"), col("__sub"))
    val mutual = directed.as("x").join(directed.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .where(col("x.src") < col("x.dst"))
      .select(col("x.__blk").as("__blk"), col("x.__sub").as("__sub"),
        col("x.src").as("id_a"), col("x.dst").as("id_b"))
    // Components are BUCKET-LOCAL by construction: `pairs` only joins
    // rows with equal (__blk, __sub), so no mutual edge ever crosses a
    // bucket and the global component = the within-bucket component.
    // The r13 profile showed the generic pointer-jump CC spending the
    // whole query in ~14 rounds × 3 node-sized exchanges of scheduler
    // floors (the suite's slowest query, 11.4 s, with three negative
    // checkpoint/broadcast/jump A/Bs on record); one collect_list per
    // bucket + a local union-find replaces the loop outright. State
    // is bounded by the SAME contract that bounds the self-join: a
    // bucket holds ≤ maxBlockSize vectors ⇒ ≤ maxBlockSize·k mutual
    // edges per group. Labels are identical to connectedComponents'
    // (cluster = min id of the component): unions always re-root the
    // larger root under the smaller, so each tree's root is the
    // component minimum.
    val comp = mutual.groupBy(col("__blk"), col("__sub"))
      .agg(collect_list(struct(col("id_a"), col("id_b"))).as("__es"))
      .select(explode(bucketLocalCc(col("__es"))).as("__nc"))
      .select(col("__nc.node").as(idCol), col("__nc.cluster"))
    // same caller contract as connectedComponents: a persisted,
    // already-computed frame whose lifecycle the caller owns
    // (maxIter is retained in the signature for compatibility; the
    // bucket-local CC always reaches the fixpoint in one pass)
    val out = comp.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Min-label connected components of ONE bucket's edge list —
    * union-find with roots kept at the component minimum (union
    * re-roots the larger root under the smaller), path-halving on
    * find. Runs once per LSH bucket inside [[knnGraphClusters]], on
    * a collect_list bounded by maxBlockSize·k edges — not a per-row
    * hot path. Returns one (node, cluster=min id) row per distinct
    * endpoint, exactly [[connectedComponents]]' labeling.
    */
  private val bucketLocalCc =
    udf { (es: Seq[org.apache.spark.sql.Row]) =>
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        var p = parent.getOrElse(r, r)
        while (p != r) { // path-halving
          val gp = parent.getOrElse(p, p)
          parent(r) = gp
          r = p
          p = parent.getOrElse(r, r)
        }
        r
      }
      es.foreach { e =>
        val ra = find(e.getLong(0))
        val rb = find(e.getLong(1))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val nodes = new scala.collection.mutable.TreeSet[Long]()
      es.foreach { e => nodes += e.getLong(0); nodes += e.getLong(1) }
      nodes.toSeq.map(n => BucketNodeCluster(n, find(n)))
    }

  def semDedup(emb: DataFrame, idCol: String, embCol: String,
               centroids: DataFrame, minCos: Double,
               maxBlockSize: Int, subPlanes: Int): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    // localCheckpoint: the assignment is read three times (both
    // self-join legs + the final flag join) — without it the
    // corpus × centroids argmax re-runs for each. Same discipline as
    // the PPJoin postings; at deploy scale the assignment would be
    // materialized to storage once for the same reason.
    val cells = assignCells(e, centroids, idCol).stageCheckpoint(true)
    val removed = cosineDedupBlocked(cells, idCol, "cell", "__emb",
        minCos, maxBlockSize, subPlanes)
      .select(col("id_b").as("__rm")).distinct()
    cells.join(removed, col(idCol) === col("__rm"), "left")
      .select(col(idCol), col("cell"),
        when(col("__rm").isNull, lit(0)).otherwise(lit(1)).as("removed"))
  }

  /** Cluster-balanced "diversity" sample: assign every vector to its
    * nearest codebook centroid, keep ceil(sqrt(n_cell)) members per
    * cell, chosen by detHash rank (the sample_stratified_exact
    * discipline — same members at any partitioning or cluster size).
    * Square-root allocation is the standard coverage recipe for
    * curating training data in embedding space: giant modes are cut
    * ~sqrt-proportionally while rare clusters keep most members, so
    * the cluster histogram flattens without dropping the tail.
    *
    * Scale shape: the assignment is the broadcast-codebook argmax
    * (assignCells — scan-local, no corpus shuffle before the per-id
    * combine); the quota cut is ONE shuffle on cell with two window
    * functions over the same sort (count + row_number share the
    * partition). Quotas are per-cell local — no global pass couples
    * cells, so the operator composes with incremental ingest by
    * re-running per cell. Output: (cell, n_cell, quota, rn, id) for
    * the selected members.
    */
  def clusterQuotaSample(emb: DataFrame, idCol: String, embCol: String,
                         centroids: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{detHash, DetHashPrime}
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val cells = assignCells(e, centroids, idCol)
    val w = Window.partitionBy(col("cell"))
    val wr = w.orderBy(detHash(DetHashPrime, col(idCol)), col(idCol))
    cells
      .withColumn("n_cell", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("quota", ceil(sqrt(col("n_cell").cast("double"))).cast("long"))
      .where(col("rn") <= col("quota"))
      .select(col("cell"), col("n_cell"), col("quota"), col("rn"), col(idCol))
  }

  /** SemDeDup with the paper's exact representative rule (Abbas et
    * al. 2023 §3: within a cluster, keep the duplicate pair member
    * CLOSER to the centroid): a vector is removed iff some
    * same-cluster vector with cosine ≥ minCos outranks it by
    * (cosine-to-centroid desc, id asc). semDedup (above) is the
    * id-ranked variant of the same rule class — both are one
    * dominance pass over the within-cluster pair stream, not the
    * paper's sequential greedy (which is order-dependent and
    * unexpressible as a join); ties are id-broken so both engines
    * agree bit-for-bit.
    *
    * Scale shape identical to semDedup: broadcast-centroid
    * assignment, hot clusters degrade to sign-LSH sub-blocks, the
    * pair join never leaves the (cell, block) key. Output: one row
    * per vector (id, cell, ccos, removed 0/1).
    */
  def semDedupCentroidRank(emb: DataFrame, idCol: String, embCol: String,
                           centroids: DataFrame, minCos: Double,
                           maxBlockSize: Int, subPlanes: Int): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    // read three times (both pair legs + final flag join) — same
    // localCheckpoint discipline as semDedup
    val cells = assignCells(e, centroids, idCol).stageCheckpoint(true)
    val blocked = cells.withColumn("__blk",
      when(count(lit(1)).over(Window.partitionBy(col("cell")))
          <= maxBlockSize, lit(-1L))
        .otherwise(signLshBucket(col("__emb"), subPlanes)))
    val a = blocked.as("a")
    val b = blocked.as("b")
    // one pair per unordered {a,b}; the loser (removed side) is the
    // member the centroid rank places second
    val removed = a.join(b,
        col("a.cell") === col("b.cell") && col("a.__blk") === col("b.__blk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .where(round(cosineFromNorms(dotProduct(col("a.__emb"), col("b.__emb")),
        col("a.__nrm"), col("b.__nrm")), 6) >= minCos)
      .select(when(col("a.__ccos") >= col("b.__ccos"), col(s"b.$idCol"))
        .otherwise(col(s"a.$idCol")).as("__rm"))
      .distinct()
    cells.join(removed, col(idCol) === col("__rm"), "left")
      .select(col(idCol), col("cell"), col("__ccos").as("ccos"),
        when(col("__rm").isNull, lit(0)).otherwise(lit(1)).as("removed"))
  }

  /** Incremental semantic dedup — [[semDedup]]'s ingest form, the
    * embedding-space sibling of [[minhashDedupIncremental]]: dedup a
    * NEW batch of vectors against an already-accepted corpus without
    * ever pairing corpus×corpus. A batch vector is removed iff some
    * same-(cell, block) CORPUS vector, or a LOWER-ID same-(cell,
    * block) batch vector, has rounded cosine ≥ minCos. The corpus
    * side wins REGARDLESS of numeric id — it arrived first, the
    * ingest-order semantics — so when corpus ids all precede batch
    * ids this is exactly semDedup's pair-dominance rule restricted
    * to pairs touching the batch, and batch ∪ corpus replayed
    * through plain semDedup flags the same batch ids (spec-pinned).
    *
    * Scale shape: both sides take the broadcast-centroid scan-local
    * assignment (assignCells); the pair join carries only
    * same-(cell, block) rows and its batch leg filters __new = 1
    * BEFORE the join, so corpus-corpus pairs are never formed — cost
    * scales with the batch and the touched cells, never corpus². Hot
    * cells (counted over corpus ∪ batch, so the block split is
    * consistent across sides) degrade to sign-LSH sub-blocks, the
    * [[cosineDedupBlocked]] guard. At deploy scale the corpus
    * assignment is a materialized table maintained at ingest —
    * recomputing it here per call is the test-scale simplification,
    * same note as semDedup's localCheckpoint.
    */
  def semDedupIncremental(batch: DataFrame, idCol: String, embCol: String,
                          corpus: DataFrame, centroids: DataFrame,
                          minCos: Double, maxBlockSize: Int,
                          subPlanes: Int): DataFrame = {
    def prep(df: DataFrame) = df
      .select(col(idCol), col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val corpusCells = assignCells(prep(corpus), centroids, idCol)
      .withColumn("__new", lit(0))
    // read twice (pair leg + final flag join) — the semDedup
    // localCheckpoint discipline
    val batchCells = assignCells(prep(batch), centroids, idCol)
      .stageCheckpoint(true)
    val combined = corpusCells
      .unionByName(batchCells.withColumn("__new", lit(1)))
    val blocked = combined.withColumn("__blk",
      when(count(lit(1)).over(Window.partitionBy(col("cell")))
          <= maxBlockSize, lit(-1L))
        .otherwise(signLshBucket(col("__emb"), subPlanes)))
    val a = blocked.as("a")
    val b = blocked.where(col("__new") === 1).as("b")
    val removed = a.join(b,
        col("a.cell") === col("b.cell") &&
          col("a.__blk") === col("b.__blk") &&
          (col("a.__new") === 0 ||
            col(s"a.$idCol") < col(s"b.$idCol")))
      .where(round(cosineFromNorms(dotProduct(col("a.__emb"), col("b.__emb")),
        col("a.__nrm"), col("b.__nrm")), 6) >= minCos)
      .select(col(s"b.$idCol").as("__rm")).distinct()
    batchCells.join(removed, col(idCol) === col("__rm"), "left")
      .select(col(idCol), col("cell"),
        when(col("__rm").isNull, lit(0)).otherwise(lit(1)).as("removed"))
  }

  /** kNN label-agreement screen ("confident learning lite"): for each
    * sampled query vector, how many of its k nearest neighbors share
    * its label. A labeled example whose neighborhood votes against it
    * is the standard label-noise candidate; the aggregate per label
    * localizes WHICH class is noisy.
    *
    * Scale shape: queries are a predicate-selected sample broadcast
    * against one corpus scan (the ann_bruteforce contract — cost is
    * |corpus| × |sample|, dialed by the sample rate, never corpus²);
    * the per-query top-k is a (rounded-cos, id)-ordered window over
    * k·|Q| candidate rows. Returns one row per query: (id, label,
    * n_same, n_nbrs).
    */
  def knnLabelAgreement(emb: DataFrame, idCol: String, labelCol: String,
                        embCol: String, queryPred: Column,
                        k: Int): DataFrame = {
    val e = emb.select(col(idCol), col(labelCol).as("__lbl"),
        col(embCol).cast("array<double>").as("__emb"))
      .withColumn("__nrm", vectorNorm(col("__emb")))
    val q = e.where(queryPred)
      .select(col(idCol).as("query_id"), col("__lbl").as("__qlbl"),
        col("__emb").as("__qemb"), col("__nrm").as("__qnrm"))
    val scored = e.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col("__qlbl"), col("__lbl"),
        col(idCol).as("__nid"),
        round(cosineFromNorms(dotProduct(col("__qemb"), col("__emb")),
          col("__qnrm"), col("__nrm")), 6).as("__cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("__cos"), col("__nid"))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .groupBy(col("query_id"), col("__qlbl").as("label"))
      .agg(sum(when(col("__lbl") === col("__qlbl"), 1L).otherwise(0L))
        .as("n_same"),
        count(lit(1)).as("n_nbrs"))
  }
}
