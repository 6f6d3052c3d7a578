package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions._
import graft.ops.Similarity
import graft.ops.Stage.StagedFrame

/** Deduplication query registry: exact, MinHash-LSH, n-gram Jaccard,
  * SimHash, embedding-cosine — the corpus-dedup family (reference
  * J1/A2/A3/ST1: apps/etl/etl_slimpajama_dc_proc.py). Oracle SQL for
  * the hash-based operators is *generated* from the same constants as
  * the Scala expressions, so both engines compute bit-identical
  * integer arithmetic.
  */
object DedupQueries {

  private val NumPerms = 64

  /** pipe_cluster_summaries: the per-representative summarize
    * instruction (single text scope; prompts mirrored in the oracle
    * via PipelineQueries.mockResponseSql).
    */
  private val ClusterSummIns = graft.pipeline.Instruction(
    name = "summarize",
    role = "You are a summarizer.",
    task = "Summarize the canonical representative of this duplicate cluster.",
    scope = Seq("text"))
  private val Bands = 16
  private val Rows = 4
  private val ShingleN = 5
  /** Hot-shingle document-frequency cap (jaccard) and LSH bucket-size
    * cap (verified pairs): the quadratic-skew guards. Inert at test
    * scale (max observed df is 4) but structural at 100 TB; both are
    * mirrored verbatim in the oracles below.
    */
  private val MaxShingleDf = 1000
  private val MaxBucketSize = 1000
  // chain-audit member sample per cluster: intra-cluster pair work is
  // ≤ cap²/2 regardless of cluster (or corpus) size
  private val ChainAuditCap = 8

  /** Winnowing (MOSS) fingerprint knobs: k-word grams, window of w
    * gram hashes — detects any shared run of ≥ w + k − 1 = 11 words.
    * MaxDf caps the fingerprint inverted index; it is MUCH tighter
    * than MaxShingleDf because winnow selections are window MINIMA —
    * on a small vocabulary the globally-smallest gram hashes get
    * selected by a large fraction of the corpus, so fingerprint df is
    * adversarially hot by construction (a cap of 1000 measured ~500k
    * pairs per hot bucket at sf0.1). A fingerprint shared by > 50
    * docs is boilerplate, not local overlap — the standard MOSS
    * noise-threshold reading. MinShared is the match bar (≥ 2 shared
    * fingerprints ⇒ a 43-bit hash collision cannot fake a pair on
    * its own).
    */
  private val WinnowK = 4
  private val WinnowW = 8
  private val WinnowMaxDf = 50
  private val WinnowMinShared = 2L

  /** DuckDB mirror of [[graft.ops.Text.winnowPacked]] (k=4, window
    * `w`) as a CTE chain ending in `s$sfx(doc_id, n_grams, sel)` —
    * sel = the distinct packed (hash·2^20 + reversed-pos) window
    * minima; `sfx` suffixes the CTE names so several window sizes
    * can coexist in one statement (the density curve). DuckDB list
    * lambdas index from 1, Spark's `transform` from 0, so the
    * reversed position is `1048576 - i` here vs `M - 1 - i` in
    * Scala — same values. Slices past the list end truncate on both
    * engines (the < w-gram doc winnows one short window). Like the
    * kernel, the reversed position is clamped at 0 from gram 2^20−1
    * onward (`greatest(…, 0)`) so multi-million-gram docs never
    * underflow the pack into the hash bits — see WinnowSelect's
    * scaladoc for the degraded-tie-rule reading past the clamp.
    */
  private def winnowSelSql(w: Int, sfx: String = "",
                           textExpr: String = "text"): String =
    s"""w$sfx AS (SELECT doc_id, string_split(lower($textExpr), ' ') AS ws FROM documents),
    |g$sfx AS (SELECT doc_id,
    |  CASE WHEN len(ws) >= $WinnowK THEN
    |    list_transform(range(1, len(ws) - ${WinnowK - 2}),
    |      i -> array_to_string(ws[i:i+${WinnowK - 1}], ' '))
    |  ELSE [] END AS grams FROM w$sfx),
    |p$sfx AS (SELECT doc_id, list_transform(grams, (g, i) ->
    |    (('0x' || substring(md5(g), 1, 15))::BIGINT % ${1L << 43}) * ${1L << 20}
    |      + greatest(${1L << 20} - i, 0)) AS packed FROM g$sfx),
    |s$sfx AS (SELECT doc_id, len(packed) AS n_grams,
    |  CASE WHEN len(packed) >= 1 THEN
    |    list_distinct(list_transform(
    |      range(1, greatest(len(packed) - $w, 0) + 2),
    |      i -> list_min(packed[i:i+${w - 1}])))
    |  ELSE [] END AS sel FROM p$sfx)""".stripMargin

  /** cv_folds_leakage_safe: fold count (K in group-aware K-fold). */
  private val CvFolds = 5L

  /** dedup_substr_spans: min duplicated-run length in tokens (the
    * ExactSubstr k knob — runs shorter than this are not flagged).
    */
  private val DupSpanK = 8

  /** dedup_survival_curve: swept thresholds, in tenths of Jaccard. */
  private val SurvivalTenths = Seq(5, 6, 7, 8, 9)

  /** Shared tuning-curve corpus (lsh_band_curve, dedup_survival_curve):
    * documents ∪ prefix-truncated copies of the first 200 docs at
    * CurveFracs twentieths. The synthetic corpus's organic near-dups
    * all sit at J ≥ 0.8; the truncated variants are shingle-prefix
    * subsets whose true Jaccard lands ≈ 0.5–0.85, populating the
    * middle of any threshold sweep. Pure integer arithmetic
    * ((len·k) div 20), so both engines build the same corpus.
    */
  private def curveAugmented(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val variants = CurveFracs.map(k =>
      d.where(col("doc_id") < 200L).selectExpr(
        s"doc_id + ${100000L * k} AS doc_id",
        s"array_join(slice(split(text, ' '), 1, " +
          s"CAST((size(split(text, ' ')) * $k) div 20 AS INT)), ' ') AS text"))
    variants.foldLeft(d.select(col("doc_id"), col("text")))(_ union _)
  }

  /** DuckDB mirror of [[curveAugmented]] as a parenthesized source. */
  private def curveAugSrcSql(alias: String): String =
    "(SELECT doc_id, text FROM documents" +
    "\n  UNION ALL" +
    "\n  SELECT d.doc_id + 100000 * f.k AS doc_id," +
    "\n    array_to_string((string_split(d.text, ' '))" +
    "[1:(len(string_split(d.text, ' ')) * f.k) // 20], ' ') AS text" +
    s"\n  FROM documents d, (SELECT unnest([${CurveFracs.mkString(", ")}]) AS k) f" +
    s"\n  WHERE d.doc_id < 200) $alias"
  // band-curve denominator threshold: 5-shingle Jaccard ≥ 0.5 keeps
  // the exact-recall PPJoin cheap while spanning the analytic knee
  private val LshCurveThreshold = 0.5

  // lsh_param_plan knobs: dedup threshold the plan must catch, and
  // the recall floor the fewest-bands winner must clear
  private val PlanTauTarget = 0.7
  private val PlanRecallFloor = 0.9
  private val PlanSplits = Seq((32, 2), (16, 4), (8, 8), (4, 16))

  /** Oracle for lsh_param_plan: the quarter-sampled augmented corpus,
    * an all-pairs exact-Jaccard check (the sample keeps it ~1450 docs
    * at sf0.1), then the same left-associative 1−(1−j^r)^b chains,
    * DECIMAL(18,8) sums, and fewest-bands-meeting-floor selection
    * window as Similarity.lshParamPlan — generated from the SAME
    * constants so the grid cannot drift.
    */
  private def lshParamPlanOracleSql: String = {
    val src = "(SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0" +
      "\n  UNION ALL" +
      "\n  SELECT d.doc_id + 100000 * f.k AS doc_id," +
      "\n    array_to_string((string_split(d.text, ' '))" +
      "[1:(len(string_split(d.text, ' ')) * f.k) // 20], ' ') AS text" +
      s"\n  FROM documents d, (SELECT unnest([${CurveFracs.mkString(", ")}]) AS k) f" +
      s"\n  WHERE d.doc_id < 200 AND d.doc_id % 4 = 0) aug"
    val tChains = PlanSplits.zipWithIndex.map { case ((_, r), k) =>
      s"1 - (${Seq.fill(r)("j").mkString(" * ")}) AS t$k" }.mkString(",\n  ")
    val pChains = PlanSplits.zipWithIndex.map { case ((b, _), k) =>
      s"1 - (${Seq.fill(b)(s"t$k").mkString(" * ")}) AS p$k" }.mkString(",\n  ")
    val sums = PlanSplits.indices.map { k =>
      s"sum(CASE WHEN hi = 1 THEN CAST(p$k AS DECIMAL(18,8)) END) AS shi$k," +
        s" sum(CASE WHEN hi = 0 THEN CAST(p$k AS DECIMAL(18,8)) END) AS slo$k"
    }.mkString(",\n    ")
    val arms = PlanSplits.zipWithIndex.map { case ((b, r), k) =>
      s"""SELECT $b::BIGINT AS bands, $r::BIGINT AS rows,
         |  nhi AS n_pairs_high, nlo AS n_pairs_low,
         |  CASE WHEN nhi > 0 THEN CAST(round(CAST(CAST(shi$k AS DOUBLE)
         |    / nhi::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) END AS exp_recall,
         |  CASE WHEN nlo > 0 THEN CAST(round(CAST(CAST(slo$k AS DOUBLE)
         |    / nlo::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) END AS exp_waste
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM
       |$src),
       |ss AS (SELECT doc_id,
       |  list_distinct(list_transform($shinglesSql,
       |    s -> ${md5LongSql("s")})) AS ss FROM w),
       |ex AS (
       |  SELECT len(list_intersect(a.ss, b.ss)) AS common,
       |    len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS u
       |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
       |exf AS (SELECT common::DOUBLE / u AS j FROM ex
       |  WHERE round(common::DOUBLE / u, 6) >= $LshCurveThreshold),
       |c0 AS (SELECT j, CASE WHEN j >= $PlanTauTarget THEN 1 ELSE 0 END AS hi
       |  FROM exf),
       |c1 AS (SELECT j, hi,
       |  $tChains
       |  FROM c0),
       |c2 AS (SELECT hi,
       |  $pChains
       |  FROM c1),
       |m AS (SELECT
       |    sum(hi)::BIGINT AS nhi, sum(1 - hi)::BIGINT AS nlo,
       |    $sums
       |  FROM c2),
       |pl AS (
       |$arms),
       |sel AS (SELECT *, row_number() OVER (ORDER BY
       |    (coalesce(exp_recall, 0) >= $PlanRecallFloor) DESC,
       |    CASE WHEN coalesce(exp_recall, 0) >= $PlanRecallFloor
       |      THEN bands END ASC NULLS LAST,
       |    exp_recall DESC, bands) AS rn FROM pl)
       |SELECT bands, rows, n_pairs_high, n_pairs_low, exp_recall,
       |  exp_waste, rn = 1 AS selected
       |FROM sel ORDER BY bands""".stripMargin
  }
  // prefix-truncation fractions (twentieths) for the curve's
  // synthetic moderate-similarity pairs
  private val CurveFracs = Seq(11, 13, 15, 17)

  /** Per-label block-size cap for embedding-cosine dedup: labels above
    * this row count are sub-blocked by a CosineSubPlanes-bit sign-LSH
    * bucket instead of pairing exactly. 50 is deliberately below the
    * test tables' hottest label (218 rows at sf0.1) so the guard is
    * exercised by the gate, not just by the spec.
    */
  private val MaxCosineBlock = 50
  private val CosineSubPlanes = 4

  /** Edit-distance blocking: compare the first EditHeadChars chars of
    * docs whose (lang, n_chars/EditBandChars) bands touch; keep pairs
    * within EditMaxDist edits. Head cap bounds the O(n²) DP per pair.
    */
  private val EditHeadChars = 256
  private val EditBandChars = 64
  private val EditMaxDist = 40

  /** PageRank iterations for cluster_rank_representatives. */
  private val PrIters = 4

  /** Unrolled fixed-point PageRank CTEs over a CTE named `und`
    * (directed src→dst, REQUIRED symmetric — both directions present,
    * so src alone covers the node set), mirroring ops/Graph.pageRank's
    * defaults (unit 10¹², damping 85/100) exactly — `//` floor
    * division equals Spark's truncating `div` on the all-positive
    * ranks. Emits CTEs deg, prnodes, pr0..pr$PrIters. prnodes
    * deliberately avoids the `src UNION dst` form: inside a
    * WITH RECURSIVE, DuckDB 1.0 does NOT deduplicate a top-level
    * UNION's branches (recursive-union semantics leak into
    * non-recursive CTEs), which sextupled the node list and with it
    * every rank sum.
    */
  private def pageRankCtesSql: String = {
    val unit = 1000000000000L
    val base = (unit * 15L) / 100L
    val head = s"""deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
      |prnodes AS (SELECT DISTINCT src AS node FROM und),
      |pr0 AS (SELECT node, CAST($unit AS BIGINT) AS r FROM prnodes)""".stripMargin
    val iters = (1 to PrIters).map { i =>
      s"""pr$i AS (
      |  SELECT n.node,
      |    CAST($base + (COALESCE(CAST(sum(p.r // deg.deg) AS BIGINT), 0) * 85)
      |      // 100 AS BIGINT) AS r
      |  FROM prnodes n
      |  LEFT JOIN und ON und.dst = n.node
      |  LEFT JOIN deg ON deg.src = und.src
      |  LEFT JOIN pr${i - 1} p ON p.node = und.src
      |  GROUP BY n.node)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** DuckDB mirror of wordShingles(text, ShingleN): distinct word
    * 5-grams; range() yields [] when the doc is too short.
    */
  private val shinglesSql =
    s"list_distinct(list_transform(range(1, len(w) - ${ShingleN - 2}), i -> array_to_string(w[i:i+${ShingleN - 1}], ' ')))"

  /** Generated CTE chain: shingle → base30 → 64 min-aggregates →
    * 16 band values (UNION ALL), ending at the `bands` CTE shared by
    * both LSH oracles.
    */
  private def lshBandsSql: String = lshBandsSqlFrom("documents")

  /** Same CTE chain over an arbitrary (doc_id, text) source CTE/table
    * name, for oracles that augment the corpus first.
    */
  private def lshBandsSqlFrom(src: String): String = {
    val mins = (0 until NumPerms)
      .map(i => s"min(${permSql(i, "b")}) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until Bands).map { j =>
      val bv = (0 until Rows).map(r => s"m${j * Rows + r}")
        .reduce((a, b) => s"($a * 31 + $b)")
      s"SELECT doc_id, $j AS band, $bv AS bv FROM sig"
    }.mkString("\n  UNION ALL ")
    // sig/bands MATERIALIZED: a non-materialized CTE re-inlines the
    // whole shingle→hash→64-min subtree into EVERY consumer — under
    // the recursive connected-components oracles each closure
    // iteration then re-hashes the corpus (measured on the fuzz
    // corpus: the mega-doc's O(m²) list slicing made one iteration
    // ~2 min and the closure effectively DNF at 49 GB RSS; with the
    // barrier the whole query is seconds)
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM w),
       |hb AS (SELECT doc_id, ${md5LongSql("s")} % $Base30Mod AS b FROM sh),
       |sig AS MATERIALIZED (SELECT doc_id,
       |    $mins
       |  FROM hb GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |  $bandSelects)""".stripMargin
  }

  /** Candidate-pair CTEs (bucket-size-capped, mirroring
    * lshCandidatePairs' maxBucketSize guard; docs are unique per
    * bucket so count(*) is the bucket size).
    */
  private def lshPairsSql: String = lshPairsSqlFrom("documents")

  private def lshPairsSqlFrom(src: String): String =
    s"""${lshBandsSqlFrom(src)},
       |ok AS (
       |  SELECT band, bv FROM bands GROUP BY band, bv
       |  HAVING count(*) BETWEEN 2 AND $MaxBucketSize),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.band = a.band AND ok.bv = a.bv)""".stripMargin

  /** Generated DuckDB mirror of Similarity.simhash (16-bit). */
  private def simhashSql: String = {
    val terms = (0 until Similarity.SimHashBits).map { bit =>
      s"CASE WHEN list_sum(list_transform(hs, h -> ((h >> $bit) & 1) * 2 - 1)) > 0 THEN ${1L << bit} ELSE 0 END"
    }.mkString("\n    + ")
    s"""WITH t AS (SELECT doc_id,
       |    list_transform(string_split(text, ' '), tok -> ${md5LongSql("tok")}) AS hs
       |  FROM documents)
       |SELECT doc_id, ($terms)::BIGINT AS sh
       |FROM t ORDER BY doc_id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // A2/A3 — exact dedup by content fingerprint, lowest-id-wins.
    // Input is documents ∪ documents so the dedup actually halves the
    // data (the synthetic corpus has no byte-identical texts).
    QueryDef("dedup_exact",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val u = d.union(d)
        val survivors = u
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        survivors.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
          .orderBy(col("source"))
      },
      Some("""WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM documents),
        |s AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM u GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g'))))
        |SELECT d.source, COUNT(*) AS n
        |FROM s JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // J1 — MinHash-LSH near-dup detection: doc_ids dropped because they
    // share an LSH band bucket with a lower-id doc (first-seen-wins,
    // most_dup=0; reference etl_slimpajama_dc_proc.py:146-158).
    // Window formulation: "shares a bucket with a lower id" ⟺
    // "id > min(id) over the bucket" — no pair self-join, linear in
    // bucket size (the oracle mirrors the same window).
    QueryDef("dedup_minhash_lsh",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        Similarity.lshDroppedIds(sig, "doc_id", Bands, Rows)
          .orderBy(col("doc_id"))
      },
      Some(s"""$lshBandsSql
        |SELECT DISTINCT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bv) AS mn
        |  FROM bands)
        |WHERE doc_id > mn ORDER BY doc_id""".stripMargin)),

    // Incremental batch dedup (Similarity.minhashDedupIncremental) —
    // the production ingest shape: dedup a NEW batch against an
    // already-accepted corpus WITHOUT ever re-pairing corpus×corpus.
    // The corpus ships only its signature table (numPerms longs/doc);
    // the batch pays new×new (lowest-id window) plus a band-bucket
    // LEFT SEMI against the corpus buckets — cost scales with the
    // BATCH, not the corpus². Split is a deterministic detHash half.
    QueryDef("dedup_incremental_minhash",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val known = d.where(detHash(2L, col("doc_id")) === 0L)
        val batch = d.where(detHash(2L, col("doc_id")) =!= 0L)
        val knownSigs = Similarity.minhashSignatures(known, "doc_id", "text",
          NumPerms, ShingleN)
        Similarity.minhashDedupIncremental(batch, "doc_id", "text", knownSigs,
            NumPerms, ShingleN, Bands, Rows)
          .select(col("doc_id")).orderBy(col("doc_id"))
      },
      Some(s"""$lshBandsSql,
        |knownb AS (SELECT doc_id, band, bv FROM bands
        |  WHERE ${detHashSql(2L, Seq("doc_id"))} = 0),
        |newb AS (SELECT doc_id, band, bv FROM bands
        |  WHERE ${detHashSql(2L, Seq("doc_id"))} <> 0),
        |intra AS (SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bv) AS mn
        |    FROM newb)
        |  WHERE doc_id > mn),
        |crossd AS (SELECT DISTINCT n.doc_id FROM newb n
        |  JOIN knownb k ON n.band = k.band AND n.bv = k.bv)
        |SELECT doc_id FROM documents
        |WHERE ${detHashSql(2L, Seq("doc_id"))} <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM intra
        |                     UNION SELECT doc_id FROM crossd)
        |ORDER BY doc_id""".stripMargin)),

    // Transitive dup CLUSTERS from the LSH candidate pairs: connected
    // components via iterative min-label propagation (one survivor
    // per component, not per edge — A near B near C collapses to one
    // cluster even when A and C share no bucket). The oracle computes
    // the same closure with a recursive CTE; cluster id = min doc_id
    // of the component on both engines.
    QueryDef("dedup_clusters",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands, Rows, MaxBucketSize)
        Similarity.connectedComponents(pairs)
          .orderBy(col("doc_id"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src)
        |SELECT doc_id, cluster FROM cc ORDER BY doc_id""".stripMargin)),

    // Chain-transitivity audit of the CC dup clusters — the known
    // failure mode of connected-component dedup: a∼b and b∼c chain
    // a≁c into one cluster, and keep-one-per-cluster then deletes
    // documents that are NOT near-dups of the survivor. The audit
    // measures it: per cluster, the MINIMUM exact pairwise Jaccard
    // over a fixed-size member sample (ChainAuditCap lowest
    // (md5Long, doc_id) members — the JlAuditK discipline, so pair
    // work per cluster is ≤ cap²/2 at any corpus size), histogrammed
    // by (cluster_size, chained = min < the LSH threshold 0.5).
    // Pairs sharing no shingle at all never reach the hash join and
    // coalesce to similarity 0 — precisely the chained pairs the
    // audit exists to find, so the all-pairs frame comes from a
    // bounded per-cluster self-join, not from the index. Scale
    // shape: the corpus-sized stages are the same signature/banding
    // machinery the dedup gates already run; everything after cc is
    // bounded by clusters × cap (sampled shingle index, pair join,
    // keyed rank window).
    QueryDef("dedup_chain_audit",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text",
          NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands,
          Rows, MaxBucketSize)
        val cc = Similarity.connectedComponents(pairs)
        val sizes = cc.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size"))
        val wS = Window.partitionBy(col("cluster"))
          .orderBy(md5Long(col("doc_id").cast("string")), col("doc_id"))
        val sampled = cc.withColumn("rk", row_number().over(wS))
          .where(col("rk") <= ChainAuditCap)
          .select(col("cluster"), col("doc_id"))
        val dex = d.join(sampled, "doc_id")
          .select(col("cluster"), col("doc_id"),
            explode(Similarity.shingleHashes(col("text"), ShingleN)).as("h"))
          .distinct()
        val cnts = dex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val allPairs = sampled.select(col("cluster"), col("doc_id").as("ia"))
          .join(sampled.select(col("cluster"), col("doc_id").as("ib")),
            "cluster")
          .where(col("ia") < col("ib"))
        val common = dex.select(col("doc_id").as("ia"), col("h"))
          .join(dex.select(col("doc_id").as("ib"), col("h")), "h")
          .where(col("ia") < col("ib"))
          .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("common"))
        val jac = allPairs
          .join(common, Seq("ia", "ib"), "left")
          .join(cnts.withColumnRenamed("doc_id", "ia")
            .withColumnRenamed("n", "na"), "ia")
          .join(cnts.withColumnRenamed("doc_id", "ib")
            .withColumnRenamed("n", "nb"), "ib")
          .select(col("cluster"),
            coalesce(round(col("common").cast("double") /
              (col("na") + col("nb") - col("common")), 6), lit(0.0))
              .as("jac"))
        jac.groupBy(col("cluster")).agg(min(col("jac")).as("min_sim"))
          .join(sizes, "cluster")
          .withColumn("chained",
            when(col("min_sim") < 0.5, 1L).otherwise(0L))
          .groupBy(col("cluster_size"), col("chained"))
          .agg(count(lit(1)).as("n_clusters"),
            min(col("min_sim")).as("min_pair_sim"))
          .orderBy(col("cluster_size"), col("chained"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |sz AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc
        |  GROUP BY cluster),
        |smp AS (
        |  SELECT cluster, doc_id FROM (
        |    SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
        |      ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id) AS rk
        |    FROM cc) r WHERE rk <= $ChainAuditCap),
        |w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM smp)),
        |sh2 AS (SELECT doc_id, unnest($shinglesSql) AS s FROM w2),
        |dex2 AS (SELECT DISTINCT doc_id, ${md5LongSql("s")} AS h FROM sh2),
        |cnt2 AS (SELECT doc_id, COUNT(*) AS n FROM dex2 GROUP BY doc_id),
        |ap AS (
        |  SELECT a.cluster, a.doc_id AS ia, b.doc_id AS ib
        |  FROM smp a JOIN smp b
        |    ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
        |cm AS (
        |  SELECT x.doc_id AS ia, y.doc_id AS ib, COUNT(*) AS common
        |  FROM dex2 x JOIN dex2 y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |jac AS (
        |  SELECT ap.cluster,
        |    coalesce(round(cm.common::DOUBLE
        |      / (ca.n + cb.n - cm.common), 6), 0.0) AS jac
        |  FROM ap
        |  LEFT JOIN cm ON cm.ia = ap.ia AND cm.ib = ap.ib
        |  JOIN cnt2 ca ON ca.doc_id = ap.ia
        |  JOIN cnt2 cb ON cb.doc_id = ap.ib),
        |mn AS (SELECT cluster, min(jac) AS min_sim FROM jac
        |  GROUP BY cluster)
        |SELECT cluster_size,
        |  CASE WHEN min_sim < 0.5 THEN 1 ELSE 0 END::BIGINT AS chained,
        |  COUNT(*) AS n_clusters, min(min_sim) AS min_pair_sim
        |FROM mn JOIN sz USING (cluster)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Source purity of the CC dup clusters: per cluster, how many
    // distinct sources its members span and how dominant the
    // majority source is — the attribution view a curation pipeline
    // reads BEFORE deleting: same-source clusters are intra-crawl
    // dups (delete freely); cross-source low-majority clusters are
    // templates/boilerplate shared across providers, where
    // keep-one-per-cluster silently biases the source mix (the
    // dedup_impact_by_source concern, measured at cluster grain).
    // Scale shape: everything after the (already-gated) CC is
    // cluster-keyed aggregation — one join to the thin (doc_id,
    // source) projection, two bounded hash aggregates; the wide
    // rollup runs on ≤|clusters| rows.
    QueryDef("dedup_cluster_purity",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text",
          NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands,
          Rows, MaxBucketSize)
        val cc = Similarity.connectedComponents(pairs)
        val perSrc = cc
          .join(d.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("cluster"), col("source"))
          .agg(count(lit(1)).as("n"))
        perSrc.groupBy(col("cluster"))
          .agg(sum(col("n")).as("cluster_size"),
            count(lit(1)).as("n_sources"),
            max(col("n")).as("maxn"))
          .select(col("cluster_size"), col("n_sources"),
            round(col("maxn").cast("double") /
              col("cluster_size").cast("double"), 6).as("majority_frac"))
          .groupBy(col("cluster_size"), col("n_sources"))
          .agg(count(lit(1)).as("n_clusters"),
            min(col("majority_frac")).as("min_majority_frac"))
          .orderBy(col("cluster_size"), col("n_sources"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |ps AS (
        |  SELECT cc.cluster, d.source, COUNT(*) AS n
        |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT SUM(n)::BIGINT AS cluster_size,
        |    COUNT(*)::BIGINT AS n_sources,
        |    round(MAX(n)::DOUBLE / SUM(n)::DOUBLE, 6) AS majority_frac
        |  FROM ps GROUP BY cluster)
        |SELECT cluster_size, n_sources, COUNT(*) AS n_clusters,
        |  MIN(majority_frac) AS min_majority_frac
        |FROM per GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Diameter audit of the CC dup clusters — dedup_chain_audit's
    // companion: min pairwise similarity says HOW DISSIMILAR a
    // chained cluster's extremes got; the hop diameter says HOW LONG
    // the chain is. Per cluster, over the same fixed-size member
    // sample, build the VERIFIED similarity graph (exact Jaccard
    // ≥ 0.5 between sampled members) and take its diameter by
    // min-plus DOUBLING — 3 rounds reach paths of length 8 > cap−1,
    // so the fixed unroll is exact at any corpus size. diameter 1 =
    // the sample is a clique at the threshold (CC chained nothing);
    // ≥ 3 = keep-one-per-cluster deletes docs that are only
    // transitively similar through 3+ hops; a DISCONNECTED sample
    // (unreached pairs) is the strongest chaining evidence — the
    // members aren't even transitively ≥ 0.5-similar among
    // themselves. Scale shape: the corpus-side machinery is the
    // dedup_chain_audit chain verbatim; every distance round is
    // bounded by clusters × cap³ rows and checkpointed (the CC
    // pointer-jumping lineage lesson).
    QueryDef("dedup_chain_diameter",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text",
          NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands,
          Rows, MaxBucketSize)
        val cc = Similarity.connectedComponents(pairs)
        val sizes = cc.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size"))
        val wS = Window.partitionBy(col("cluster"))
          .orderBy(md5Long(col("doc_id").cast("string")), col("doc_id"))
        val sampled = cc.withColumn("rk", row_number().over(wS))
          .where(col("rk") <= ChainAuditCap)
          .select(col("cluster"), col("doc_id"))
        val dex = d.join(sampled, "doc_id")
          .select(col("cluster"), col("doc_id"),
            explode(Similarity.shingleHashes(col("text"), ShingleN)).as("h"))
          .distinct()
        val cnts = dex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val allPairs = sampled.select(col("cluster"), col("doc_id").as("ia"))
          .join(sampled.select(col("cluster"), col("doc_id").as("ib")),
            "cluster")
          .where(col("ia") < col("ib"))
        val common = dex.select(col("doc_id").as("ia"), col("h"))
          .join(dex.select(col("doc_id").as("ib"), col("h")), "h")
          .where(col("ia") < col("ib"))
          .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("common"))
        val edges = allPairs
          .join(common, Seq("ia", "ib"))
          .join(cnts.withColumnRenamed("doc_id", "ia")
            .withColumnRenamed("n", "na"), "ia")
          .join(cnts.withColumnRenamed("doc_id", "ib")
            .withColumnRenamed("n", "nb"), "ib")
          .where(round(col("common").cast("double") /
            (col("na") + col("nb") - col("common")), 6) >= 0.5)
          .select(col("cluster"), col("ia"), col("ib"))
        var dist = edges
          .select(col("cluster"), col("ia").as("x"), col("ib").as("y"),
            lit(1L).as("dd"))
          .union(edges.select(col("cluster"), col("ib").as("x"),
            col("ia").as("y"), lit(1L).as("dd")))
          .stageCheckpoint(true)
        for (_ <- 1 to 3) {
          val via = dist.as("l").join(dist.as("r"),
              col("l.cluster") === col("r.cluster") &&
                col("l.y") === col("r.x") && col("l.x") =!= col("r.y"))
            .select(col("l.cluster").as("cluster"), col("l.x").as("x"),
              col("r.y").as("y"), (col("l.dd") + col("r.dd")).as("dd"))
          dist = dist.union(via)
            .groupBy(col("cluster"), col("x"), col("y"))
            .agg(min(col("dd")).as("dd"))
            .stageCheckpoint(true)
        }
        val reach = dist.where(col("x") < col("y"))
          .groupBy(col("cluster"))
          .agg(max(col("dd")).as("diam"), count(lit(1)).as("n_reached"))
        val sampN = sampled.groupBy(col("cluster"))
          .agg(count(lit(1)).as("ns"))
        sampN.join(reach, Seq("cluster"), "left")
          .join(sizes, "cluster")
          .select(col("cluster_size"),
            coalesce(col("diam"), lit(0L)).as("diameter"),
            when(expr("ns * (ns - 1) DIV 2") >
              coalesce(col("n_reached"), lit(0L)), 1L).otherwise(0L)
              .as("disconnected"))
          .groupBy(col("cluster_size"), col("diameter"), col("disconnected"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("cluster_size"), col("diameter"), col("disconnected"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |sz AS (SELECT cluster, COUNT(*) AS cluster_size FROM cc
        |  GROUP BY cluster),
        |smp AS (
        |  SELECT cluster, doc_id FROM (
        |    SELECT cluster, doc_id, row_number() OVER (PARTITION BY cluster
        |      ORDER BY ${md5LongSql("doc_id::VARCHAR")}, doc_id) AS rk
        |    FROM cc) r WHERE rk <= $ChainAuditCap),
        |w2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM smp)),
        |sh2 AS (SELECT doc_id, unnest($shinglesSql) AS s FROM w2),
        |dex2 AS (SELECT DISTINCT doc_id, ${md5LongSql("s")} AS h FROM sh2),
        |cnt2 AS (SELECT doc_id, COUNT(*) AS n FROM dex2 GROUP BY doc_id),
        |ap AS (
        |  SELECT a.cluster, a.doc_id AS ia, b.doc_id AS ib
        |  FROM smp a JOIN smp b
        |    ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
        |cm AS (
        |  SELECT x.doc_id AS ia, y.doc_id AS ib, COUNT(*) AS common
        |  FROM dex2 x JOIN dex2 y ON x.h = y.h AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT ap.cluster, ap.ia, ap.ib
        |  FROM ap
        |  JOIN cm ON cm.ia = ap.ia AND cm.ib = ap.ib
        |  JOIN cnt2 ca ON ca.doc_id = ap.ia
        |  JOIN cnt2 cb ON cb.doc_id = ap.ib
        |  WHERE round(cm.common::DOUBLE / (ca.n + cb.n - cm.common), 6)
        |    >= 0.5),
        |d0 AS MATERIALIZED (
        |  SELECT cluster, ia AS x, ib AS y, 1::BIGINT AS dd FROM e
        |  UNION ALL
        |  SELECT cluster, ib, ia, 1::BIGINT FROM e),
        |d1 AS MATERIALIZED (SELECT cluster, x, y, min(dd) AS dd FROM (
        |    SELECT cluster, x, y, dd FROM d0
        |    UNION ALL
        |    SELECT l.cluster, l.x, r.y, l.dd + r.dd
        |    FROM d0 l JOIN d0 r
        |      ON l.cluster = r.cluster AND l.y = r.x AND l.x <> r.y)
        |  GROUP BY 1, 2, 3),
        |d2 AS MATERIALIZED (SELECT cluster, x, y, min(dd) AS dd FROM (
        |    SELECT cluster, x, y, dd FROM d1
        |    UNION ALL
        |    SELECT l.cluster, l.x, r.y, l.dd + r.dd
        |    FROM d1 l JOIN d1 r
        |      ON l.cluster = r.cluster AND l.y = r.x AND l.x <> r.y)
        |  GROUP BY 1, 2, 3),
        |d3 AS MATERIALIZED (SELECT cluster, x, y, min(dd) AS dd FROM (
        |    SELECT cluster, x, y, dd FROM d2
        |    UNION ALL
        |    SELECT l.cluster, l.x, r.y, l.dd + r.dd
        |    FROM d2 l JOIN d2 r
        |      ON l.cluster = r.cluster AND l.y = r.x AND l.x <> r.y)
        |  GROUP BY 1, 2, 3),
        |rch AS (SELECT cluster, max(dd) AS diam, COUNT(*) AS n_reached
        |  FROM d3 WHERE x < y GROUP BY cluster),
        |nsc AS (SELECT cluster, COUNT(*) AS ns FROM smp GROUP BY cluster),
        |per AS (
        |  SELECT sz.cluster_size,
        |    coalesce(rch.diam, 0)::BIGINT AS diameter,
        |    (CASE WHEN nsc.ns * (nsc.ns - 1) // 2
        |        > coalesce(rch.n_reached, 0) THEN 1 ELSE 0 END)::BIGINT
        |      AS disconnected
        |  FROM nsc
        |  LEFT JOIN rch ON nsc.cluster = rch.cluster
        |  JOIN sz ON sz.cluster = nsc.cluster)
        |SELECT cluster_size, diameter, disconnected,
        |  COUNT(*) AS n_clusters
        |FROM per GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Benchmark decontamination: fraction of each source's documents
    // sharing at least one 5-gram shingle hash with a "benchmark" set
    // (stand-in: the 20 lowest-id docs — a real benchmark table drops
    // in unchanged). Shape at 100 TB: the benchmark's shingle-hash
    // set is tiny and BROADCAST; the corpus pays one scan + one
    // left-semi broadcast join on exploded hashes + one groupBy —
    // no shuffle of the corpus until the per-source rollup.
    QueryDef("contamination_check",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val bench = d.where(col("doc_id") < 20)
          .select(explode(Similarity.shingleHashes(col("text"), ShingleN)).as("h"))
          .distinct()
        val docHashes = d.select(col("doc_id"), col("source"),
          explode(Similarity.shingleHashes(col("text"), ShingleN)).as("h"))
        val contaminated = docHashes.join(broadcast(bench), Seq("h"), "left_semi")
          .select(col("doc_id")).distinct()
        d.join(contaminated.withColumn("__c", lit(1)), Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("__c")).as("n_contaminated"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, source, unnest($shinglesSql) AS s FROM w),
        |hx AS (SELECT doc_id, source, ${md5LongSql("s")} AS h FROM sh),
        |bench AS (SELECT DISTINCT h FROM hx WHERE doc_id < 20),
        |cont AS (SELECT DISTINCT doc_id FROM hx
        |  WHERE h IN (SELECT h FROM bench)),
        |d AS (SELECT doc_id, source FROM documents)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  COUNT(cont.doc_id) AS n_contaminated
        |FROM d LEFT JOIN cont USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // J1-exact — n-gram Jaccard pairs via inverted-index self-join
    // (the exact counterpart the LSH path approximates).
    QueryDef("dedup_ngram_jaccard",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.jaccardPairs(d, "doc_id", "text", ShingleN, 0.5, MaxShingleDf)
          .orderBy(col("id_a"), col("id_b"))
      },
      // Mirrors jaccardPairs exactly: pair support counted over the
      // distinct (doc, shingle-hash) index with the df cap; na/nb are
      // uncapped distinct-shingle counts. dex is distinct (doc_id, h)
      // so a 60-bit hash collision merges identically on both engines.
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, $shinglesSql AS ss FROM w),
        |ex AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        |dex AS (SELECT DISTINCT doc_id, ${md5LongSql("s")} AS h FROM ex),
        |cnt AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |ok AS (SELECT h FROM dex GROUP BY h
        |       HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM dex a JOIN dex b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.h = a.h
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |       round(common::DOUBLE / (ca.n + cb.n - common), 6) AS jaccard
        |FROM p JOIN cnt ca ON ca.doc_id = p.id_a
        |       JOIN cnt cb ON cb.doc_id = p.id_b
        |WHERE round(common::DOUBLE / (ca.n + cb.n - common), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // Winnowing fingerprint census (Text.winnowPacked — the MOSS
    // selection rule): per-doc fingerprint count, observed density
    // (expectation 2/(w+1) ≈ 0.22), and a position-sensitive checksum
    // gating the EXACT selections (sum of packed values mod 1e9+7 —
    // a wrong tie-break or off-by-one window start flips it). Pure
    // per-row array algebra: the scan projection is the only
    // data-sized stage, nothing shuffles but the final sort.
    QueryDef("text_winnow_fingerprints",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"),
            greatest(size(split(lower(col("text")), " ")) - lit(WinnowK - 1),
              lit(0)).cast("int").as("n_grams"),
            graft.ops.Text.winnowPacked(col("text"), WinnowK, WinnowW).as("__sel"))
          .withColumn("n_select", size(col("__sel")).cast("int"))
          .withColumn("__nw", when(col("n_grams") >= 1,
            greatest(col("n_grams") - lit(WinnowW), lit(0)) + lit(1))
            .otherwise(lit(0)))
          .withColumn("density", when(col("__nw") > 0,
            round((col("n_select").cast("double") /
              col("__nw").cast("double")).cast(dec), 6).cast("double"))
            .otherwise(lit(0.0)))
          .withColumn("fp_sum", coalesce(
            aggregate(col("__sel"), lit(0L),
              (a, x) => a + pmod(x, lit(1000000007L))), lit(0L)))
          .select(col("doc_id"), col("n_grams"), col("n_select"),
            col("density"), col("fp_sum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${winnowSelSql(WinnowW)}
        |SELECT doc_id, n_grams::INT AS n_grams, len(sel)::INT AS n_select,
        |  CASE WHEN n_grams >= 1 THEN
        |    round((len(sel)::DOUBLE /
        |      (greatest(n_grams - $WinnowW, 0) + 1)::DOUBLE)::DECIMAL(18,8),
        |      6)::DOUBLE
        |  ELSE 0.0 END AS density,
        |  coalesce(list_sum(list_transform(sel, x -> x % 1000000007)),
        |           0)::BIGINT AS fp_sum
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Unicode differential twin of text_winnow_fingerprints (VERDICT
    // r11 #2): the full winnow chain — lower → space-split → 4-gram
    // md5 → pack → sliding minima — over the transliterated
    // multi-byte corpus (2-byte letters + the astral 𝕠; see
    // Text.uniTranslit). What it proves: Spark's lower() and
    // DuckDB's lower() agree on these codepoints (each target is
    // case-stable under both full Java mapping and utf8proc simple
    // mapping — the İ/final-sigma divergence class is deliberately
    // excluded and documented there as the engine boundary), and the
    // md5-of-UTF-8-bytes hashing is byte-identical through the whole
    // packed selection, fp_sum included.
    QueryDef("text_winnow_fingerprints_unicode",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
          .withColumn("text", graft.ops.Text.uniTranslit(col("text")))
        d.select(col("doc_id"),
            greatest(size(split(lower(col("text")), " ")) - lit(WinnowK - 1),
              lit(0)).cast("int").as("n_grams"),
            graft.ops.Text.winnowPacked(col("text"), WinnowK, WinnowW).as("__sel"))
          .withColumn("n_select", size(col("__sel")).cast("int"))
          .withColumn("__nw", when(col("n_grams") >= 1,
            greatest(col("n_grams") - lit(WinnowW), lit(0)) + lit(1))
            .otherwise(lit(0)))
          .withColumn("density", when(col("__nw") > 0,
            round((col("n_select").cast("double") /
              col("__nw").cast("double")).cast(dec), 6).cast("double"))
            .otherwise(lit(0.0)))
          .withColumn("fp_sum", coalesce(
            aggregate(col("__sel"), lit(0L),
              (a, x) => a + pmod(x, lit(1000000007L))), lit(0L)))
          .select(col("doc_id"), col("n_grams"), col("n_select"),
            col("density"), col("fp_sum"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${winnowSelSql(WinnowW,
          textExpr = graft.ops.Text.uniTranslitSql("text"))}
        |SELECT doc_id, n_grams::INT AS n_grams, len(sel)::INT AS n_select,
        |  CASE WHEN n_grams >= 1 THEN
        |    round((len(sel)::DOUBLE /
        |      (greatest(n_grams - $WinnowW, 0) + 1)::DOUBLE)::DECIMAL(18,8),
        |      6)::DOUBLE
        |  ELSE 0.0 END AS density,
        |  coalesce(list_sum(list_transform(sel, x -> x % 1000000007)),
        |           0)::BIGINT AS fp_sum
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Winnow-fingerprint shared-pair detection — the MOSS match step:
    // docs sharing ≥ 2 selected fingerprints, with overlap =
    // n_shared / min(|fp_a|, |fp_b|) (the containment form — a short
    // doc excerpted from a long one still scores high). The local
    // guarantee is what MinHash whole-doc Jaccard lacks: any shared
    // ≥ 11-word run fingerprints BOTH docs identically, so partial
    // plagiarism/quotation survives dilution by unrelated content.
    // Scale shape: the fingerprint inverted index is df-capped
    // (cappedIdSets — hot boilerplate fingerprints are dropped, never
    // exploded), pair work is bounded per bucket, and fingerprint
    // sets are ~4.5× smaller than shingle sets (density 2/(w+1)) —
    // the same discipline as dedup_ngram_jaccard at a fraction of the
    // index size.
    QueryDef("dedup_winnow_pairs",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val fps = d.select(col("doc_id"),
          explode(graft.ops.Text.winnowHashes(col("text"), WinnowK, WinnowW))
            .as("__h"))
        val cnts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
        // twoPass: count-prune the hot fingerprint buckets BEFORE any
        // id set materializes — the fps lineage is one cheap scan
        // projection, exactly the regime the strategy was measured for
        val pairs = Similarity.cappedIdSets(
            fps, Seq("__h"), "doc_id", WinnowMaxDf, "__ids", twoPass = true)
          .select(explode(Similarity.orderedPairs(col("__ids"))).as("__p"))
          .groupBy(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= WinnowMinShared)
        pairs
          .join(cnts.select(col("doc_id").as("id_a"), col("__n").as("__na")),
            "id_a")
          .join(cnts.select(col("doc_id").as("id_b"), col("__n").as("__nb")),
            "id_b")
          .select(col("id_a"), col("id_b"), col("n_shared"),
            round((col("n_shared").cast("double") /
              least(col("__na"), col("__nb")).cast("double")).cast(dec), 6)
              .cast("double").as("overlap"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH ${winnowSelSql(WinnowW)},
        |f AS (SELECT doc_id,
        |  unnest(list_distinct(list_transform(sel, x -> x // ${1L << 20})))
        |    AS h FROM s),
        |cnt AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
        |ok AS (SELECT h FROM f GROUP BY h
        |       HAVING count(*) BETWEEN 2 AND $WinnowMaxDf),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         count(*) AS n_shared
        |       FROM f a JOIN f b ON a.h = b.h AND a.doc_id < b.doc_id
        |       JOIN ok ON ok.h = a.h GROUP BY 1, 2)
        |SELECT pr.id_a, pr.id_b, pr.n_shared,
        |  round((pr.n_shared::DOUBLE / least(ca.n, cb.n)::DOUBLE)
        |    ::DECIMAL(18,8), 6)::DOUBLE AS overlap
        |FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a
        |        JOIN cnt cb ON cb.doc_id = pr.id_b
        |WHERE pr.n_shared >= $WinnowMinShared
        |ORDER BY id_a, id_b""".stripMargin)),

    // Winnow window-size tuning curve — observed fingerprint density
    // vs the paper's analytic expectation 2/(w+1) per window size,
    // the dial a user reads before sizing w (the lsh_band_curve /
    // ann_nprobe_curve / sketch_kmv_error_curve pattern applied to
    // winnowing): bigger w ⇒ sparser index but a longer detection
    // threshold (w + k − 1 words). ONE corpus scan computes all
    // three selections (the per-w kernels share the gram-hash child,
    // and the kernel is O(m) in each), then a 3-row stack — nothing
    // data-sized shuffles.
    QueryDef("text_winnow_density_curve",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val ws = Seq(4, 8, 16)
        val d = Tables.load(s, dir, "documents")
        val m = greatest(size(split(lower(col("text")), " ")) - lit(WinnowK - 1),
          lit(0))
        val cols =
          ws.map(w => size(graft.ops.Text.winnowPacked(col("text"), WinnowK, w))
            .cast("long").as(s"sel$w")) ++
          ws.map(w => when(m >= 1, greatest(m - lit(w), lit(0)) + lit(1))
            .otherwise(lit(0)).cast("long").as(s"win$w"))
        val agg = d.select(cols: _*).agg(
          sum(col("sel4")).as("s4"), sum(col("win4")).as("w4"),
          sum(col("sel8")).as("s8"), sum(col("win8")).as("w8"),
          sum(col("sel16")).as("s16"), sum(col("win16")).as("w16"))
        agg.select(expr(
            "stack(3, 4L, s4, w4, 8L, s8, w8, 16L, s16, w16)" +
              " AS (w, n_select, n_windows)"))
          .select(col("w"), col("n_select"), col("n_windows"),
            round((col("n_select").cast("double") /
              col("n_windows").cast("double")).cast(dec), 6).cast("double")
              .as("density"),
            round((lit(2.0) / (col("w").cast("double") + lit(1.0))).cast(dec), 6)
              .cast("double").as("analytic"))
          .orderBy(col("w"))
      },
      Some {
        def leg(w: Int) =
          s"""SELECT ${w}::BIGINT AS w,
          |  (SELECT CAST(coalesce(sum(len(sel)), 0) AS BIGINT) FROM s_$w)
          |    AS n_select,
          |  (SELECT CAST(coalesce(sum(CASE WHEN n_grams >= 1
          |      THEN greatest(n_grams - $w, 0) + 1 ELSE 0 END), 0) AS BIGINT)
          |    FROM s_$w) AS n_windows""".stripMargin
        s"""WITH ${winnowSelSql(4, "_4")},
        |${winnowSelSql(8, "_8")},
        |${winnowSelSql(16, "_16")},
        |u AS (${leg(4)}
        |UNION ALL
        |${leg(8)}
        |UNION ALL
        |${leg(16)})
        |SELECT w, n_select, n_windows,
        |  CAST(round(CAST(n_select::DOUBLE / n_windows::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS density,
        |  CAST(round(CAST(2.0 / (w::DOUBLE + 1.0) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS analytic
        |FROM u ORDER BY w""".stripMargin
      }),

    // J1-exact without the df cap — word-set Jaccard via PREFIX
    // filtering (Similarity.jaccardPrefixPairs): rarity-ordered token
    // prefixes give exact recall at the threshold with no cap
    // parameter to tune, the complement of the df-capped inverted
    // index above. Oracle is the definition itself: brute-force all
    // pairs with list_intersect (feasible because the documents table
    // is oracle-sized; the Spark side runs the real algorithm).
    QueryDef("dedup_jaccard_prefix",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.jaccardPrefixPairs(d, "doc_id", "text", 0.9)
          // lazy local checkpoint (r13): the final sort's
          // range-sampling pass re-evaluated the whole post-exchange
          // PPJoin verify stage (profiled: a duplicate 46 CPU-s stage
          // at sf0.1 — guide §7.2 duplicated subtrees). The verified
          // pairs are the query's own result — caching them is
          // result-bounded at any scale; the sort reads the cache.
          .stageCheckpoint(false)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    list_distinct(string_split(text, ' ')),
        |    t -> ('0x' || substring(md5(t), 1, 15))::BIGINT)) AS s
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
        |      AS jaccard
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)),

    // J1-asymmetric — shingle containment C = common/min(na, nb): the
    // quote/subset detector. A short doc embedded verbatim in a long
    // one scores containment ≈ 1 while its Jaccard stays below any
    // dedup threshold, so this catches the boilerplate-inclusion class
    // symmetric Jaccard misses. Same inverted-index + df-cap shape as
    // dedup_ngram_jaccard — one extra column in the final projection,
    // zero extra shuffles.
    QueryDef("dedup_containment",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.containmentPairs(d, "doc_id", "text", ShingleN, 0.6, MaxShingleDf)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, $shinglesSql AS ss FROM w),
        |ex AS (SELECT doc_id, unnest(ss) AS s FROM sh),
        |dex AS (SELECT DISTINCT doc_id, ${md5LongSql("s")} AS h FROM ex),
        |cnt AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
        |ok AS (SELECT h FROM dex GROUP BY h
        |       HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM dex a JOIN dex b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.h = a.h
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |       round(common::DOUBLE / least(ca.n, cb.n), 6) AS containment
        |FROM p JOIN cnt ca ON ca.doc_id = p.id_a
        |       JOIN cnt cb ON cb.doc_id = p.id_b
        |WHERE round(common::DOUBLE / least(ca.n, cb.n), 6) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin)),

    // Cluster curation: one representative per dup cluster — the doc
    // with the most content (max n_chars, ties to the lowest id). This
    // is the "keep the best copy" step a training-data pipeline runs
    // after clustering; rn=1 selection and the member count come from
    // the same window shuffle on cluster, so it adds ONE exchange to
    // the connected-components output.
    QueryDef("cluster_representatives",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands, Rows, MaxBucketSize)
        val members = Similarity.connectedComponents(pairs)
          .join(d.select(col("doc_id"), col("n_chars")), "doc_id")
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        members
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("rep_id"), col("n_members"))
          .orderBy(col("cluster"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |m AS (
        |  SELECT cc.doc_id, cc.cluster, d.n_chars
        |  FROM cc JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT cluster, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM m)
        |SELECT cluster, doc_id AS rep_id, n_members::BIGINT AS n_members
        |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    // Composition gate: dedup → representative → LLM map stage, the
    // end-to-end "summarize each duplicate cluster once" flow a
    // curation pipeline actually runs (dedup machinery feeds the
    // instruction engine; paying the LLM per CLUSTER instead of per
    // document is the whole point of deduping first). Same
    // representative rule as cluster_representatives; the mock-LLM
    // stage runs through the real runner (batching, cache, fan-out)
    // and the oracle re-renders the identical prompts over the
    // recursive-CTE representatives.
    QueryDef("pipe_cluster_summaries",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text",
          NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands,
          Rows, MaxBucketSize)
        val members = Similarity.connectedComponents(pairs)
          .join(d.select(col("doc_id"), col("n_chars")), "doc_id")
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val reps = members
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("rep_id"),
            col("n_members"))
        val withText = reps.join(
          d.select(col("doc_id").as("rep_id"), col("text")), "rep_id")
        val st0 = graft.pipeline.InstructionRunner.stringifyKv(
          withText, Seq("text"), "stage0_result")
        graft.pipeline.InstructionRunner.runStage(st0,
            graft.pipeline.InstructionStage("summ", Seq(ClusterSummIns)),
            graft.pipeline.MockLlmClient(), "stage0_result", "summ_result")
          .select(col("cluster"), col("rep_id"), col("n_members"),
            element_at(col("summ_result"), "summarize").as("summary"))
          .orderBy(col("cluster"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |m AS (
        |  SELECT cc.doc_id, cc.cluster, d.n_chars
        |  FROM cc JOIN documents d USING (doc_id)),
        |r AS (
        |  SELECT cluster, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM m),
        |reps AS (
        |  SELECT cluster, doc_id AS rep_id, n_members::BIGINT AS n_members
        |  FROM r WHERE rn = 1)
        |SELECT reps.cluster, reps.rep_id, reps.n_members,
        |  ${PipelineQueries.mockResponseSql(ClusterSummIns,
             Map("text" -> "d2.text"))} AS summary
        |FROM reps JOIN documents d2 ON d2.doc_id = reps.rep_id
        |ORDER BY reps.cluster""".stripMargin)),

    // Centrality-ranked canonical representatives: PageRank over the
    // dup-pair graph picks each cluster's most-linked member (the
    // principled upgrade over first-seen/longest-doc — the member most
    // candidate pairs vouch for), via the same fixed-point BIGINT
    // pageRank as graph_pagerank_parts so the oracle's unrolled-CTE
    // replay hashes bit-identically. Composition gate: pageRank over a
    // DERIVED graph (LSH candidate pairs), not a synthetic one.
    QueryDef("cluster_rank_representatives",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands, Rows, MaxBucketSize)
        val und = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs.select(col("id_b"), col("id_a")))
        val pr = graft.ops.Graph.pageRank(und, "src", "dst", iters = PrIters)
        val members = Similarity.connectedComponents(pairs)
        val ranked = members.join(pr.withColumnRenamed("node", "doc_id"), "doc_id")
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("r").desc, col("doc_id"))
        ranked
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("cluster"))))
          .where(col("rn") === 1)
          .select(col("cluster"), col("doc_id").as("rep_id"),
            col("r").as("rep_rank"), col("n_members"))
          .orderBy(col("cluster"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |$pageRankCtesSql,
        |ranked AS (
        |  SELECT cc.doc_id, cc.cluster, pr$PrIters.r
        |  FROM cc JOIN pr$PrIters ON pr$PrIters.node = cc.doc_id),
        |x AS (
        |  SELECT cluster, doc_id, r,
        |    ROW_NUMBER() OVER (PARTITION BY cluster
        |      ORDER BY r DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster) AS n_members
        |  FROM ranked)
        |SELECT cluster, doc_id AS rep_id, r AS rep_rank,
        |  n_members::BIGINT AS n_members
        |FROM x WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    // J1-pipeline — LSH recall + exact-Jaccard precision: the
    // production near-dup shape (only LSH candidates pay the exact
    // set intersection).
    QueryDef("dedup_lsh_verified",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.lshVerifiedPairs(d, "doc_id", "text", 0.5,
            NumPerms, ShingleN, Bands, Rows, MaxBucketSize)
          .orderBy(col("id_a"), col("id_b"))
      },
      // ss mirrors the Spark side's hashed shingle sets: distinct
      // md5Long values of the distinct shingles
      Some(s"""$lshPairsSql,
        |ss AS (SELECT doc_id,
        |  list_distinct(list_transform($shinglesSql,
        |    s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)) AS ss FROM w),
        |v AS (
        |  SELECT p.id_a, p.id_b,
        |    round(len(list_intersect(a.ss, b.ss))::DOUBLE /
        |      (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))), 6) AS jaccard
        |  FROM pairs p
        |  JOIN ss a ON a.doc_id = p.id_a
        |  JOIN ss b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, jaccard FROM v
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // J1-eval — MinHash estimate quality (Similarity.
    // minhashEstimateReport): per LSH candidate, the signature
    // estimate next to the true shingle Jaccard — the numPerms/
    // bands/rows tuning report. Both engines derive est from the
    // same integer component-match count and true from the same
    // hashed-set intersection.
    QueryDef("dedup_minhash_estimate",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.minhashEstimateReport(d, "doc_id", "text",
            NumPerms, ShingleN, Bands, Rows, MaxBucketSize)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val estTerms = (0 until NumPerms)
          .map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
        s"""$lshPairsSql,
        |ss AS (SELECT doc_id,
        |  list_distinct(list_transform($shinglesSql,
        |    s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)) AS ss FROM w),
        |e AS (
        |  SELECT p.id_a, p.id_b,
        |    ($estTerms)::DOUBLE / ${NumPerms}.0 AS est,
        |    len(list_intersect(a.ss, b.ss))::DOUBLE /
        |      (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) AS tru
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b
        |  JOIN ss a ON a.doc_id = p.id_a
        |  JOIN ss b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, round(est, 6) AS est_jaccard,
        |  round(tru, 6) AS true_jaccard, round(abs(est - tru), 6) AS abs_err
        |FROM e ORDER BY id_a, id_b""".stripMargin
      }),

    // J1-storage — b-BIT minhash estimate quality (Li & König 2010):
    // what truncating every signature slot to its lowest 2 bits (a
    // 32× smaller signature — 16 bytes/doc instead of 512 at 100 TB)
    // costs in estimate error, per LSH candidate, next to the
    // full-width estimate and the exact set Jaccard. The corrected
    // estimator (p̂ − ¼)/¾ removes the random low-bit collision mass;
    // both engines compute it from the same integer match counts.
    QueryDef("dedup_minhash_bbit",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Similarity.minhashBbitReport(d, "doc_id", "text", 2,
            NumPerms, ShingleN, Bands, Rows, MaxBucketSize)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val estTerms = (0 until NumPerms)
          .map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
        val bTerms = (0 until NumPerms)
          .map(i => s"CAST(sa.m$i % 4 = sb.m$i % 4 AS INT)").mkString(" + ")
        s"""$lshPairsSql,
        |ss AS (SELECT doc_id,
        |  list_distinct(list_transform($shinglesSql,
        |    s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)) AS ss FROM w),
        |e AS (
        |  SELECT p.id_a, p.id_b,
        |    ($estTerms)::DOUBLE / ${NumPerms}.0 AS est,
        |    greatest(0.0, (($bTerms)::DOUBLE / ${NumPerms}.0 - 0.25)
        |      / 0.75) AS estb,
        |    len(list_intersect(a.ss, b.ss))::DOUBLE /
        |      (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))) AS tru
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b
        |  JOIN ss a ON a.doc_id = p.id_a
        |  JOIN ss b ON b.doc_id = p.id_b)
        |SELECT id_a, id_b, round(est, 6) AS est_full,
        |  round(estb, 6) AS est_bbit,
        |  round(tru, 6) AS true_jaccard,
        |  round(abs(est - tru), 6) AS err_full,
        |  round(abs(estb - tru), 6) AS err_bbit
        |FROM e ORDER BY id_a, id_b""".stripMargin
      }),

    // J1-tuning — LSH band-probability curve: per true-Jaccard bin,
    // observed candidate rate (exact-recall PPJoin denominator, band
    // bucket numerator) vs the analytic 1−(1−s^r)^b. The report that
    // says whether bands/rows put the collision knee AT the dedup
    // threshold before a production run bets on it. Bins are integer
    // (10·common) div union — no float bin edges to disagree on.
    QueryDef("lsh_band_curve",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        // The synthetic corpus's organic near-dups all sit at J ≥ 0.8,
        // which exercises only the flat top of the curve. Augment with
        // prefix-truncated copies of the first 200 docs at
        // 11/13/15/17 twentieths — shingle-prefix subsets whose true
        // Jaccard lands ≈ 0.5-0.85, populating the bins where the
        // analytic knee actually lives. Pure integer arithmetic
        // ((len·k) div 20), so both engines build the same corpus.
        Similarity.lshBandCurveReport(curveAugmented(d), "doc_id", "text",
          LshCurveThreshold, NumPerms, ShingleN, Bands, Rows, MaxBucketSize)
      },
      Some {
        val jChain = Seq.fill(Rows)("j").mkString(" * ")
        val tChain = Seq.fill(Bands)("t").mkString(" * ")
        s"""${lshPairsSqlFrom(curveAugSrcSql("aug"))},
        |ss AS (SELECT doc_id,
        |  list_distinct(list_transform($shinglesSql,
        |    s -> ${md5LongSql("s")})) AS ss FROM w),
        |ex AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.ss, b.ss)) AS common,
        |    len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)) AS u
        |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id),
        |exf AS (SELECT * FROM ex
        |  WHERE round(common::DOUBLE / u, 6) >= $LshCurveThreshold),
        |cv AS (
        |  SELECT e.common, e.u,
        |    CASE WHEN p.id_a IS NULL THEN 0 ELSE 1 END AS hit,
        |    e.common::DOUBLE / e.u AS j
        |  FROM exf e LEFT JOIN pairs p
        |    ON p.id_a = e.id_a AND p.id_b = e.id_b),
        |c1 AS (SELECT (10 * common) // u AS sim_bin, hit,
        |  1 - ($jChain) AS t FROM cv),
        |c2 AS (SELECT sim_bin, hit, 1 - ($tChain) AS p FROM c1)
        |SELECT sim_bin, count(*) AS n_pairs,
        |  CAST(sum(hit) AS BIGINT) AS n_candidates,
        |  CAST(round(CAST(CAST(sum(hit) AS DOUBLE) / count(*)::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS observed_rate,
        |  CAST(round(CAST(CAST(sum(CAST(p AS DECIMAL(18,8))) AS DOUBLE)
        |    / count(*)::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) AS analytic_rate
        |FROM c2 GROUP BY sim_bin ORDER BY sim_bin""".stripMargin
      }),

    // J1-planning — LSH (bands, rows) parameter plan (TODO r9
    // candidate, Similarity.lshParamPlan): pick the signature split a
    // dedup deployment should use from the OBSERVED pair-similarity
    // distribution — expected recall over J ≥ 0.7 pairs and expected
    // wasted-verify rate over 0.5 ≤ J < 0.7 pairs for each divisor
    // split of the 64-perm signature, selected = fewest bands meeting
    // recall ≥ 0.9. Runs on a deterministic quarter sample
    // (doc_id % 4 = 0) of the curve-augmented corpus — the production
    // planner shape (plan on a sample, deploy on the corpus), and it
    // keeps this gate's PPJoin + the oracle's all-pairs check ~16×
    // cheaper than lsh_band_curve's full-corpus denominator.
    QueryDef("lsh_param_plan",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(4)) === 0)
          .select(col("doc_id"), col("text"))
        Similarity.lshParamPlan(curveAugmented(d), "doc_id", "text",
          tauMin = LshCurveThreshold, tauTarget = PlanTauTarget,
          recallFloor = PlanRecallFloor, numPerms = NumPerms,
          shingleN = ShingleN, plans = PlanSplits)
      },
      Some(lshParamPlanOracleSql)),

    // Chunk-level shared-content pairs (substring-dedup family at
    // chunk granularity): doc pairs sharing ≥2 identical 64-word
    // chunks (48-word stride). Same group-then-pair inverted index as
    // the shingle paths — chunks group by md5, groups above the df cap
    // drop (boilerplate chunks shared by thousands of docs are
    // non-discriminative AND would blow up quadratically). Input is
    // documents ∪ (first 100 docs re-keyed) so cross-doc chunk sharing
    // actually exists in the synthetic corpus.
    QueryDef("dedup_chunk_shared",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val u = d.select(col("doc_id"), col("text"))
          .union(d.where(col("doc_id") < 100L)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        // array_distinct before explode: (doc_id, h) rows are distinct
        // by construction, the precondition of the two-pass capped
        // prefilter (and what the oracle's DISTINCT dex mirrors).
        val dex = u
          .select(col("doc_id"),
            explode(array_distinct(transform(
              graft.ops.Text.wordChunks(col("text"), 64, 48),
              c => md5(c)))).as("h"))
        Similarity.cappedIdSets(dex, Seq("h"), "doc_id", MaxShingleDf, "ids")
          .select(explode(Similarity.orderedPairs(col("ids"))).as("p"))
          .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 2)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 100),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM u),
        |c AS (
        |  SELECT doc_id, md5(array_to_string(w[i*48+1 : i*48+64], ' ')) AS h
        |  FROM w, LATERAL unnest(
        |    range(0, (greatest(len(w) - 64, 0) + 47) // 48 + 1)) AS t(i)),
        |dex AS (SELECT DISTINCT doc_id, h FROM c),
        |ok AS (SELECT h FROM dex GROUP BY h
        |       HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |  FROM dex a JOIN dex b ON a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.h = a.h
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p
        |WHERE n_shared >= 2 ORDER BY id_a, id_b""".stripMargin)),

    // Edit-distance near-dup with length-band blocking: pairs whose
    // 256-char heads are within EditMaxDist Levenshtein edits. Blocking
    // = (lang, n_chars/64 band), each doc voting for its own band and
    // the next so boundary-straddling pairs still meet; the per-block
    // MaxBucketSize cap bounds the quadratic blow-up (real corpora
    // cluster hard by length — production blocking adds a signature
    // prefix to the key, same cap discipline). The O(head²) DP runs
    // only on surviving capped pairs, never on the corpus.
    QueryDef("dedup_edit_distance",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            substring(col("text"), 1, EditHeadChars).as("__head"),
            floor(col("n_chars") / EditBandChars).cast("long").as("__b"))
        val bands = d.select(col("doc_id"), col("lang"),
          explode(array(col("__b"), col("__b") + 1)).as("__band"))
        val pairs = Similarity
          .cappedIdSets(bands, Seq("lang", "__band"), "doc_id",
            MaxBucketSize, "__ids")
          // spread buckets before the O(bucket²) pair explode (r13):
          // the bucket frame is a few KB, so AQE coalesced it to ONE
          // partition and the 1.5M-pair explode ran single-threaded
          // (profiled 1.3 s on 1 task at sf0.1). Explode output size
          // is invisible to AQE's byte-based sizing — pin the
          // session's shuffle-partition count (guide §2.5).
          .repartition(graft.ops.Tuning.sessionShufflePartitions(s))
          .select(explode(Similarity.orderedPairs(col("__ids"))).as("__p"))
          .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
          .distinct()
        val heads = d.select(col("doc_id"), col("__head"))
        pairs
          .join(heads.select(col("doc_id").as("id_a"), col("__head").as("__ha")), "id_a")
          .join(heads.select(col("doc_id").as("id_b"), col("__head").as("__hb")), "id_b")
          // head-length gap bounds the distance from below — prune
          // before any DP runs (result-preserving: those pairs would
          // fail the <= EditMaxDist filter anyway)
          .where(abs(length(col("__ha")) - length(col("__hb"))) <= EditMaxDist)
          // spread the DP over the full task budget (r13, guide §2.5):
          // the candidate-pair exchange is ~8 MB, so AQE's byte-based
          // coalescing handed the DP stage 8 partitions — but the
          // banded DP costs ~10³ CPU per input byte, so byte-sizing
          // starves it of cores (profiled: 2×50 CPU-s on 8 of 32
          // tasks). Hash-repartition on the pair key at the session's
          // shuffle-partition count (the scale knob a cluster tunes;
          // AQE honors the explicit count) restores full parallelism.
          // (full session count is RIGHT here, unlike the r13 pins
          // made work-derived in r14: the banded DP is ~50 CPU-s of
          // real per-pair work — the one query whose c8/c32 scaling
          // ratio is >1 — so it saturates any local task budget)
          .repartition(graft.ops.Tuning.sessionShufflePartitions(s),
            col("id_a"), col("id_b"))
          // thresholded Levenshtein: banded O(len·k) DP with early
          // abandon (returns -1 past the threshold) instead of the
          // full O(len²) table — exact for every distance we keep.
          // Measured 119.6 s → (see SCALING.md) at sf0.1; the DP over
          // ~1.5M capped candidate pairs was 61 % of the whole bench.
          .withColumn("lev",
            levenshtein(col("__ha"), col("__hb"), EditMaxDist).cast("long"))
          .where(col("lev") >= 0 && col("lev") <= EditMaxDist)
          .select(col("id_a"), col("id_b"), col("lev"))
          // lazy local checkpoint: the final sort's range-sampling
          // pass re-evaluated the whole post-exchange DP subtree (two
          // identical 50 CPU-s stages profiled at sf0.1 — guide §7.2
          // duplicated-subtree check). The surviving pairs are a
          // result-sized frame, so caching them is bounded at any
          // corpus size; the sort then reads the cache.
          .stageCheckpoint(false)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id, lang, substring(text, 1, $EditHeadChars) AS head,
        |    n_chars // $EditBandChars AS b
        |  FROM documents),
        |bd AS (SELECT doc_id, lang, unnest([b, b + 1]) AS band FROM d),
        |ok AS (SELECT lang, band FROM bd GROUP BY 1, 2
        |       HAVING count(*) BETWEEN 2 AND $MaxBucketSize),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM bd a JOIN bd b2
        |    ON a.lang = b2.lang AND a.band = b2.band AND a.doc_id < b2.doc_id
        |  JOIN ok ON ok.lang = a.lang AND ok.band = a.band)
        |SELECT p.id_a, p.id_b, levenshtein(da.head, db.head)::BIGINT AS lev
        |FROM p JOIN d da ON da.doc_id = p.id_a
        |       JOIN d db ON db.doc_id = p.id_b
        |WHERE levenshtein(da.head, db.head) <= $EditMaxDist
        |ORDER BY id_a, id_b""".stripMargin)),

    // SimHash — 16-bit signature per doc (near-dup = small hamming
    // distance; the signature is the verifiable deterministic core).
    QueryDef("dedup_simhash",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"), simhash16(col("text")).as("sh"))
          .orderBy(col("doc_id"))
      },
      Some(simhashSql)),

    // Embedding-cosine near-dup: same-label pairs above a similarity
    // threshold. Label acts as the blocking key, and a per-label
    // block-size guard (MaxCosineBlock) routes hot labels through
    // sign-LSH sub-blocking — one label with 1M vectors would
    // otherwise be 5·10¹¹ pairs, the exact skew class
    // MaxShingleDf/MaxBucketSize guard on the shingle paths. The cap
    // is live at test scale (labels > 50 rows sub-block at sf0.1) and
    // mirrored verbatim in the oracle.
    QueryDef("dedup_embedding_cosine",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
        Similarity.cosineDedupBlocked(e, "vec_id", "label", "embedding",
            minCos = 0.4, maxBlockSize = MaxCosineBlock,
            subPlanes = CosineSubPlanes)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH e0 AS (
        |  SELECT vec_id, label, embedding,
        |    count(*) OVER (PARTITION BY label) AS n_lbl
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, label, embedding,
        |    CASE WHEN n_lbl <= $MaxCosineBlock THEN -1
        |      ELSE ${SimilarityQueries.bucketSql("embedding", CosineSubPlanes)}
        |    END AS blk
        |  FROM e0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        |FROM e a JOIN e b
        |  ON a.label = b.label AND a.blk = b.blk AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)),

    // Incremental-ingest exact path: new snapshot minus the known
    // corpus by content fingerprint (the exact-hash twin of
    // minhashDedupIncremental's near-dup path). One anti join on the
    // fingerprint — the known side ships only its fingerprint column,
    // so at 100 TB the shuffle carries hashes, not documents. The
    // "known" snapshot here is simulated as doc_id % 3 != 0.
    QueryDef("snapshot_diff_new_docs",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val known = d.where(col("doc_id") % 3 =!= 0)
          .select(fingerprint(col("text")).as("known_fp"))
        d.withColumn("fp", fingerprint(col("text")))
          .join(known, col("fp") === col("known_fp"), "left_anti")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_new"))
          .orderBy(col("lang"))
      },
      Some("""WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |known AS (SELECT fp FROM fp WHERE doc_id % 3 <> 0)
        |SELECT lang, COUNT(*) AS n_new
        |FROM fp
        |WHERE NOT EXISTS (SELECT 1 FROM known WHERE known.fp = fp.fp)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Incremental ingest at scale: the bloom-prefiltered variant of
    // snapshot_diff. A sketch of the known fingerprints is built in
    // one shuffle-free pass and probed at scan time, so the
    // definitely-new rows (the bulk of a fresh crawl) never enter the
    // anti-join shuffle — only might-contain rows (~fpp of the new
    // side + true dups) pay the exact check. Result is EXACTLY the
    // plain anti join (no false negatives + exact confirm), which is
    // what the oracle asserts. Known snapshot simulated as
    // doc_id % 4 != 0.
    QueryDef("snapshot_diff_bloom",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .withColumn("fp", fingerprint(col("text")))
        val known = d.where(col("doc_id") % 4 =!= 0)
          .select(col("fp").as("known_fp"))
        graft.ops.Bloom.antiJoinBloom(d, "fp", known, "known_fp",
            expectedItems = 100 * 1000, fpp = 0.03)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_new"))
          .orderBy(col("lang"))
      },
      Some("""WITH fp AS (
        |  SELECT doc_id, lang,
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |known AS (SELECT fp FROM fp WHERE doc_id % 4 <> 0)
        |SELECT lang, COUNT(*) AS n_new
        |FROM fp
        |WHERE NOT EXISTS (SELECT 1 FROM known WHERE known.fp = fp.fp)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    // Keyed MERGE/upsert — the CDC maintenance pass a corpus table
    // needs between crawls: matched keys take the update's content,
    // unmatched update keys insert, everything else is kept. One
    // full-outer sort-merge join on the key — both sides shuffle on
    // doc_id once; at 100 TB bucketing or Z-order layout on doc_id
    // (ops/Layout) makes the rewrite partition-aligned instead of a
    // full-table shuffle. The updates batch is simulated from the
    // corpus (detHash slice rewrites content; a shifted-id slice
    // inserts). Content compares by md5 so the gate never ships text.
    // The simulated update is a byte-exact concat, NOT upper(): Java's
    // full case mapping and utf8proc's simple mapping disagree on ß
    // (SS vs ẞ — fuzz class), and the gate is about MERGE semantics,
    // not case folding.
    QueryDef("merge_upsert_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val base = d.select(col("doc_id"), col("text"))
        val updates =
          d.where(detHash(10L, col("doc_id")) === 1L)
            .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
          .union(
            d.where(detHash(10L, col("doc_id")) === 2L)
              .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        base.as("b")
          .join(updates.as("u"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            md5(coalesce(col("u.text"), col("b.text"))).as("content_md5"),
            when(col("u.text").isNotNull && col("b.text").isNotNull, "updated")
              .when(col("b.text").isNull, "inserted")
              .otherwise("kept").as("action"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents),
        |upd AS (
        |  SELECT doc_id, text || ' v2' AS text FROM documents
        |  WHERE ${detHashSql(10L, Seq("doc_id"))} = 1
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents
        |  WHERE ${detHashSql(10L, Seq("doc_id"))} = 2),
        |m AS (
        |  SELECT coalesce(b.doc_id, u.doc_id) AS doc_id,
        |    md5(coalesce(u.text, b.text)) AS content_md5,
        |    CASE WHEN u.text IS NOT NULL AND b.text IS NOT NULL THEN 'updated'
        |         WHEN b.text IS NULL THEN 'inserted'
        |         ELSE 'kept' END AS action
        |  FROM base b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id)
        |SELECT doc_id, content_md5, action FROM m
        |ORDER BY doc_id""".stripMargin)),

    // Idempotent partition replacement (INSERT OVERWRITE by
    // partition) — the OTHER production ingest shape next to keyed
    // MERGE above. This gate runs the REAL write path: snapshot the
    // corpus partitioned by lang, dynamically overwrite the 'en'
    // partition with a re-delivered batch TWICE (the retry must be a
    // no-op — at-least-once delivery is the norm), read the table
    // back, and account rows + content per partition. The oracle
    // models the committed state declaratively (non-en partitions
    // untouched, en = exactly the batch), so file-level mistakes —
    // static-mode truncation of other partitions, append duplicates
    // on retry — fail the hash compare. At 100 TB the write cost is
    // proportional to the replaced partition, never the table.
    QueryDef("ingest_partition_overwrite",
      (s, dir) => {
        import graft.sources.PartitionedSnapshot
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val batch = d.where(col("lang") === "en" &&
            detHash(2L, col("doc_id")) === 0L)
          .select(col("doc_id"), col("lang"), upper(col("text")).as("text"))
        // SIDE EFFECT, by design: building this QueryDef's DataFrame
        // RUNS the snapshot + two overwrite jobs + read-back — the
        // gate exists to exercise the real write path, so plan-only
        // tooling pays that cost too. The temp snapshot is deleted in
        // the finally (repeated gate/bench runs must not leak disk);
        // the tiny per-lang aggregate is collected first and returned
        // as a local frame so the surviving plan holds no reference
        // to the deleted path.
        val path = java.nio.file.Files.createTempDirectory("graft-snap")
        try {
          PartitionedSnapshot.write(d, path.toString, "lang")
          PartitionedSnapshot.overwritePartitions(batch, path.toString, "lang")
          PartitionedSnapshot.overwritePartitions(batch, path.toString, "lang")
          val res = PartitionedSnapshot.read(s, path.toString)
            .groupBy(col("lang"))
            .agg(count(lit(1)).as("n_rows"),
              sum(pmod(hash60(col("text")), lit(1000003L))).as("content_sig"))
            .orderBy(col("lang"))
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          java.nio.file.Files.walk(path)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        }
      },
      // NULLIF(lang, ''): a partition COLUMN value of '' does not
      // round-trip through the Hive directory layout — Spark writes
      // it as __HIVE_DEFAULT_PARTITION__ and reads it back as NULL
      // (fuzz class). The oracle mirrors that documented storage
      // semantics; non-empty values are untouched.
      Some(s"""WITH final AS (
        |  SELECT doc_id, lang, text FROM documents WHERE lang <> 'en'
        |  UNION ALL
        |  SELECT doc_id, lang, upper(text) AS text FROM documents
        |  WHERE lang = 'en' AND ${detHashSql(2L, Seq("doc_id"))} = 0)
        |SELECT NULLIF(lang, '') AS lang, COUNT(*) AS n_rows,
        |  CAST(SUM(${md5LongSql("text")} % 1000003) AS BIGINT) AS content_sig
        |FROM final
        |GROUP BY 1
        |ORDER BY lang NULLS FIRST""".stripMargin)),

    // Per-source dedup impact: what the MinHash-LSH first-seen-wins
    // pass removes from each source — doc and token counts, removal
    // rate, and how much of the removal is CROSS-source (this
    // source's docs dropped in favor of a canonical that lives
    // elsewhere — the "source B is a mirror of source A" signal that
    // per-corpus dup rates can't see). Canonical attribution is
    // Similarity.lshCanonicalIds (min id over the doc's band
    // buckets); the canonical's source arrives by one id-keyed join —
    // the corpus never self-joins pairwise. Plan: signature pipeline
    // + (band,bv) window + two id shuffles + per-source rollup.
    QueryDef("dedup_impact_by_source",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        val canon = Similarity.lshCanonicalIds(sig, "doc_id", Bands, Rows)
        val src = d.select(col("doc_id"), col("source"),
          wordCount(col("text")).cast("long").as("nw"))
        val lab = src.join(canon, "doc_id")
          .join(src.select(col("doc_id").as("canon_id"),
            col("source").as("canon_source")), Seq("canon_id"))
          .withColumn("removed", col("canon_id") < col("doc_id"))
        lab.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("removed") && col("canon_source") =!= col("source"),
              1L).otherwise(0L)).as("n_cross_source"),
            sum(when(col("removed"), col("nw")).otherwise(0L)).as("words_removed"),
            round(sum(when(col("removed"), 1L).otherwise(0L)).cast("double") /
              count(lit(1)).cast("double"), 6).as("removal_rate"))
          .orderBy(col("source"))
      },
      Some(s"""$lshBandsSql,
        |mn AS (
        |  SELECT doc_id,
        |    min(doc_id) OVER (PARTITION BY band, bv) AS mn
        |  FROM bands),
        |canon AS (SELECT doc_id, min(mn) AS canon_id FROM mn GROUP BY doc_id),
        |src AS (
        |  SELECT doc_id, source,
        |    len(string_split(text, ' '))::BIGINT AS nw
        |  FROM documents)
        |SELECT s.source, COUNT(*) AS n_docs,
        |  SUM(CASE WHEN c.canon_id < s.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  SUM(CASE WHEN c.canon_id < s.doc_id AND cs.source <> s.source
        |    THEN 1 ELSE 0 END)::BIGINT AS n_cross_source,
        |  SUM(CASE WHEN c.canon_id < s.doc_id THEN s.nw ELSE 0 END)::BIGINT
        |    AS words_removed,
        |  round(SUM(CASE WHEN c.canon_id < s.doc_id THEN 1 ELSE 0 END)
        |    / COUNT(*)::DOUBLE, 6) AS removal_rate
        |FROM src s
        |JOIN canon c USING (doc_id)
        |JOIN src cs ON cs.doc_id = c.canon_id
        |GROUP BY s.source ORDER BY s.source""".stripMargin)),

    // Leakage-safe cross-validation folds: every member of a near-dup
    // cluster (connected component over the LSH candidate graph —
    // the same graph as dedup_clusters) hashes to the SAME fold,
    // because the fold is detHash of the CLUSTER label, not the doc
    // id. Plain per-doc fold hashing leaks near-duplicates across the
    // train/held-out boundary and inflates eval; this is the
    // group-aware K-fold that prevents it. Singleton docs are their
    // own cluster (left join + coalesce). Output is the per-fold
    // census a split designer checks for balance. Scale: CC is the
    // audited pointer-jumped fixed point; everything after is one
    // left join + one 5-row rollup.
    QueryDef("cv_folds_leakage_safe",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val sig = Similarity.minhashSignatures(d, "doc_id", "text", NumPerms, ShingleN)
        val pairs = Similarity.lshCandidatePairs(sig, "doc_id", Bands, Rows, MaxBucketSize)
        val cc = Similarity.connectedComponents(pairs)
        val lab = d.select(col("doc_id"),
            wordCount(col("text")).cast("long").as("nw"))
          .join(cc, Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
          .withColumn("fold", detHash(CvFolds, col("cluster")))
        val total = d.count().toDouble
        lab.groupBy(col("fold"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"),
            sum(col("nw")).as("n_words"),
            round(count(lit(1)).cast("double") / lit(total), 6).as("share"))
          .orderBy(col("fold"))
      },
      Some(s"""${lshPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |und AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
        |cc AS (
        |  SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster
        |  FROM reach GROUP BY src),
        |lab AS (
        |  SELECT d.doc_id,
        |    len(string_split(d.text, ' '))::BIGINT AS nw,
        |    COALESCE(cc.cluster, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN cc USING (doc_id))
        |SELECT ${detHashSql(CvFolds, Seq("cluster"))} AS fold,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT cluster) AS n_clusters,
        |  SUM(nw)::BIGINT AS n_words,
        |  round(COUNT(*) / (SELECT COUNT(*) FROM documents)::DOUBLE, 6) AS share
        |FROM lab GROUP BY fold ORDER BY fold""".stripMargin)),

    // Exact duplicated-substring spans (ExactSubstr-style, cross-doc,
    // k=8 token min-match): per-source census of maximal duplicated
    // spans — the sub-document complement to every document-level
    // dedup above. dup_frac is the fraction of each source's tokens
    // sitting inside a span that also appears verbatim in another
    // document: the number a span-cutting pass would remove.
    QueryDef("dedup_substr_spans",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val spans = graft.ops.Text.duplicatedSpans(d, "doc_id", "text", DupSpanK)
        val perDoc = spans.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_end") - col("span_start") + 1).as("dup_tokens"),
            max(col("span_end") - col("span_start") + 1).as("max_span"))
        d.select(col("doc_id"), col("source"),
            wordCount(col("text")).cast("long").as("nw"))
          .join(perDoc, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_spans")).as("n_docs_flagged"),
            coalesce(sum(col("n_spans")), lit(0L)).as("n_spans"),
            coalesce(sum(col("dup_tokens")), lit(0L)).as("dup_tokens"),
            coalesce(max(col("max_span")), lit(0L)).as("max_span"),
            sum(col("nw")).as("total_tokens"))
          .select(col("source"), col("n_docs"), col("n_docs_flagged"),
            col("n_spans"), col("dup_tokens"), col("max_span"),
            round((col("dup_tokens").cast("double") /
              col("total_tokens").cast("double")).cast(dec), 6)
              .cast("double").as("dup_frac"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    ('0x' || substring(md5(array_to_string(w[i:i+${DupSpanK - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM w, LATERAL unnest(range(1, len(w) - ${DupSpanK - 2})) AS t(i)
        |  WHERE len(w) >= $DupSpanK),
        |dup AS (SELECT h FROM g GROUP BY h HAVING min(doc_id) <> max(doc_id)),
        |hits AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (h)),
        |pe AS (
        |  SELECT doc_id, i,
        |    max(i + ${DupSpanK - 1}) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM pe),
        |spans AS (
        |  SELECT doc_id, island, min(i) AS s, max(i) + ${DupSpanK - 1} AS e
        |  FROM isl GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        |    CAST(max(e - s + 1) AS BIGINT) AS max_span
        |  FROM spans GROUP BY 1)
        |SELECT w.source, count(*) AS n_docs,
        |  count(p.doc_id) AS n_docs_flagged,
        |  COALESCE(CAST(sum(p.n_spans) AS BIGINT), 0) AS n_spans,
        |  COALESCE(CAST(sum(p.dup_tokens) AS BIGINT), 0) AS dup_tokens,
        |  COALESCE(CAST(max(p.max_span) AS BIGINT), 0) AS max_span,
        |  CAST(round(CAST(COALESCE(sum(p.dup_tokens), 0)::DOUBLE
        |    / sum(len(w.w))::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) AS dup_frac
        |FROM w LEFT JOIN perdoc p USING (doc_id)
        |GROUP BY w.source
        |ORDER BY source""".stripMargin)),

    // ExactSubstr cutting census under keep-first-occurrence: unlike
    // dedup_substr_spans (which counts EVERY duplicated occurrence),
    // this is what a span-cutting pass actually deletes — positions
    // whose covering duplicated window also lives in a smaller-id doc,
    // so each duplicated run survives exactly once (in its lowest-id
    // holder). tokens_cut / tokens_total is the real corpus shrinkage.
    QueryDef("dedup_substr_prune",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val spans = graft.ops.Text.duplicatedSpansToCut(d, "doc_id", "text",
          DupSpanK)
        val perDoc = spans.groupBy(col("doc_id"))
          .agg(sum(col("span_end") - col("span_start") + 1).as("cut"))
        d.select(col("doc_id"), col("source"),
            wordCount(col("text")).cast("long").as("nw"))
          .join(perDoc, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("cut")).as("n_docs_cut"),
            sum(col("nw")).as("tokens_total"),
            coalesce(sum(col("cut")), lit(0L)).as("tokens_cut"))
          .select(col("source"), col("n_docs"), col("n_docs_cut"),
            col("tokens_total"), col("tokens_cut"),
            (col("tokens_total") - col("tokens_cut")).as("tokens_kept"),
            round((col("tokens_cut").cast("double") /
              col("tokens_total").cast("double")).cast(dec), 6)
              .cast("double").as("cut_frac"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    ('0x' || substring(md5(array_to_string(w[i:i+${DupSpanK - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM w, LATERAL unnest(range(1, len(w) - ${DupSpanK - 2})) AS t(i)
        |  WHERE len(w) >= $DupSpanK),
        |dup AS (
        |  SELECT h, min(doc_id) AS mn FROM g GROUP BY h
        |  HAVING min(doc_id) <> max(doc_id)),
        |hits AS (
        |  SELECT g.doc_id, g.i FROM g JOIN dup USING (h)
        |  WHERE g.doc_id > dup.mn),
        |pe AS (
        |  SELECT doc_id, i,
        |    max(i + ${DupSpanK - 1}) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM pe),
        |spans AS (
        |  SELECT doc_id, island, min(i) AS s, max(i) + ${DupSpanK - 1} AS e
        |  FROM isl GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS cut
        |  FROM spans GROUP BY 1)
        |SELECT w.source, count(*) AS n_docs,
        |  count(p.doc_id) AS n_docs_cut,
        |  CAST(sum(len(w.w)) AS BIGINT) AS tokens_total,
        |  COALESCE(CAST(sum(p.cut) AS BIGINT), 0) AS tokens_cut,
        |  CAST(sum(len(w.w)) AS BIGINT)
        |    - COALESCE(CAST(sum(p.cut) AS BIGINT), 0) AS tokens_kept,
        |  CAST(round(CAST(COALESCE(sum(p.cut), 0)::DOUBLE
        |    / sum(len(w.w))::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS cut_frac
        |FROM w LEFT JOIN perdoc p USING (doc_id)
        |GROUP BY w.source
        |ORDER BY source""".stripMargin)),

    // Threshold-sweep survival curve: at each candidate threshold, how
    // many LSH candidate pairs verify (by signature-slot agreement),
    // how many docs the smaller-id-wins rule removes, and what
    // fraction of the token mass survives — the "which threshold do I
    // ship" table, over the same augmented corpus as lsh_band_curve
    // so the sweep has pairs in every band of the range.
    QueryDef("dedup_survival_curve",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // staged once (r14 A/B): the survival sweep's per-threshold
        // passes re-evaluated the 5-leg augmented-corpus union; the
        // same staging was a wash for band_curve/param_plan (single
        // sweep each), so it is applied only here (3.3 -> 2.2 s).
        Similarity.dedupSurvivalCurve(curveAugmented(d).stageCheckpoint(true),
          "doc_id", "text",
          SurvivalTenths, NumPerms, ShingleN, Bands, Rows, MaxBucketSize)
      },
      Some {
        val estTerms = (0 until NumPerms)
          .map(i => s"CAST(sa.m$i = sb.m$i AS INT)").mkString(" + ")
        s"""${lshPairsSqlFrom(curveAugSrcSql("aug"))},
        |e AS (
        |  SELECT p.id_b, ($estTerms)::BIGINT AS neq
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b),
        |th AS (SELECT unnest([${SurvivalTenths.mkString(", ")}]) AS t),
        |hits AS (
        |  SELECT th.t, e.id_b FROM e, th
        |  WHERE e.neq * 10 >= th.t * $NumPerms),
        |pc AS (SELECT t, count(*) AS n_pairs FROM hits GROUP BY t),
        |wc AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS nw
        |  FROM ${curveAugSrcSql("aug2")}),
        |rem AS (
        |  SELECT t, count(*) AS n_docs_removed,
        |    CAST(sum(nw) AS BIGINT) AS tokens_removed
        |  FROM (SELECT DISTINCT t, id_b FROM hits) h
        |  JOIN wc ON wc.doc_id = h.id_b GROUP BY t),
        |tot AS (SELECT count(*) AS nd, CAST(sum(nw) AS BIGINT) AS tt FROM wc)
        |SELECT th.t::BIGINT AS threshold_tenths,
        |  COALESCE(pc.n_pairs, 0) AS n_pairs,
        |  COALESCE(rem.n_docs_removed, 0) AS n_docs_removed,
        |  COALESCE(rem.tokens_removed, 0) AS tokens_removed,
        |  tot.nd - COALESCE(rem.n_docs_removed, 0) AS n_docs_left,
        |  tot.tt - COALESCE(rem.tokens_removed, 0) AS tokens_left,
        |  CAST(round(CAST((tot.tt - COALESCE(rem.tokens_removed, 0))::DOUBLE
        |    / tot.tt::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS token_survive_frac
        |FROM th LEFT JOIN pc USING (t) LEFT JOIN rem USING (t)
        |CROSS JOIN tot
        |ORDER BY threshold_tenths""".stripMargin
      })
  )
}
