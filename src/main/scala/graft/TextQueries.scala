package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions._
import graft.ops.{Similarity, Text}
import graft.ops.Stage.StagedFrame

/** Text-analysis query registry (pretraining-corpus signals over the
  * `documents` table): token counting, quality scoring, language-ID,
  * fingerprinting. All single-table scan→project pipelines — at scale
  * each runs as one WholeStageCodegen pass over the parquet scan with
  * only the referenced columns read.
  */
object TextQueries {

  // Oracle-side mirrors of the Scala expressions (DuckDB dialect).
  private val swAll = Text.LangProfiles.flatMap(_._2).map(w => s"'$w'").mkString(", ")
  private def swLang(i: Int) = Text.LangProfiles(i)._2.map(w => s"'$w'").mkString(", ")
  private val punctSql = """[.,!?;:''"()\-]""" // '' = escaped quote inside SQL literal

  /** BM25 parameters and a fixed keyword query over the corpus
    * vocabulary (shared by the Spark plan and the oracle).
    */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25Terms = Seq("spark", "join", "scan", "window", "table")

  /** Exact per-stratum sample size for sample_stratified_exact. */
  private val StratifiedK = 50

  /** Decontamination gate: eval split = doc_id % mod == 0; n-gram
    * order 3 (see the QueryDef comment — published recipes use 8-13,
    * but this corpus's word-salad texts never collide at 8).
    */
  private val DecontamEvalMod = 97
  private val DecontamN = 3

  /** Unigram-LM quality filter: model size and the out-of-vocab
    * negative-log-likelihood floor (nats).
    */
  private val VocabK = 10000
  private val OovNll = 20.0
  private val BestOfN = 4        // rejection-sampling keep per group
  private val DpoPairsPerSource = 8
  private val DpoMargin = 0.05   // min chosen−rejected reward gap
  private val DoremiEta = 1.0    // mixture multiplicative-weights step
  // bigram model size: the pair space is quadratically larger than
  // the unigram vocab, so the cap is 3× — still broadcast-trivial
  private val BigramVocabK = 30000
  // JS-drift vocab cap: top tokens cover the bulk of any Zipfian
  // corpus; the OOV bucket keeps the remainder's mass in-distribution
  private val JsVocabK = 400

  /** Mixture temperature (mT5's α = 0.3) and curriculum shard count. */
  private val MixAlpha = 0.3
  // ExactSubstr span length for the training-mix composition — same
  // k as DedupQueries' dedup_substr_prune gate
  private val MixSpanK = 8
  private val CurriculumK = 8

  /** Source-overlap matrix: 3-gram unit, keep grams with
    * hash % 4 == 0 (the θ-sample dial — see Text.sourceOverlapMatrix).
    */
  private val OverlapN = 3
  private val OverlapSampleMod = 4L

  /** BPE induction: merge rounds and the trainer's word-vocab cap. */
  private val BpeMergeRounds = 3
  private val BpeMergeTopWords = 2000

  /** Zipf fit: vocabulary head size the regression runs over. */
  private val ZipfTopK = 1000

  /** RRF fusion: per-leg candidate-pool size, the standard k = 60
    * rank-discount constant, and the fixed dense-query vector id.
    */
  private val RrfPool = 50
  private val RrfK = 60
  private val RrfQueryVec = 0

  /** RBO persistence parameter (Webber et al.'s standard 0.9). */
  private val RboP = 0.9

  /** shard_skew_forecast: writer shard count. */
  private val ShardK = 32L

  /** vocab_heaps_fit: type n-gram width (trigrams — see the QueryDef
    * comment for why unigrams are degenerate on this corpus).
    */
  private val HeapsGramN = 3

  /** sketch_freq_cms geometry and probe terms (BM25 terms + one
    * absent token so the report shows a pure-collision estimate).
    */
  private val CmsDepth = 4
  private val CmsWidth = 16
  private val CmsProbes = Bm25Terms :+ "zzz_absent"

  /** Unrolled DuckDB mirror of Text.bpeMergeRounds: one
    * (pairs → argmax → replace → inventory) CTE block per round over
    * the same pipe-wrapped symbol representation.
    */
  /** The WITH chain (w0/v0, p_r/t_r/v_r/s_r per round) shared by the
    * trainer oracle and the encode-apply oracle; t_r holds round r's
    * winning (a, b) pair.
    */
  private def bpeCtes(rounds: Int, topW: Int,
                      textExpr: String = "text",
                      wordRe: String = "^[A-Za-z0-9]+$"): String = {
    val head = s"""WITH w0 AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(string_split($textExpr, ' ')) AS w FROM documents)
      |  WHERE regexp_matches(w, '$wordRe')
      |  GROUP BY w ORDER BY cnt DESC, w LIMIT $topW),
      |v0 AS (
      |  SELECT '|' || array_to_string(list_transform(
      |      generate_series(1, length(w)), i -> substring(w, i, 1)), '||')
      |    || '|' AS s, cnt
      |  FROM w0)""".stripMargin
    val per = (1 to rounds).map { r =>
      val p = r - 1
      s"""p$r AS (
      |  SELECT arr[i] AS a, arr[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
      |  FROM (SELECT string_split(substring(s, 2, length(s) - 2), '||') AS arr,
      |          cnt FROM v$p),
      |    unnest(generate_series(1, len(arr) - 1)) AS t(i)
      |  GROUP BY 1, 2),
      |t$r AS (SELECT a, b, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
      |v$r AS (
      |  SELECT replace(s,
      |      '|' || (SELECT a FROM t$r) || '||' || (SELECT b FROM t$r) || '|',
      |      '|' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || '|') AS s, cnt
      |  FROM v$p),
      |s$r AS (SELECT count(DISTINCT sym) AS ns FROM (
      |  SELECT unnest(string_split(substring(s, 2, length(s) - 2), '||')) AS sym
      |  FROM v$r))""".stripMargin
    }
    (head +: per).mkString(",\n")
  }

  private def bpeOracle(rounds: Int, topW: Int): String = {
    val sel = (1 to rounds).map { r =>
      s"SELECT $r AS round, (SELECT a FROM t$r) AS pair_a, " +
        s"(SELECT b FROM t$r) AS pair_b, (SELECT pc FROM t$r) AS pair_count, " +
        s"(SELECT ns FROM s$r) AS n_symbols"
    }.mkString("\nUNION ALL\n")
    bpeCtes(rounds, topW) + "\n" + sel + "\nORDER BY round"
  }

  /** Encode-apply oracle: replay the trained merges over every corpus
    * word (same piped representation) and roll up per source.
    */
  private def bpeEncodeOracle(rounds: Int, topW: Int,
                              textExpr: String = "text",
                              wordRe: String = "^[A-Za-z0-9]+$"): String = {
    val enc = (1 to rounds).map { r =>
      s"""enc$r AS (
      |  SELECT source, n_chars, replace(s,
      |      '|' || (SELECT a FROM t$r) || '||' || (SELECT b FROM t$r) || '|',
      |      '|' || (SELECT a FROM t$r) || (SELECT b FROM t$r) || '|') AS s
      |  FROM enc${r - 1})""".stripMargin
    }.mkString(",\n")
    // NOTE: concatenated, not an outer stripMargin — stripMargin
    // would re-process the interpolated CTE text and truncate its
    // "|| '|'" concat lines at the pipe (the exact r8 bug this
    // comment prevents recurring)
    val tail = s"""dw AS (
    |  SELECT source, w FROM (
    |    SELECT source, unnest(string_split($textExpr, ' ')) AS w FROM documents)
    |  WHERE regexp_matches(w, '$wordRe')),
    |enc0 AS (
    |  SELECT source, length(w) AS n_chars,
    |    '|' || array_to_string(list_transform(
    |      generate_series(1, length(w)), i -> substring(w, i, 1)), '||')
    |    || '|' AS s
    |  FROM dw)""".stripMargin
    val sel = s"""SELECT source, COUNT(*) AS n_words,
    |  SUM(n_chars)::BIGINT AS n_chars,
    |  SUM(len(string_split(substring(s, 2, length(s) - 2), '||')))::BIGINT
    |    AS n_tokens,
    |  round(SUM(n_chars)::DOUBLE /
    |    SUM(len(string_split(substring(s, 2, length(s) - 2), '||')))::DOUBLE,
    |    6) AS chars_per_token
    |FROM enc$rounds GROUP BY source ORDER BY source""".stripMargin
    Seq(bpeCtes(rounds, topW, textExpr, wordRe), tail, enc)
      .mkString(",\n") + "\n" + sel
  }

  /** Per-(bucket, bin) packing frame shared by pack_sequences and
    * pack_efficiency_report (see the pack_sequences QueryDef comment
    * for the streaming-packing semantics).
    */
  private def packBins(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), wordCount(col("text")).as("nw"))
      .withColumn("bucket", detHash(8L, col("doc_id")))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(detHash(DetHashPrime, col("doc_id")), col("doc_id"))
    val packed = d.withColumn("cum", sum(col("nw")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("nw")) / lit(512.0)).cast("long"))
    packed.groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("bin_words"))
  }

  /** Per-doc BM25 score frame (doc_id, bm25) for the fixed Bm25Terms,
    * shared by text_bm25_topk and retrieval_rrf_hybrid. Plan shape at
    * 100 TB: tf is one scan + groupBy(doc, term) on query terms only
    * (the isin filter prunes before the shuffle); df and the corpus
    * stats are tiny aggregates broadcast back; the final per-doc sum
    * shuffles once on doc_id. Per-term scores round to 6dp and sum as
    * DECIMAL so the total is addition-order-independent across engines
    * and partitionings.
    */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("dl", size(col("w")))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("w")).as("t"))
      .where(col("t").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val stats = d.agg(count(lit(1)).as("ndocs"), avg(col("dl")).as("avgdl"))
    // df derives from tf in the SAME pipeline — (doc, term) is
    // unique there, so a count window over the term partition IS
    // the document frequency. One consumer of tf, so nothing is
    // recomputed (Spark has no DAG-level subtree reuse) and no
    // cache is needed; the corpus is scanned exactly twice (tf +
    // the column-pruned stats aggregate).
    val term = tf
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("t"))))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("ndocs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        // decimal-guard before the round (see events_percentiles)
        round((col("idf") * col("tf") * lit(Bm25K1 + 1) /
          (col("tf") + lit(Bm25K1) *
            (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
          .cast(DecimalType(18, 8)), 6)
          .cast("decimal(18,6)"))
    term.groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).cast("double").as("bm25"))
  }

  /** Oracle CTE chain ending at `scored(doc_id, bm25)` — the DuckDB
    * mirror of bm25Scored, shared by the same two queries.
    */
  private val bm25ScoredSql: String = s"""WITH d AS (
    |  SELECT doc_id, string_split(text, ' ') AS w,
    |    len(string_split(text, ' ')) AS dl
    |  FROM documents),
    |stats AS (SELECT count(*) AS ndocs, avg(dl) AS avgdl FROM d),
    |tf AS (
    |  SELECT doc_id, dl, t, count(*) AS tf
    |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM d)
    |  WHERE t IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
    |  GROUP BY 1, 2, 3),
    |tfd AS (
    |  SELECT doc_id, dl, tf,
    |    COUNT(*) OVER (PARTITION BY t) AS df
    |  FROM tf),
    |term AS (
    |  SELECT doc_id,
    |    round(CAST(ln((ndocs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${Bm25K1 + 1} /
    |      (tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * dl / avgdl)) AS DECIMAL(18,8)), 6)::DECIMAL(18,6) AS s
    |  FROM tfd CROSS JOIN stats),
    |scored AS (
    |  SELECT doc_id,
    |    CAST(round(CAST(sum(s) AS DECIMAL(18,6)), 4) AS DOUBLE) AS bm25
    |  FROM term GROUP BY doc_id)""".stripMargin

  /** The two retrieval candidate pools shared by retrieval_rrf_hybrid
    * and retrieval_rbo_overlap: the BM25 lexical top-RrfPool as
    * (doc_id, lex_rank) and the embedding-cosine dense top-RrfPool
    * (query = vec RrfQueryVec) as (vec_id, vec_rank). Each leg is cut
    * to its pool by a deterministic (score desc, id) sorted limit
    * BEFORE the rank window runs, so the windows see ≤RrfPool rows
    * regardless of corpus size.
    */
  private[graft] def retrievalPools(s: org.apache.spark.sql.SparkSession,
                             dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val lexPool = bm25Scored(s, dir)
      .orderBy(desc("bm25"), col("doc_id")).limit(RrfPool)
    val lex = lexPool.withColumn("lex_rank",
      row_number().over(Window.orderBy(desc("bm25"), col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", vectorNorm(col("emb")))
    val q = e.where(col("vec_id") === RrfQueryVec)
      .select(col("emb").as("qemb"), col("nrm").as("qnrm"))
    val denPool = e.where(col("vec_id") =!= RrfQueryVec)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosineFromNorms(dotProduct(col("qemb"), col("emb")),
          col("qnrm"), col("nrm")), 6).as("cos"))
      .orderBy(desc("cos"), col("vec_id")).limit(RrfPool)
    val den = denPool.withColumn("vec_rank",
      row_number().over(Window.orderBy(desc("cos"), col("vec_id"))))
      .select(col("vec_id"), col("vec_rank"))
    (lex, den)
  }

  /** Oracle CTE chain ending at `lex(doc_id, lex_rank)` and
    * `den(vec_id, vec_rank)` — the DuckDB mirror of retrievalPools.
    */
  private val retrievalPoolsSql: String = s"""$bm25ScoredSql,
    |lex AS (
    |  SELECT doc_id,
    |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)::INT AS lex_rank
    |  FROM scored ORDER BY bm25 DESC, doc_id LIMIT $RrfPool),
    |qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
    |       WHERE vec_id = $RrfQueryVec),
    |dn AS (
    |  SELECT vec_id,
    |    round(list_cosine_similarity(qe, embedding::DOUBLE[]), 6) AS cos
    |  FROM embeddings CROSS JOIN qv WHERE vec_id <> $RrfQueryVec),
    |den AS (
    |  SELECT vec_id,
    |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id)::INT AS vec_rank
    |  FROM dn ORDER BY cos DESC, vec_id LIMIT $RrfPool)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // Keyword search scoring: BM25 top-20 over the documents table for
    // a fixed term set (scoring pipeline + scale notes: bm25Scored).
    QueryDef("text_bm25_topk",
      (s, dir) => bm25Scored(s, dir)
        .orderBy(desc("bm25"), col("doc_id"))
        .limit(20),
      Some(s"""$bm25ScoredSql
        |SELECT doc_id, bm25 FROM scored
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // Training-batch sequence packing: documents are dealt into
    // detHash buckets (the per-worker unit at scale — each bucket
    // packs independently, so no global coordination), pseudo-shuffled
    // within the bucket by a second detHash, and greedily packed into
    // 512-word bins by running cumulative sum (a doc that straddles a
    // boundary starts its bin at the straddle — streaming packing
    // with overflow, the deterministic distributed analogue of
    // first-fit). Output is the per-bin occupancy report.
    QueryDef("pack_sequences",
      (s, dir) => packBins(s, dir).orderBy(col("bucket"), col("bin")),
      Some(s"""WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' '))::INT AS nw,
        |    ${detHashSql(8L, Seq("doc_id"))} AS bucket
        |  FROM documents),
        |p AS (
        |  SELECT bucket, nw,
        |    SUM(nw) OVER (PARTITION BY bucket
        |      ORDER BY ${detHashSql(1000003L, Seq("doc_id"))}, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT bucket, floor((cum - nw) / 512.0)::BIGINT AS bin,
        |  COUNT(*) AS n_docs, SUM(nw)::BIGINT AS bin_words
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Packing-efficiency telemetry over the pack_sequences bins: the
    // number a batch scheduler actually tunes bin size against. Fill
    // ratio per bucket = words / (bins × 512); a straddling doc
    // counts in its STARTING bin (streaming packing with overflow),
    // so max_bin_words can exceed 512 — that overflow magnitude is
    // exactly what the report surfaces. One bounded aggregate on top
    // of the shared packing frame.
    QueryDef("pack_efficiency_report",
      (s, dir) => {
        packBins(s, dir)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_bins"),
            sum(col("bin_words")).as("total_words"),
            sum(col("n_docs")).as("n_docs"),
            max(col("bin_words")).as("max_bin_words"),
            min(col("bin_words")).as("min_bin_words"))
          .select(col("bucket"), col("n_bins"), col("n_docs"),
            col("total_words"), col("max_bin_words"), col("min_bin_words"),
            round((col("total_words").cast("double") /
              (col("n_bins").cast("double") * lit(512.0)))
              .cast(DecimalType(18, 8)), 6).cast("double").as("mean_fill"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' '))::INT AS nw,
        |    ${detHashSql(8L, Seq("doc_id"))} AS bucket
        |  FROM documents),
        |p AS (
        |  SELECT bucket, nw,
        |    SUM(nw) OVER (PARTITION BY bucket
        |      ORDER BY ${detHashSql(1000003L, Seq("doc_id"))}, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d),
        |b AS (
        |  SELECT bucket, floor((cum - nw) / 512.0)::BIGINT AS bin,
        |    COUNT(*) AS n_docs, SUM(nw)::BIGINT AS bin_words
        |  FROM p GROUP BY 1, 2)
        |SELECT bucket, count(*) AS n_bins,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bin_words) AS BIGINT) AS total_words,
        |  max(bin_words) AS max_bin_words, min(bin_words) AS min_bin_words,
        |  CAST(round(CAST(CAST(sum(bin_words) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 512.0) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS mean_fill
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // F12 + A7/L14 — word + BPE-ish token counts per document
    // (reference: etl_slimpajama_dc_proc.py:142; cost_estimator_inf.py:35-78).
    QueryDef("text_token_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(
            col("doc_id"),
            wordCount(col("text")).as("n_words"),
            bpeTokenCount(col("text")).as("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
        | len(string_split(text, ' '))::INT AS n_words,
        | len(regexp_extract_all(text, '$BpeTokenPattern'))::INT AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring — length band, punct ratio, stopword ratio, mean
    // word length (Gopher/C4-style surface heuristics).
    QueryDef("text_quality",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(
            col("doc_id"),
            round(Text.qualityScore(col("text")), 6).as("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |  FROM documents)
        |SELECT doc_id, round(
        |  (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |  + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |  + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |  + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS quality
        |FROM q ORDER BY doc_id""".stripMargin)),

    // Curriculum / quality binning: fixed-width score bins with
    // per-bin volume and length stats — the histogram a data-mixing
    // run consults before weighting strata. Fixed-width binning (not
    // ntile) on purpose: ntile needs a GLOBAL sort of the corpus,
    // while floor(q·10) is scan-local and the aggregate is one
    // map-side-combined shuffle of ≤10 groups. Both engines compute
    // the identical IEEE double for q·10, so the bin edges agree even
    // at surprising-float boundaries (0.7×10 → 6.999… in BOTH).
    QueryDef("quality_bins_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val q = round(Text.qualityScore(col("text")), 6)
        d.select(least(floor(q * 10).cast("long"), lit(9L)).as("bin"),
            col("n_chars"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            round((sum(col("n_chars").cast(DecimalType(18, 4))) / count(lit(1)))
              .cast(DecimalType(18, 4)), 2).cast("double").as("avg_chars"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id, n_chars,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |  FROM documents),
        |sc AS (
        |  SELECT n_chars, round(
        |    (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |    + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS quality
        |  FROM q)
        |SELECT least(floor(quality * 10), 9)::BIGINT AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(round(CAST(SUM(n_chars::DECIMAL(18,4)) / COUNT(*)
        |    AS DECIMAL(18,4)), 2) AS DOUBLE) AS avg_chars
        |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Per-source corpus report: volume, decimal-exact mean quality and
    // length, and the dominant language — the table a curation run
    // reads before reweighting sources. Two aggregates on the natural
    // key (source, and source × lang for the mode) plus a rank window
    // over |sources × langs| rows; raw documents shuffle once.
    // UCB1 source selection — the online data-mixing decision ("which
    // source should the curation pipeline sample next?") made
    // deterministic and auditable: per source, reward = fraction of
    // docs clearing the quality bar, and ucb = mean_reward +
    // sqrt(2·ln(N)/n) — the optimism bonus that keeps under-sampled
    // sources in rotation (the bandit view of mixture tuning;
    // DoReMi-style reweighting is the batch cousin at
    // mix_reweight_sources). One aggregate to |sources| rows; the
    // transcendentals run once per source over decimal-rounded
    // operands, and the argmax tie-breaks on source name — fully
    // gate-stable. At 100 TB the per-source aggregate is the only
    // data-sized stage.
    QueryDef("source_ucb_next",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val cleared = when(round(Text.qualityScore(col("text")), 6) >= 0.5,
          1L).otherwise(0L)
        val perSrc = d.select(col("source"), cleared.as("ok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_ok"))
        val totals = perSrc.agg(sum(col("n_docs")).as("n_total"))
        val withUcb = perSrc.crossJoin(broadcast(totals))
          .withColumn("mean_reward",
            round((col("n_ok").cast("double") /
              col("n_docs").cast("double")).cast(dec), 6).cast("double"))
          .withColumn("ucb",
            round((col("mean_reward") +
              sqrt(lit(2.0) * log(col("n_total").cast("double")) /
                col("n_docs").cast("double"))).cast(dec), 6).cast("double"))
        val w = Window.orderBy(col("ucb").desc, col("source")) // |sources| rows
        withUcb
          .withColumn("is_next", row_number().over(w) === 1)
          .select(col("source"), col("n_docs"), col("n_ok"),
            col("mean_reward"), col("ucb"), col("is_next"))
          .orderBy(col("source"))
      },
      Some(s"""WITH q AS (
        |  SELECT source,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |  FROM documents),
        |sc AS (
        |  SELECT source, round(
        |    (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |    + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS q
        |  FROM q),
        |p AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    SUM(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_ok
        |  FROM sc GROUP BY source),
        |t AS (SELECT SUM(n_docs)::BIGINT AS n_total FROM p),
        |u AS (
        |  SELECT source, n_docs, n_ok,
        |    CAST(round(CAST(n_ok::DOUBLE / n_docs::DOUBLE
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_reward,
        |    CAST(round(CAST(
        |      CAST(round(CAST(n_ok::DOUBLE / n_docs::DOUBLE
        |        AS DECIMAL(18,8)), 6) AS DOUBLE) +
        |      sqrt(2.0 * ln(n_total::DOUBLE) / n_docs::DOUBLE)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS ucb
        |  FROM p, t)
        |SELECT source, n_docs, n_ok, mean_reward, ucb,
        |  row_number() OVER (ORDER BY ucb DESC, source) = 1 AS is_next
        |FROM u ORDER BY source""".stripMargin)),

    QueryDef("source_quality_report",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val q = round(Text.qualityScore(col("text")), 6)
        val stats = d.select(col("source"), q.as("q"), col("n_chars"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round((sum(col("q").cast(DecimalType(18, 8))) / count(lit(1)))
              .cast(DecimalType(18, 8)), 6).cast("double").as("mean_quality"),
            round((sum(col("n_chars").cast(DecimalType(18, 4))) / count(lit(1)))
              .cast(DecimalType(18, 4)), 2).cast("double").as("mean_chars"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("lang"))
        val topLang = d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") === 1)
          .select(col("source"), col("lang").as("top_lang"))
        stats.join(topLang, "source").orderBy(col("source"))
      },
      Some(s"""WITH q AS (
        |  SELECT source, n_chars,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |  FROM documents),
        |sc AS (
        |  SELECT source, n_chars, round(
        |    (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |    + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS quality
        |  FROM q),
        |stats AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(round(CAST(SUM(quality::DECIMAL(18,8)) / COUNT(*)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_quality,
        |    CAST(round(CAST(SUM(n_chars::DECIMAL(18,4)) / COUNT(*)
        |      AS DECIMAL(18,4)), 2) AS DOUBLE) AS mean_chars
        |  FROM sc GROUP BY 1),
        |tl AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, count(*) AS n,
        |      row_number() OVER (PARTITION BY source
        |                         ORDER BY count(*) DESC, lang) AS rk
        |    FROM documents GROUP BY source, lang)
        |  WHERE rk = 1)
        |SELECT source, n_docs, mean_quality, mean_chars, top_lang
        |FROM stats JOIN tl USING (source)
        |ORDER BY source""".stripMargin)),

    // Language-ID heuristic — stopword-profile argmax per document,
    // reported as a per-language histogram (verifies every row's
    // classification through the counts).
    QueryDef("text_lang_id",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(Text.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
          .orderBy(col("lang_pred"))
      },
      Some(s"""WITH h AS (
        |  SELECT
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(0)}))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(1)}))) AS h_es,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(2)}))) AS h_de
        |  FROM documents),
        |p AS (
        |  SELECT CASE
        |    WHEN h_en + h_es + h_de = 0 THEN 'und'
        |    WHEN h_en >= h_es AND h_en >= h_de THEN 'en'
        |    WHEN h_es >= h_de THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM h)
        |SELECT lang_pred, COUNT(*) AS n FROM p
        |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)),

    // Content fingerprint — md5 of whitespace-normalized lowercased
    // text (exact-dedup identity).
    QueryDef("text_fingerprint",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        | md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // F10 — char 7-gram shingle cardinality (the reference's
    // CharNGramExtractor featurization, punctuation stripped).
    QueryDef("text_char_shingles",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"),
            charShingleCount(
              regexp_replace(col("text"), graft.ops.Similarity.PunctStripPattern, ""),
              7).as("n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s AS (
        |  SELECT doc_id, regexp_replace(text, '[[:punct:]]', '', 'g') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(t) >= 7
        |       THEN len(list_distinct(list_transform(range(1, length(t) - 5),
        |                                             i -> t[i:i+6])))
        |       ELSE 0 END::INT AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Unicode differential twin of text_char_shingles (VERDICT r11
    // #2): the same kernel over a deterministically transliterated
    // multi-byte corpus — ASCII vowels become 2-byte Greek/Cyrillic/
    // Latin-1 letters plus a SUPPLEMENTARY-PLANE 𝕠 (a UTF-16
    // surrogate pair on the JVM, 4 UTF-8 bytes in DuckDB). The gate
    // proves CharShingleOps counts CODEPOINTS (offsetByCodePoints),
    // not code units: a code-unit kernel would see 𝕠 as two chars
    // and every shingle window over it would shift, while DuckDB
    // slices by codepoint. Punct stripping stays ASCII-class on both
    // engines (Java \p{Punct} ≡ RE2 [[:punct:]]).
    QueryDef("text_char_shingles_unicode",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"),
            charShingleCount(
              regexp_replace(graft.ops.Text.uniTranslit(col("text")),
                graft.ops.Similarity.PunctStripPattern, ""),
              7).as("n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH s AS (
        |  SELECT doc_id, regexp_replace(
        |    ${graft.ops.Text.uniTranslitSql("text")},
        |    '[[:punct:]]', '', 'g') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(t) >= 7
        |       THEN len(list_distinct(list_transform(range(1, length(t) - 5),
        |                                             i -> t[i:i+6])))
        |       ELSE 0 END::INT AS n_shingles
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Rolling polynomial fingerprint (order-sensitive content hash).
    // Oracle: the same left fold via list_reduce, seeded by prepending
    // the 0 initial value (DuckDB's list_reduce uses the head as init).
    QueryDef("text_rolling_fingerprint",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"), Text.rollingFingerprint(col("text")).as("rfp"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, list_reduce(
        |  list_prepend(0::BIGINT, list_transform(string_split(lower(text), ' '),
        |    w -> (('0x' || substring(md5(w), 1, 15))::BIGINT % 2147483647))),
        |  (a, b) -> (a * 31 + b) % 2147483647) AS rfp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 64-word chunks, 48-word stride (25 %
    // overlap); one output row per chunk, keyed (doc_id, chunk_id),
    // with the md5 of each chunk hash-gating the exact split points.
    QueryDef("text_chunk",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(col("doc_id"),
            posexplode(Text.wordChunks(col("text"), 64, 48))
              .as(Seq("chunk_id", "chunk")))
          .select(col("doc_id"), col("chunk_id"),
            size(split(col("chunk"), " ")).as("n_words"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, i AS chunk_id,
        |    array_to_string(w[i * 48 + 1 : i * 48 + 64], ' ') AS chunk
        |  FROM w, LATERAL unnest(
        |    range(0, (greatest(len(w) - 64, 0) + 47) // 48 + 1)) AS t(i))
        |SELECT doc_id, chunk_id::INT AS chunk_id,
        |  len(string_split(chunk, ' '))::INT AS n_words,
        |  md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Deterministic domain-mixing sample: per-source acceptance
    // fractions (the pretraining mixture weights), decided by detHash
    // over doc_id — partitioning-independent and reproducible in SQL,
    // unlike rand(seed). Odd sources keep 1/4, even keep 3/4.
    QueryDef("mix_sample_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        // digitless sources must not abort the query under ANSI casts:
        // empty extract → null → the non-odd (750) branch, matching
        // the oracle's try_cast + NULL%2 semantics
        val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1)
        val oddSrc = when(srcNum === "", lit(null).cast("int"))
          .otherwise(srcNum.cast("int")) % 2 === 1
        val keepM = when(oddSrc, 250L).otherwise(750L)
        d.where(detHash(1000L, col("doc_id")) < keepM)
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, count(*) AS n_kept FROM documents
        |WHERE ${detHashSql(1000L, Seq("doc_id"))} <
        |  CASE WHEN try_cast(regexp_extract(source, '([0-9]+)$$', 1) AS INT) % 2 = 1
        |       THEN 250 ELSE 750 END
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Exact stratified sample: exactly K docs per language, selected
    // by detHash order (doc_id tiebreak) — the reproducible "same K
    // rows regardless of partitioning or cluster size" contract that
    // rand()-based sampling can't give. One window shuffle on lang;
    // at 100 TB the per-stratum sort is a spillable sort-based
    // exchange, the same cost class as any global orderBy. K rows per
    // stratum come out, not a fraction — the shape eval sets need.
    QueryDef("sample_stratified_exact",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val w = Window.partitionBy(col("lang"))
          .orderBy(detHash(DetHashPrime, col("doc_id")), col("doc_id"))
        d.withColumn("rn", row_number().over(w).cast("int"))
          .where(col("rn") <= StratifiedK)
          .select(col("lang"), col("rn"), col("doc_id"))
          .orderBy(col("lang"), col("rn"))
      },
      Some(s"""SELECT lang, rn::INT AS rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ${detHashSql(DetHashPrime, Seq("doc_id"))}, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= $StratifiedK ORDER BY lang, rn""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Relational.prioritySample,
    // the Efraimidis–Spirakis A-ES scheme): 50 docs drawn with
    // probability proportional to size (n_chars + 1), exactly and
    // reproducibly — key = ln(u)/w with a detHash-derived u, top-k by
    // key. Unlike sample_weighted_quality's independent per-row keeps
    // (sample SIZE is binomial, only its expectation is controlled),
    // A-ES returns exactly k rows, the contract eval-set construction
    // needs. Single scan, TakeOrdered top-k, no shuffle of the corpus;
    // the oracle replays the identical key formula (ln and IEEE
    // division are cross-engine-stable on identical operands).
    QueryDef("sample_priority_weighted",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        graft.ops.Relational
          .prioritySample(d, 50, col("n_chars") + lit(1L), col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    ln((${detHashSql(DetHashPrime, Seq("doc_id"))} + 1) /
        |       ${DetHashPrime + 1}.0) / (n_chars + 1) AS pk
        |  FROM documents
        |  ORDER BY pk DESC, doc_id DESC LIMIT 50)
        |ORDER BY doc_id""".stripMargin)),

    // Neyman-allocation stratified sample (Relational.
    // neymanStratifiedSample): split a 100-doc labeling budget across
    // sources proportionally to N_h·σ_h of doc length — the
    // variance-minimizing allocation for a stratified mean estimate,
    // i.e. "where should the human-eval budget go". Largest-remainder
    // integerization (quotas sum to the budget exactly), N_h cap,
    // deterministic hash-rank draw; the report row carries the drawn
    // ids' sum + md5 so the GATE pins the exact docs drawn, not just
    // the quota arithmetic. One corpus moments pass + strata-frame
    // algebra + one rank window — the sampler itself never shuffles
    // the corpus twice.
    QueryDef("sample_stratified_neyman",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Relational.neymanStratifiedSample(
          d, "source", "n_chars", "doc_id", NeymanBudget)
      },
      Some(neymanOracleSql)),

    // Sequence packing (ops/Text.packHarmonic): whole documents into
    // 128-token context windows by the harmonic class rule — class
    // k = ⌊C/tokens⌋ bins hold exactly k docs, so the layout is one
    // rank window of integer math instead of sequential first-fit.
    // shards = 4 exercises the 100 TB sub-sharding knob (bins never
    // span shards). The gate pins the per-class report INCLUDING an
    // order-independent decimal checksum of every doc→bin placement.
    QueryDef("pack_context_windows",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.packHarmonic(d, "doc_id", "text",
          capacity = PackCapacity, shards = PackShards)
      },
      Some(packHarmonicOracleSql)),

    // Token-budget selection (ops/Text.tokenBudgetSelect): the best
    // documents by quality score until 40 % of the corpus' tokens are
    // spent — the final cut of every pretraining-data run. The naive
    // plan is a running sum over a GLOBAL (score desc, doc_id) sort;
    // the operator instead running-totals the score HISTOGRAM (the
    // single-partition window touches ≤|score domain| rows, corpus-
    // size-independent), broadcast-joins the per-score in/out/boundary
    // status back, and pays a per-document window only inside the ONE
    // boundary score. The oracle IS the naive global cumsum — the
    // equivalence is the gate. floor(total × 0.4) multiplies
    // identically in IEEE double cross-engine.
    QueryDef("sample_token_budget",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            round(Text.qualityScore(col("text")), 6).as("quality"),
            bpeTokenCount(col("text")).cast("long").as("n_tokens"))
        Text.tokenBudgetFracSelect(d, "doc_id", "quality", "n_tokens", 0.4)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
        |  SELECT doc_id, round(
        |    (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |    + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS quality,
        |    len(regexp_extract_all(text, '$BpeTokenPattern'))::BIGINT AS n_tokens
        |  FROM (
        |    SELECT doc_id, text,
        |      len(string_split(text, ' '))::DOUBLE AS nw,
        |      length(text)::DOUBLE AS len,
        |      (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |      len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |    FROM documents)),
        |b AS (SELECT floor(SUM(n_tokens) * 0.4)::BIGINT AS budget FROM t),
        |c AS (
        |  SELECT doc_id, quality, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, quality, n_tokens
        |FROM c CROSS JOIN b
        |WHERE cum <= budget
        |ORDER BY doc_id""".stripMargin)),

    // Quality-weighted (importance) sample: acceptance probability
    // grows with document length, capped at 1 — longer docs are kept
    // preferentially, decided by the same detHash coin as mix_sample
    // so the draw is deterministic and partitioning-independent. All
    // arithmetic is integer (weight·1000 = min(n_words,200)·5), so
    // both engines compare identical values. Pure scan → aggregate:
    // no shuffle before the per-source rollup.
    QueryDef("sample_weighted_quality",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val nw = size(split(col("text"), " "))
        val acc = detHash(1000L, col("doc_id")) < least(nw, lit(200)) * 5
        d.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(acc, lit(1))).as("n_sampled"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (${detHashSql(1000L, Seq("doc_id"))} <
        |    least(len(string_split(text, ' ')), 200) * 5) AS n_sampled
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Pretraining cleanup pass: URLs/e-mails dropped, control chars
    // stripped, whitespace squeezed. Output compared via md5 + length
    // so the whole cleaned text is hash-gated without shipping it.
    QueryDef("text_clean",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val cleaned = Text.cleanText(col("text"))
        d.select(col("doc_id"), md5(cleaned).as("clean_md5"),
            length(cleaned).as("clean_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text,
        |    'https?://[^ ]+', ' ', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g'),
        |    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', ' ', 'g'),
        |    '\\s+', ' ', 'g')) AS t
        |  FROM documents)
        |SELECT doc_id, md5(t) AS clean_md5, length(t)::INT AS clean_len
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Repetition signals (Gopher-style duplicate-content filters):
    // duplicate-word fraction (1 - distinct/total) and most-frequent-
    // bigram fraction. Integer counts all the way; the final ratios go
    // through the decimal-quotient pattern (see ops/Cost) so the two
    // engines round identically at .xx5 boundaries.
    QueryDef("text_repetition",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val w = split(col("text"), " ")
        // per-doc word stats on a separate (tiny) scan branch, joined
        // at the end: the exploded bigram branch stays 2 columns wide
        // and its aggregations need no first() carry-alongs
        val stats = d.select(col("doc_id"),
          size(w).as("nw"), size(array_distinct(w)).as("ndw"))
        // bigrams group on their 60-bit md5 — an 8-byte shuffle key
        // instead of a ~15-byte string (both engines hash identically,
        // so the oracle mirrors it; a collision merges the same way).
        // The hashes come from the one-pass native featurizer
        // (non-distinct: counts are per occurrence), so no bigram
        // string ever enters the plan.
        val bgHashes = {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          column(graft.expressions.WordShingleHashes(
            expression(col("text")), 2, distinct = false,
            xx = graft.functions.GraftFunctions.hashModeIsXx))
        }
        val perBg = d
          .select(col("doc_id"), explode(bgHashes).as("bg"))
          .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        perBg.groupBy(col("doc_id"))
          .agg(max(col("c")).as("m"), sum(col("c")).as("tot"))
          .join(stats, "doc_id")
          .select(col("doc_id"),
            round(((col("nw") - col("ndw")).cast(DecimalType(18, 6)) / col("nw"))
              .cast(DecimalType(18, 8)), 6).cast("double").as("dup_word_frac"),
            round((col("m").cast(DecimalType(18, 6)) / col("tot"))
              .cast(DecimalType(18, 8)), 6).cast("double").as("top_bigram_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b0 AS (
        |  SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS ndw,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bgs
        |  FROM w),
        |base AS (
        |  SELECT doc_id, nw, ndw,
        |    ('0x' || substring(md5(bgs), 1, 15))::BIGINT AS bg
        |  FROM b0),
        |perbg AS (
        |  SELECT doc_id, bg, count(*) AS c,
        |    any_value(nw) AS nw, any_value(ndw) AS ndw
        |  FROM base GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, max(c) AS m, sum(c) AS tot,
        |    any_value(nw) AS nw, any_value(ndw) AS ndw
        |  FROM perbg GROUP BY 1)
        |SELECT doc_id,
        |  CAST(round(CAST((nw - ndw)::DECIMAL(18,6) / nw AS DECIMAL(18,8)), 6) AS DOUBLE) AS dup_word_frac,
        |  CAST(round(CAST(m::DECIMAL(18,6) / tot AS DECIMAL(18,8)), 6) AS DOUBLE) AS top_bigram_frac
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Unigram LM perplexity proxy (the CCNet-style quality filter):
    // score each doc by the mean negative log-likelihood of its tokens
    // under the corpus's own top-K unigram model; out-of-vocab tokens
    // pay a fixed floor. Shape at 100 TB: the model is a top-K
    // TakeOrderedAndProject over the token counts (distributed, no
    // global window) and is BROADCAST back, so the corpus-side scoring
    // join never shuffles the corpus — the only wide exchange is the
    // per-doc rollup on doc_id. Per-token nll rounds to 6dp and sums
    // as DECIMAL so the mean is addition-order-independent; the
    // corpus is scanned three times (counts, total, scoring), each
    // column-pruned to (doc_id, text).
    QueryDef("text_unigram_logprob",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val words = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("t"))
        val vocab = words.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        val topv = vocab.orderBy(col("cnt").desc, col("t")).limit(VocabK)
        val total = d.agg(
          sum(size(split(col("text"), " "))).as("tot"))
        val scored = words
          .join(broadcast(topv), Seq("t"), "left")
          .crossJoin(broadcast(total))
          .withColumn("nlp", round(
            coalesce(-log(col("cnt").cast("double") / col("tot")), lit(OovNll)), 6))
        scored.groupBy(col("doc_id"))
          .agg(
            round((sum(col("nlp").cast(DecimalType(18, 8))) / count(lit(1)))
              .cast(DecimalType(18, 8)), 6).cast("double").as("mean_nll"),
            count(lit(1)).as("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS cnt FROM w GROUP BY t),
        |topv AS (SELECT t, cnt FROM v ORDER BY cnt DESC, t LIMIT $VocabK),
        |tot AS (SELECT sum(len(string_split(text, ' ')))::BIGINT AS tot
        |        FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    round(coalesce(-ln(cnt::DOUBLE / tot), $OovNll), 6) AS nlp
        |  FROM w LEFT JOIN topv USING (t), tot)
        |SELECT doc_id,
        |  CAST(round(CAST(sum(nlp::DECIMAL(18,8)) / count(*) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS mean_nll,
        |  count(*) AS n_tokens
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Bigram conditional LM scoring — the next LM order up from
    // text_unigram_logprob (published perplexity filters use ≥
    // bigram context: word-salad that fools unigram frequency shows
    // up immediately in P(b|a)). Model = top-BigramVocabK corpus
    // bigrams with exact-count conditional −ln(c_ab/c_a); OOV
    // bigrams pay the same fixed floor as the unigram filter. Same
    // shape at 100 TB: the model is a TakeOrderedAndProject
    // broadcast back over the corpus bigram stream, the only wide
    // exchange is the per-doc rollup; docs under 2 tokens have no
    // bigrams and drop out on both sides.
    QueryDef("text_bigram_logprob",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val uni = d.select(explode(col("w")).as("a"))
          .groupBy(col("a")).agg(count(lit(1)).as("ca"))
        val bg = d.select(col("doc_id"), explode(expr(
            "transform(slice(w, 1, size(w) - 1), " +
              "(x, i) -> struct(x AS a, w[i + 1] AS b))")).as("p"))
          .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
        val model = bg.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("cab"))
          .orderBy(col("cab").desc, col("a"), col("b")).limit(BigramVocabK)
          .join(uni, "a")
          .select(col("a"), col("b"),
            round(-log(col("cab").cast("double") / col("ca").cast("double")),
              6).as("nlp"))
        bg.join(broadcast(model), Seq("a", "b"), "left")
          .withColumn("nlp", coalesce(col("nlp"), lit(OovNll)))
          .groupBy(col("doc_id"))
          .agg(round((sum(col("nlp").cast(DecimalType(18, 8))) /
              count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean_nll"),
            count(lit(1)).as("n_bigrams"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT a, count(*) AS ca FROM (
        |  SELECT unnest(w) AS a FROM d) GROUP BY 1),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |  FROM d),
        |bg AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b FROM ix),
        |model AS (
        |  SELECT t.a, t.b, round(-ln(t.cab::DOUBLE / u.ca::DOUBLE), 6) AS nlp
        |  FROM (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2
        |        ORDER BY cab DESC, a, b LIMIT $BigramVocabK) t
        |  JOIN uni u ON u.a = t.a),
        |sc AS (SELECT bg.doc_id, coalesce(m.nlp, $OovNll) AS nlp
        |  FROM bg LEFT JOIN model m ON m.a = bg.a AND m.b = bg.b)
        |SELECT doc_id,
        |  CAST(round(CAST(sum(nlp::DECIMAL(18,8)) / count(*) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS mean_nll,
        |  count(*) AS n_bigrams
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Collocation mining (Text.pmiBigrams): top adjacent-pair PMI —
    // the phrase detector feeding tokenizer-vocab induction. Bigrams
    // come from a scan-time array transform (no join); the support
    // floor prunes the bigram tail BEFORE the unigram-count joins.
    // The oracle rebuilds bigrams with generate_series list indexing.
    QueryDef("text_pmi_bigrams",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.pmiBigrams(d, "text", minCount = 5, topK = 20)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |u AS (SELECT unnest(w) AS tok FROM t),
        |uc AS (SELECT tok, count(*) AS c FROM u GROUP BY 1),
        |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uc),
        |ix AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t),
        |bg AS (SELECT w[i] AS a, w[i + 1] AS b FROM ix),
        |bc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM bc)
        |SELECT a, b, cab AS n_ab,
        |  CAST(round(CAST(ln((cab::DOUBLE * nt::DOUBLE * nt::DOUBLE)
        |    / (nb::DOUBLE * ca.c::DOUBLE * cb.c::DOUBLE))
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS pmi
        |FROM bc JOIN uc ca ON ca.tok = bc.a JOIN uc cb ON cb.tok = bc.b
        |  CROSS JOIN nt CROSS JOIN nb
        |WHERE cab >= 5
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin)),

    // Source-mixture reweighting (Text.sourceReweight): observed
    // token share per source and the uniform-target sampling weight
    // — the knob a pretraining mixture actually turns. One aggregate
    // + broadcast totals; exact-count IEEE ratios on both engines.
    QueryDef("mix_reweight_sources",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.sourceReweight(d, "source", "text")
      },
      Some("""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
        |    count(*) AS ns FROM per)
        |SELECT source, n_docs, n_tokens,
        |  CAST(round(CAST(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS actual_frac,
        |  CAST(round(CAST(CAST(total AS DOUBLE) /
        |    (CAST(ns AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin)),

    // Temperature-scaled mixture (Text.temperatureReweight): q_i ∝
    // p_i^α with α = 0.3 — the mT5/XLM-R α-sampling dial between the
    // natural mixture (α=1) and uniform (α=0, = mix_reweight_sources).
    // p^α rounds to 6dp before the decimal normalizer sum; the final
    // ratios are fixed-shape IEEE divisions on both engines.
    QueryDef("mix_temperature_sources",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.temperatureReweight(d, "source", "text", MixAlpha)
      },
      Some(s"""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
        |pa AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(round(CAST(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS actual_frac,
        |    CAST(round(CAST(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE),
        |      $MixAlpha) AS DECIMAL(18,8)), 6) AS DOUBLE) AS pa6
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT CAST(sum(pa6::DECIMAL(18,8)) AS DECIMAL(18,8)) AS z
        |  FROM pa)
        |SELECT source, n_docs, n_tokens, actual_frac,
        |  CAST(round(CAST(pa6 / CAST(z AS DOUBLE) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS temp_frac,
        |  CAST(round(CAST((pa6 / CAST(z AS DOUBLE)) / actual_frac
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight
        |FROM pa CROSS JOIN z ORDER BY source""".stripMargin)),

    // Token-balanced curriculum shards (Text.curriculumShards):
    // difficulty-ordered corpus cut into CurriculumK equal-TOKEN
    // shards with pure BIGINT arithmetic — no ntile (row-balanced +
    // global sort) and no IEEE anywhere. The oracle's single global
    // running sum over (diff, doc_id) equals the distributed
    // bucket-offset + within-bucket prefix decomposition exactly.
    QueryDef("curriculum_token_shards",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.curriculumShards(d, "doc_id", "text", "n_chars",
          CurriculumK)
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |    (n_chars * 100) // CAST(len(string_split(text, ' ')) AS BIGINT)
        |      AS diff
        |  FROM documents),
        |tot AS (SELECT CAST(sum(nw) AS BIGINT) AS total FROM d),
        |p AS (
        |  SELECT diff, nw,
        |    sum(nw) OVER (ORDER BY diff, doc_id ROWS UNBOUNDED PRECEDING) - nw
        |      AS cumb
        |  FROM d)
        |SELECT CAST((cumb * $CurriculumK) // total AS BIGINT) AS shard,
        |  count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens,
        |  min(diff) AS min_cpt, max(diff) AS max_cpt
        |FROM p CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BPE merge induction (Text.bpeMergeRounds): the first 3 merge
    // steps of tokenizer-vocab training over the capped word vocab —
    // merged pair + weighted count + symbol-inventory size per round.
    // The oracle unrolls the identical argmax/replace rounds over the
    // same pipe-wrapped symbol strings.
    QueryDef("bpe_merge_rounds",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.bpeMergeRounds(d, "text", BpeMergeRounds,
          BpeMergeTopWords)
      },
      Some(bpeOracle(BpeMergeRounds, BpeMergeTopWords))),

    // Tokenizer encode-apply: run the corpus through the merges
    // bpe_merge_rounds just learned and report per-source token
    // economics (words, chars, tokens, chars/token) — the number a
    // mixture designer multiplies by price-per-token. The 3 winning
    // pairs are bounded driver state (one row per round, same
    // contract as exactQuantiles' bracketing) applied as literal
    // replaces over the piped word representation, so the encode is
    // one scan + one per-source rollup; symbols are alnum by
    // construction, so splicing them into the replace pattern is
    // injection-safe. The oracle replays the FULL train+apply chain
    // from scratch — any drift in either stage breaks the gate.
    QueryDef("bpe_encode_stats",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val merges = graft.ops.Text.bpeMergeRounds(d, "text",
            BpeMergeRounds, BpeMergeTopWords)
          .orderBy(col("round")).collect()
          .map(r => (r.getString(1), r.getString(2)))
        val piped = d
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .where(col("w").rlike("^[A-Za-z0-9]+$"))
          .withColumn("s", concat(lit("|"),
            array_join(expr(
              "transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
              "||"), lit("|")))
        val applied = merges.foldLeft(piped) { case (df, (a, b)) =>
          df.withColumn("s", expr(s"replace(s, '|$a||$b|', '|$a$b|')"))
        }
        val tok = size(split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|"))
        applied.withColumn("n_tok", tok)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("w"))).as("n_chars"),
            sum(col("n_tok")).as("n_tokens"),
            round(sum(length(col("w"))).cast("double") /
              sum(col("n_tok")).cast("double"), 6).as("chars_per_token"))
          .orderBy(col("source"))
      },
      Some(bpeEncodeOracle(BpeMergeRounds, BpeMergeTopWords))),

    // Unicode differential twin of bpe_encode_stats (VERDICT r11 #2):
    // the FULL train+apply BPE chain over the transliterated
    // multi-byte corpus, with the word filter widened to Unicode
    // letters/digits (Java \p{L}\p{N} ≡ RE2 \pL\pN — both Unicode
    // general categories; the astral 𝕠 is category Ll so multi-byte
    // words survive into the vocab on both engines). Proves the
    // pipe-wrapped symbol machinery is codepoint-clean end-to-end:
    // substring/length are codepoint-based on both sides, merged
    // multi-byte symbols splice into replace() literals byte-exactly,
    // and chars_per_token counts codepoints — a code-unit drift in
    // ANY round's argmax or replace would cascade into every later
    // round and break the hash. Symbols remain letters/digits only,
    // so the replace-literal injection-safety argument is unchanged.
    QueryDef("bpe_encode_stats_unicode",
      (s, dir) => {
        val uniPat = "^[\\p{L}\\p{N}]+$"
        val d = Tables.load(s, dir, "documents")
          .withColumn("text", graft.ops.Text.uniTranslit(col("text")))
        val merges = graft.ops.Text.bpeMergeRounds(d, "text",
            BpeMergeRounds, BpeMergeTopWords, wordPattern = uniPat)
          .orderBy(col("round")).collect()
          .map(r => (r.getString(1), r.getString(2)))
        val piped = d
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .where(col("w").rlike(uniPat))
          .withColumn("s", concat(lit("|"),
            array_join(expr(
              "transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
              "||"), lit("|")))
        val applied = merges.foldLeft(piped) { case (df, (a, b)) =>
          df.withColumn("s", expr(s"replace(s, '|$a||$b|', '|$a$b|')"))
        }
        val tok = size(split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|"))
        applied.withColumn("n_tok", tok)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_words"),
            sum(length(col("w"))).as("n_chars"),
            sum(col("n_tok")).as("n_tokens"),
            round(sum(length(col("w"))).cast("double") /
              sum(col("n_tok")).cast("double"), 6).as("chars_per_token"))
          .orderBy(col("source"))
      },
      Some(bpeEncodeOracle(BpeMergeRounds, BpeMergeTopWords,
        textExpr = graft.ops.Text.uniTranslitSql("text"),
        wordRe = "^[\\pL\\pN]+$"))),

    // Pairwise source n-gram overlap (Text.sourceOverlapMatrix):
    // Jaccard over a deterministic hash-residue θ-sample of 3-grams —
    // mirrored dumps / cross-listed crawls telemetry. The sample is
    // replayed identically by the oracle, so the gate is exact.
    QueryDef("source_overlap_matrix",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.sourceOverlapMatrix(d, "source", "text",
          OverlapN, OverlapSampleMod)
      },
      Some(s"""WITH d AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT source,
        |    ('0x' || substring(md5(
        |      array_to_string(w[i:i+${OverlapN - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM d, unnest(generate_series(1, len(w) - ${OverlapN - 1})) AS t(i)),
        |sg AS (SELECT DISTINCT source, h FROM g
        |       WHERE h % $OverlapSampleMod = 0),
        |sz AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |  CAST(round(CAST(CAST(n_shared AS DOUBLE) /
        |    CAST(za.n + zb.n - n_shared AS DOUBLE) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS jaccard
        |FROM sh JOIN sz za ON za.source = sh.source_a
        |        JOIN sz zb ON zb.source = sh.source_b
        |ORDER BY source_a, source_b""".stripMargin)),

    // Jensen-Shannon divergence of each source's token distribution
    // vs the whole corpus (Text.jsDivergenceBySlice): categorical
    // drift per mixture component, top-JsVocabK vocab + one OOV
    // bucket so both distributions sum to 1 and per-slice work is
    // bounded by slices x vocab. One corpus scan; per-term IEEE
    // ratios of exact counts, 6dp-rounded decimal term sum.
    QueryDef("drift_js_sources",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.jsDivergenceBySlice(d, "source", "text", JsVocabK)
      },
      Some(s"""WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |base AS (SELECT source, t, count(*) AS c FROM w GROUP BY 1, 2),
        |gv AS (SELECT t, sum(c)::BIGINT AS cg FROM base GROUP BY 1),
        |topv AS (SELECT t, cg FROM gv ORDER BY cg DESC, t LIMIT $JsVocabK),
        |tots AS (SELECT source, sum(c)::BIGINT AS tot_s FROM base GROUP BY 1),
        |gtot AS (SELECT sum(cg)::BIGINT AS tot_g FROM gv),
        |ing AS (SELECT sum(cg)::BIGINT AS in_g FROM topv),
        |grid AS (SELECT s.source, v.t, v.cg
        |         FROM (SELECT source FROM tots) s CROSS JOIN topv v),
        |cnt AS (SELECT g.source, g.cg, coalesce(b.c, 0)::BIGINT AS cs
        |        FROM grid g LEFT JOIN base b
        |          ON b.source = g.source AND b.t = g.t),
        |ins AS (SELECT source, sum(cs)::BIGINT AS in_s FROM cnt GROUP BY 1),
        |rws AS (SELECT source, cg, cs FROM cnt
        |        UNION ALL
        |        SELECT t.source,
        |          (SELECT tot_g FROM gtot) - (SELECT in_g FROM ing),
        |          t.tot_s - i.in_s
        |        FROM tots t JOIN ins i USING (source)),
        |terms AS (
        |  SELECT r.source, t.tot_s,
        |    round(
        |      0.5 * (CASE WHEN r.cs = 0 THEN 0 ELSE
        |        (r.cs::DOUBLE / t.tot_s::DOUBLE) *
        |        ln((r.cs::DOUBLE / t.tot_s::DOUBLE) /
        |           (((r.cs::DOUBLE / t.tot_s::DOUBLE) +
        |             (r.cg::DOUBLE / g.tot_g::DOUBLE)) / 2.0)) END)
        |    + 0.5 * (CASE WHEN r.cg = 0 THEN 0 ELSE
        |        (r.cg::DOUBLE / g.tot_g::DOUBLE) *
        |        ln((r.cg::DOUBLE / g.tot_g::DOUBLE) /
        |           (((r.cs::DOUBLE / t.tot_s::DOUBLE) +
        |             (r.cg::DOUBLE / g.tot_g::DOUBLE)) / 2.0)) END), 6)
        |      AS term
        |  FROM rws r JOIN tots t USING (source) CROSS JOIN gtot g)
        |SELECT source, max(tot_s) AS n_tokens,
        |  CAST(round(CAST(sum(term::DECIMAL(18,8)) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS js_vs_corpus
        |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // Corpus-adaptive boilerplate strip (Text.stripBoilerplate):
    // tokens present in > 60% of documents are template noise;
    // cleaned text preserves original token order. The oracle
    // rebuilds the df table and reassembles with an ordered
    // string_agg.
    QueryDef("text_strip_boilerplate",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Text.stripBoilerplate(d, "doc_id", "text", 0.6)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |dfq AS (
        |  SELECT tok, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(w)) AS tok FROM t)
        |  GROUP BY 1),
        |bp AS (SELECT tok FROM dfq CROSS JOIN n
        |  WHERE df::DOUBLE > 0.6 * nd::DOUBLE),
        |tok AS (
        |  SELECT doc_id, i, w[i] AS tok
        |  FROM (SELECT doc_id, w,
        |    unnest(generate_series(1, len(w))) AS i FROM t)),
        |kept AS (SELECT k.doc_id, k.i, k.tok FROM tok k
        |  ANTI JOIN bp ON bp.tok = k.tok),
        |agg AS (SELECT doc_id,
        |    string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
        |  coalesce(a.n_kept, 0) AS n_kept,
        |  len(t.w) - coalesce(a.n_kept, 0) AS n_removed
        |FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // Vocabulary builder — the first step of any tokenizer/BPE
    // training run: global token counts, deterministic top-k. One
    // explode + one hash aggregate (map-side partials make the
    // shuffle |vocab|-sized, not corpus-sized); the final top-k is
    // TakeOrderedAndProject, not a global sort.
    QueryDef("vocab_topk",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        d.select(explode(split(col("text"), " ")).as("token"))
          .where(col("token") =!= "")
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("token"))
          .limit(20)
      },
      Some("""SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 20""".stripMargin)),

    // Heavy hitters via Misra–Gries sketch + exact rescore: phase 1
    // is one scan with ≤64 counters of mergeable state (no
    // vocabulary-sized shuffle — compare vocab_topk, whose exchange
    // carries every distinct token); phase 2 exact-counts only the
    // surviving candidates behind a broadcast semi join. The result
    // is EXACT (and therefore oracle-checkable) whenever the true
    // k-th item clears the n/(capacity+1) MG bound — the caller's
    // sizing contract, spec-asserted under adversarial skew AND
    // enforced at runtime: every returned count must clear the bound
    // (assert_true over the k result rows × one broadcast scalar), so
    // an undersized capacity fails loudly instead of flaking with the
    // merge order.
    QueryDef("heavy_hitters_mg",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val tokens = d.select(explode(split(col("text"), " ")).as("token"))
          .where(col("token") =!= "")
        val cands = tokens
          .agg(frequentItems(col("token"), 64).as("cands"))
          .select(explode(col("cands")).as("token"))
        val total = tokens.agg(count(lit(1)).as("__n"))
        tokens.join(broadcast(cands), "token")
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("token"))
          .limit(10)
          .crossJoin(broadcast(total))
          .where(assert_true(col("cnt") * 65L > col("__n"),
            concat(lit("heavy_hitters_mg: a returned count does not clear " +
              "the n/(capacity+1) MG survival bound (n="), col("__n"),
              lit(") — raise capacity; below the bound candidate survival " +
                "is merge-order-dependent"))).isNull)
          .select(col("token"), col("cnt"))
          .orderBy(desc("cnt"), col("token"))
      },
      Some("""SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 10""".stripMargin)),

    // PII-style redaction: mask a term list, count masked spans per
    // document. Pure scan-time regex (one pass, codegen'd,
    // partitioning-independent) — the shape of every large-corpus
    // scrubbing pass. The term list stands in for the usual
    // email/phone/SSN patterns (this corpus has no digits).
    QueryDef("text_redact",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pat = "\\b(key|hash|table|index)\\b"
        d.select(col("doc_id"),
            regexp_replace(col("text"), pat, "<redacted>").as("redacted"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0)))
              .as("n_redactions"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        |  regexp_replace(text, '\b(key|hash|table|index)\b', '<redacted>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '\b(key|hash|table|index)\b'))::INT AS n_redactions
        |FROM documents
        |ORDER BY doc_id""".stripMargin)),

    // TF-IDF top-3 terms per document — keyword extraction / corpus
    // characterization. Plan shape at 100 TB: tf is one hash-agg on
    // (doc_id, term); df is a distinct + agg on term; the tf⋈df join
    // shuffles on term (vocabulary is unbounded — no broadcast); the
    // per-doc top-k is a rank window WindowGroupLimit prunes to 3 rows
    // per doc before the sort materializes. The corpus-size scalar is
    // the only broadcast. Same ln-then-round-6 determinism contract as
    // text_unigram_logprob; rounded score + term tie-break keeps the
    // rank stable cross-engine.
    // Hashing-trick vectorizer (Weinberger et al.): BPE-ish tokens →
    // fixed D=1024-dim sparse vectors with the ± sign hash that keeps
    // collision noise zero-mean — the vocabularyless featurizer that
    // needs NO fitted dictionary, so it maps any future shard of a
    // 100 TB corpus identically with zero coordination. One explode +
    // one (doc, bucket) aggregate; bucket and sign both derive from
    // the shared 60-bit hash so the oracle replays them exactly.
    // Output is the sparse COO form (doc_id, bucket, n_tokens,
    // weight) — the layout a downstream trainer consumes directly.
    QueryDef("feature_hash_vectors",
      (s, dir) => {
        val dDim = 1024L
        val h = hash60(col("tok"))
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(bpeTokens(col("text"))).as("tok"))
          .select(col("doc_id"),
            pmod(h, lit(dDim)).as("bucket"),
            // h is positive 60-bit; >>10 = h div 1024 exactly (a
            // double `/` would lose low bits past 2^53)
            (pmod(shiftrightunsigned(h, 10), lit(2L)) * 2L - 1L)
              .as("sign"))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("sign")).as("weight"))
          .orderBy(col("doc_id"), col("bucket"))
      },
      Some(s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '$BpeTokenPattern')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
        |  FROM tok)
        |SELECT doc_id, h % 1024 AS bucket,
        |  COUNT(*) AS n_tokens,
        |  SUM(CASE WHEN (h // 1024) % 2 = 0 THEN -1 ELSE 1 END)::BIGINT AS weight
        |FROM h GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin)),

    QueryDef("text_tfidf_topk",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val words = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("t"))
        val tf = words.groupBy(col("doc_id"), col("t"))
          .agg(count(lit(1)).as("tf"))
        // df falls out of tf itself (its rows ARE the distinct
        // (doc, term) pairs) — no second explode pass over the corpus
        val df_ = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(df_, "t").crossJoin(broadcast(n))
          .withColumn("tfidf", round(
            col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)),
            6))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("t"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("t"), col("tfidf"), col("rk"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM (SELECT DISTINCT doc_id, t FROM w)
        |       GROUP BY t),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, t,
        |    round(tf * ln((n_docs + 1)::DOUBLE / (df + 1)), 6) AS tfidf
        |  FROM tf JOIN df USING (t), n),
        |r AS (SELECT doc_id, t, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, t) AS rk
        |      FROM sc)
        |SELECT doc_id, t, tfidf, rk::INT AS rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin)),

    // Entropy/repetition signals missing from text_repetition: word
    // entropy (low ⇒ templated text) and duplicated-trigram mass (the
    // Gopher-family repetition filter). Gram hashes + decimal-term
    // entropy sum keep both engines bit-identical — see
    // ops/Text.entropySignals for the decomposition that avoids a
    // per-doc-total join.
    QueryDef("text_entropy_signals",
      (s, dir) =>
        Text.entropySignals(Tables.load(s, dir, "documents"),
          "doc_id", "text"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |puni AS (
        |  SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS g,
        |    count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS t FROM w) GROUP BY 1, 2),
        |ent AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(log2(sum(c)::DOUBLE) -
        |      CAST(sum(CAST(c::DOUBLE * log2(c::DOUBLE) AS DECIMAL(18,8))) AS DOUBLE)
        |        / sum(c)::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE) AS word_entropy
        |  FROM puni GROUP BY 1),
        |ptri AS (
        |  SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS g,
        |    count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(w) - 1),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |        FROM w) GROUP BY 1, 2),
        |trif AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DECIMAL(18,6)
        |      / sum(c) AS DECIMAL(18,8)), 6) AS DOUBLE) AS dup_trigram_frac
        |  FROM ptri GROUP BY 1)
        |SELECT e.doc_id, e.word_entropy,
        |  coalesce(t.dup_trigram_frac, 0.0) AS dup_trigram_frac
        |FROM ent e LEFT JOIN trif t USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Eval-set decontamination: training docs sharing any word n-gram
    // with the eval split (deterministic doc_id % 97 holdout here; a
    // real pipeline joins against benchmark files). Published recipes
    // use 8-13 grams; this synthetic word-salad corpus needs n=3 for a
    // non-trivial gate — the operator takes n as a parameter. Scale
    // shape: eval n-gram hashes broadcast (~8 B each), train side is
    // one scan + explode + broadcast join + one doc_id shuffle.
    QueryDef("decontam_ngram_overlap",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Text.decontaminate(
          d.where(col("doc_id") % DecontamEvalMod =!= 0),
          d.where(col("doc_id") % DecontamEvalMod === 0),
          "doc_id", "text", DecontamN)
      },
      Some(s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    ('0x' || substring(md5(
        |      array_to_string(w[i:i+${DecontamN - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM d, unnest(generate_series(1, len(w) - ${DecontamN - 1})) AS t(i)),
        |ev AS (SELECT DISTINCT doc_id AS eval_id, h FROM g
        |       WHERE doc_id % $DecontamEvalMod = 0)
        |SELECT g.doc_id, count(DISTINCT g.h) AS n_ngrams_hit,
        |  count(DISTINCT ev.eval_id) AS n_eval_docs
        |FROM g JOIN ev ON g.h = ev.h WHERE g.doc_id % $DecontamEvalMod <> 0
        |GROUP BY 1 ORDER BY n_ngrams_hit DESC, doc_id""".stripMargin)),

    // Source-concentration diagnostic: per-source Gini coefficient of
    // document token counts — "is this source a few giant documents or
    // an even spread" (feeds sampling-weight and shard-packing
    // decisions). Exact rank formula G = Σ(2i−n−1)·x_i / (n·Σx) over
    // x sorted ascending: the numerator is an exact integer sum
    // (DECIMAL(38,0) against 100 TB-scale overflow), so the only IEEE
    // step is one final division — order-independent across engines
    // and partitionings. Tie order within equal x is irrelevant: a run
    // of tied values occupies a fixed SET of ranks, and the weight sum
    // over that set doesn't depend on the order within the run. Plan
    // shape: one scan + one per-source window sort + one groupBy —
    // the window partitions by source, so no global sort.
    QueryDef("source_gini_tokens",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            wordCount(col("text")).cast("long").as("nw"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("nw"), col("doc_id"))
        val r = d
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy(col("source"))))
        r.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nw")).as("total_words"),
            round(
              sum(((lit(2L) * col("i") - col("n") - lit(1L))
                  .cast(DecimalType(38, 0)) * col("nw")).cast(DecimalType(38, 0)))
                .cast("double") /
                (count(lit(1)).cast("double") * sum(col("nw")).cast("double")),
              6).as("gini"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
        |  SELECT source, doc_id,
        |    len(string_split(text, ' '))::BIGINT AS nw
        |  FROM documents),
        |r AS (
        |  SELECT source, nw,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY nw, doc_id) AS i,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d)
        |SELECT source, COUNT(*) AS n_docs, SUM(nw)::BIGINT AS total_words,
        |  round(SUM(((2 * i - n - 1)::DECIMAL(38,0) * nw)::DECIMAL(38,0))::DOUBLE
        |    / (COUNT(*)::DOUBLE * SUM(nw)::DOUBLE), 6) AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // N-gram diversity (type-token ratio) per source for n = 1, 2, 3 —
    // the standard lexical-diversity screen for template-generated or
    // self-repetitive sources (low TTR ⇒ boilerplate-heavy). Exact
    // distinct counts here; at 100 TB the per-group distinct becomes
    // the KMV sketch (expressions.KmvDistinct) with the same report
    // shape. Plan: one scan fans out to the three gram lengths (the
    // union shares the scan per branch), one shuffle per groupBy with
    // distinct handled by Spark's expand, nothing driver-side.
    QueryDef("ngram_diversity_report",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("source"), split(col("text"), " ").as("w"))
        def grams(n: Int) = d.select(col("source"), lit(n).as("n"),
          explode(when(size(col("w")) >= n,
            transform(sequence(lit(1), size(col("w")) - lit(n - 1)),
              i => concat_ws(" ", slice(col("w"), i, lit(n)))))
            .otherwise(array().cast("array<string>"))).as("g"))
        grams(1).union(grams(2)).union(grams(3))
          .groupBy(col("source"), col("n"))
          .agg(count(lit(1)).as("total_grams"),
            countDistinct(col("g")).as("distinct_grams"),
            round(countDistinct(col("g")).cast("double") /
              count(lit(1)).cast("double"), 6).as("ttr"))
          .orderBy(col("source"), col("n"))
      },
      Some("""WITH w AS (
        |  SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT source, 1 AS n, unnest(w) AS g FROM w
        |  UNION ALL
        |  SELECT source, 2 AS n,
        |    unnest(list_transform(range(1, len(w)),
        |      i -> array_to_string(w[i:i+1], ' '))) AS g
        |  FROM w
        |  UNION ALL
        |  SELECT source, 3 AS n,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS g
        |  FROM w)
        |SELECT source, n, COUNT(*) AS total_grams,
        |  COUNT(DISTINCT g) AS distinct_grams,
        |  round(COUNT(DISTINCT g) / COUNT(*)::DOUBLE, 6) AS ttr
        |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin)),

    // Zipf-law fit over the top-1000 vocabulary: OLS of ln(freq) on
    // ln(rank) — slope ≈ −1 for natural text; a flat or broken slope
    // flags synthetic/templated corpora (the "does this source look
    // like language" screen next to text_lang_id's n-gram vote). The
    // vocab count is one token shuffle; the top-1000 cut is a sorted
    // limit (never a global window); the fit runs over ≤1000 rows with
    // each ln() rounded to 6dp DECIMAL before the moment sums, so the
    // sums are exact and order-independent (events_trend_ols recipe)
    // and the final slope/intercept/r² are fixed IEEE shapes.
    QueryDef("vocab_zipf_fit",
      (s, dir) => {
        val top = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("t")).limit(ZipfTopK)
        // window over the limited frame: ≤ ZipfTopK rows, bounded
        val r = top.withColumn("i",
            row_number().over(Window.orderBy(desc("c"), col("t"))))
          .select(
            round(log(col("i")), 6).cast(DecimalType(18, 6)).as("x"),
            round(log(col("c")), 6).cast(DecimalType(18, 6)).as("y"))
        val m = r.agg(
          count(lit(1)).as("n_terms"),
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 12))).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(DecimalType(38, 12))).cast("double").as("sxy"),
          sum((col("y") * col("y")).cast(DecimalType(38, 12))).cast("double").as("syy"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
        m.select(col("n_terms"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) *
              (col("n") * col("sxy") - col("sx") * col("sy")) /
              (den * (col("n") * col("syy") - col("sy") * col("sy"))),
            6).as("r2"))
      },
      Some(s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
        |top AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT $ZipfTopK),
        |r AS (
        |  SELECT
        |    round(ln(ROW_NUMBER() OVER (ORDER BY c DESC, t)), 6)::DECIMAL(18,6) AS x,
        |    round(ln(c), 6)::DECIMAL(18,6) AS y
        |  FROM top),
        |m AS (
        |  SELECT COUNT(*) AS n_terms, COUNT(*)::DOUBLE AS n,
        |    SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
        |    SUM((x * x)::DECIMAL(38,12))::DOUBLE AS sxx,
        |    SUM((x * y)::DECIMAL(38,12))::DOUBLE AS sxy,
        |    SUM((y * y)::DECIMAL(38,12))::DOUBLE AS syy
        |  FROM r)
        |SELECT n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
        |    6) AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin)),

    // Count–Min point-frequency sketch vs exact counts: CMS over the
    // corpus token stream (depth 4 × width 16 — deliberately narrow so
    // the 31-word vocabulary collides and the report shows real
    // overcounts), probed at the BM25 query terms plus one absent
    // token. overcount = est − exact is the CMS one-sided error, ≥ 0
    // by construction; the absent probe shows what a pure-collision
    // estimate looks like. The oracle never simulates the sketch: a
    // CMS bucket IS Σ counts of the tokens landing in it, which SQL
    // computes directly from the per-token counts — same integers,
    // same minima.
    QueryDef("sketch_freq_cms",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
        val sk = tok.agg(countMin(col("t"), CmsDepth, CmsWidth).as("sk"))
        val ss = s
        import ss.implicits._
        val probes = CmsProbes.toDF("term")
        val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("exact_count"))
        probes.crossJoin(broadcast(sk))
          .withColumn("est_count",
            countMinEstimate(col("sk"), hash60(col("term")), CmsDepth, CmsWidth))
          .join(exact, col("term") === col("t"), "left")
          .select(col("term"),
            coalesce(col("exact_count"), lit(0L)).as("exact_count"),
            col("est_count"),
            (col("est_count") - coalesce(col("exact_count"), lit(0L)))
              .as("overcount"))
          .orderBy(col("term"))
      },
      Some {
        val tokBuckets = (0 until CmsDepth)
          .map(j => s"${cmsBucketSql("h", j, CmsWidth)} AS b$j").mkString(",\n|    ")
        val probeBuckets = (0 until CmsDepth)
          .map(j => s"${cmsBucketSql("h", j, CmsWidth)} AS p$j").mkString(",\n|    ")
        val estTerms = (0 until CmsDepth).map(j =>
          s"(SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) FROM bk WHERE bk.b$j = pb.p$j)")
          .mkString(",\n|    ")
        s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |bk AS (
        |  SELECT t, c,
        |    $tokBuckets
        |  FROM (SELECT t, c,
        |    ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM cnt) z),
        |pr AS (SELECT unnest([${CmsProbes.map(p => s"'$p'").mkString(", ")}]) AS term),
        |pb AS (
        |  SELECT term,
        |    $probeBuckets
        |  FROM (SELECT term,
        |    ('0x' || substring(md5(term), 1, 15))::BIGINT AS h FROM pr) z),
        |est AS (
        |  SELECT pb.term, least(
        |    $estTerms) AS est_count
        |  FROM pb)
        |SELECT e.term, COALESCE(cnt.c, 0) AS exact_count, e.est_count,
        |  e.est_count - COALESCE(cnt.c, 0) AS overcount
        |FROM est e LEFT JOIN cnt ON cnt.t = e.term
        |ORDER BY term""".stripMargin
      }),

    // Heaps'-law type-growth fit (V = K·N^β, the standard companion
    // to the Zipf rank-frequency fit): distinct TRIGRAM types V at
    // ten doc-id-decile checkpoints against cumulative token count N,
    // fitted in log-log by the same DECIMAL-exact OLS as
    // vocab_zipf_fit. β says how fast new text keeps paying novel
    // content — the corpus-growth planning number. Types are trigrams
    // over the shared 60-bit gram hash (text_repetition/decontam
    // convention): the synthetic corpus has a 31-word vocabulary, so
    // unigram V flattens in the first decile (zero variance — the fit
    // divides by zero); trigram types grow through the whole corpus,
    // and at real-corpus scale the hash also keeps the type shuffle
    // at 8 bytes/occurrence instead of strings. Scale shape:
    // per-type min(doc_id) is ONE shuffle; checkpoint assignment is
    // integer (id·10 div n) against a broadcast max; the cumulative
    // window runs over exactly 10 rows.
    QueryDef("vocab_heaps_fit",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val mx = d.agg(max(col("doc_id")).as("__m"))
        val fv = d.select(col("doc_id"),
            explode(Similarity.gramHashesAll(col("text"), HeapsGramN)).as("h"))
          .groupBy(col("h")).agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(mx))
          .select(expr("(fd * 10) div (__m + 1)").as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("nv"))
        val tb = d.crossJoin(broadcast(mx))
          .select(expr("(doc_id * 10) div (__m + 1)").as("b"),
            wordCount(col("text")).cast("long").as("nw"))
          .groupBy(col("b")).agg(sum(col("nw")).as("nt"))
        val cum = Window.orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val r = tb.join(fv, Seq("b"), "left")
          .withColumn("V", sum(coalesce(col("nv"), lit(0L))).over(cum))
          .withColumn("N", sum(col("nt")).over(cum))
          .select(
            round(log(col("N")), 6).cast(DecimalType(18, 6)).as("x"),
            round(log(col("V")), 6).cast(DecimalType(18, 6)).as("y"))
        val m = r.agg(
          count(lit(1)).as("n_checkpoints"),
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast(DecimalType(38, 12))).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast(DecimalType(38, 12))).cast("double").as("sxy"),
          sum((col("y") * col("y")).cast(DecimalType(38, 12))).cast("double").as("syy"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
        m.select(col("n_checkpoints"),
          round(slope, 6).as("beta"),
          round((col("sy") - slope * col("sx")) / col("n"), 6).as("log_k"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) *
              (col("n") * col("sxy") - col("sx") * col("sy")) /
              (den * (col("n") * col("syy") - col("sy") * col("sy"))),
            6).as("r2"))
      },
      Some(s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(array_to_string(ws[i:i+${HeapsGramN - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM ws, LATERAL unnest(range(1, len(ws) - ${HeapsGramN - 2})) AS x(i)
        |  WHERE len(ws) >= $HeapsGramN),
        |fv AS (
        |  SELECT (fd * 10) // (m + 1) AS b, count(*) AS nv
        |  FROM (SELECT h, min(doc_id) AS fd FROM g GROUP BY h) f, mx
        |  GROUP BY 1),
        |tb AS (
        |  SELECT (doc_id * 10) // (m + 1) AS b,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS nt
        |  FROM documents, mx GROUP BY 1),
        |pts AS (
        |  SELECT tb.b,
        |    sum(COALESCE(fv.nv, 0)) OVER (ORDER BY tb.b) AS V,
        |    sum(tb.nt) OVER (ORDER BY tb.b) AS N
        |  FROM tb LEFT JOIN fv USING (b)),
        |r AS (
        |  SELECT round(ln(N), 6)::DECIMAL(18,6) AS x,
        |    round(ln(V), 6)::DECIMAL(18,6) AS y
        |  FROM pts),
        |m AS (
        |  SELECT COUNT(*) AS n_checkpoints, COUNT(*)::DOUBLE AS n,
        |    SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
        |    SUM((x * x)::DECIMAL(38,12))::DOUBLE AS sxx,
        |    SUM((x * y)::DECIMAL(38,12))::DOUBLE AS sxy,
        |    SUM((y * y)::DECIMAL(38,12))::DOUBLE AS syy
        |  FROM r)
        |SELECT n_checkpoints,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
        |    6) AS log_k,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin)),

    // Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical
    // ranking and an embedding-cosine dense ranking (query = vec 0),
    // the standard fusion for RAG-corpus retrieval: rrf =
    // Σ 1/(60+rank) over the lists containing the doc. Each leg is
    // ranked by its own deterministic (score desc, id) order and cut
    // to a 50-doc pool BEFORE any window runs, so the fusion windows
    // and the full-outer join touch ≤50 rows per leg regardless of
    // corpus size; the legs themselves are the already-scale-audited
    // BM25 pipeline and one broadcast-query cosine scan.
    QueryDef("retrieval_rrf_hybrid",
      (s, dir) => {
        val (lex, den) = retrievalPools(s, dir)
        lex.join(den, col("doc_id") === col("vec_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
            col("lex_rank"), col("vec_rank"),
            round(
              coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
                coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
              6).as("rrf"))
          .orderBy(desc("rrf"), col("doc_id")).limit(20)
      },
      Some(s"""$retrievalPoolsSql
        |SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
        |  l.lex_rank, d.vec_rank,
        |  round(COALESCE(1.0 / ($RrfK + l.lex_rank), 0)
        |    + COALESCE(1.0 / ($RrfK + d.vec_rank), 0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.vec_id
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin)),

    // Retrieval-leg agreement: truncated rank-biased overlap (Webber
    // et al. 2010) between the BM25 and dense pools, plus the raw
    // top-10 set overlap — the "are my two retrieval legs redundant
    // or complementary" dial that decides whether RRF fusion buys
    // anything (RBO→1 ⇒ the legs agree and fusion is a no-op;
    // RBO→0 ⇒ fusion genuinely widens recall). A doc in both pools
    // first counts at depth m = max(lex_rank, vec_rank), so
    // RBO = Σ_docs Σ_{d=m..k} (1−p)·p^(d−1)/d; each term is rounded
    // to 12dp DECIMAL before the sum (order-independent), and the
    // whole computation runs over ≤ pool² bounded rows.
    QueryDef("retrieval_rbo_overlap",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val (lex, den) = retrievalPools(s, dir)
        val both = lex.join(den, col("doc_id") === col("vec_id"))
          .select(greatest(col("lex_rank"), col("vec_rank")).as("m"))
          .stageCheckpoint(true) // ≤ RrfPool rows, read twice
        val counts = both.agg(
          count(lit(1)).as("n_both"),
          coalesce(sum(when(col("m") <= 10, 1L).otherwise(0L)), lit(0L))
            .as("overlap_at_10"))
        val rbo = both
          .select(col("m"), explode(sequence(lit(1), lit(RrfPool))).as("d"))
          .where(col("d") >= col("m"))
          .select(round((lit(1 - RboP) * pow(lit(RboP), col("d") - 1) /
            col("d")).cast(DecimalType(18, 14)), 12).as("t"))
          .agg(coalesce(round(sum(col("t")).cast("double"), 6), lit(0.0))
            .as("rbo"))
        counts.crossJoin(rbo)
      },
      Some(s"""$retrievalPoolsSql,
        |pools AS (
        |  SELECT greatest(l.lex_rank, d.vec_rank) AS m
        |  FROM lex l JOIN den d ON l.doc_id = d.vec_id),
        |terms AS (
        |  SELECT round(CAST(${1 - RboP} * pow($RboP, i - 1) / i
        |      AS DECIMAL(18,14)), 12) AS t
        |  FROM pools, unnest(generate_series(1, $RrfPool)) AS s(i)
        |  WHERE i >= m)
        |SELECT
        |  (SELECT COUNT(*) FROM pools) AS n_both,
        |  (SELECT COALESCE(SUM(CASE WHEN m <= 10 THEN 1 ELSE 0 END), 0)::BIGINT
        |     FROM pools) AS overlap_at_10,
        |  COALESCE(round(SUM(t)::DOUBLE, 6), 0.0) AS rbo
        |FROM terms""".stripMargin)),

    // Retrieval quality metrics over the same lex/dense pools:
    // nDCG@10 and MRR@10 per leg against a metadata pseudo-relevance
    // oracle (graded: 2 = query doc's source AND lang, 1 = source
    // only, 0 = else — the standard stand-in when no human qrels
    // exist; a real qrels table drops in for `rel` unchanged). IDCG
    // normalizes against the corpus-wide ideal top-10, so ndcg is
    // comparable across legs and corpora. Determinism: DCG terms are
    // numerator ∈ {0,1,3} over log2(rank+1) on integer ranks — fixed
    // IEEE on both engines — each rounded to 12dp DECIMAL before the
    // order-independent sum (the RBO discipline); ideal ranking ties
    // break by doc_id. Scale shape: pools are bounded (RrfPool), the
    // relevance scan is one corpus pass, the ideal top-10 is a
    // TakeOrdered — nothing corpus² anywhere.
    QueryDef("retrieval_eval_metrics",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
        val qd = d.where(col("doc_id") === RrfQueryVec)
          .select(col("source").as("qsrc"), col("lang").as("qlang"))
        val rel = d.crossJoin(broadcast(qd))
          .where(col("doc_id") =!= RrfQueryVec)
          .select(col("doc_id").as("__rid"),
            when(col("source") === col("qsrc") &&
                col("lang") === col("qlang"), 2L)
              .when(col("source") === col("qsrc"), 1L)
              .otherwise(0L).as("rel"))
          .stageCheckpoint(true) // both legs + the ideal read it
        val (lex, den) = retrievalPools(s, dir)
        val lexRel = lex.where(col("lex_rank") <= 10)
          .join(rel, col("doc_id") === col("__rid"), "left")
          .select(lit("lex").as("leg"), col("lex_rank").as("rank"),
            coalesce(col("rel"), lit(0L)).as("rel"))
        val denRel = den.where(col("vec_rank") <= 10)
          .join(rel, col("vec_id") === col("__rid"), "left")
          .select(lit("dense").as("leg"), col("vec_rank").as("rank"),
            coalesce(col("rel"), lit(0L)).as("rel"))
        def gain = when(col("rel") === 2L, 3.0)
          .when(col("rel") === 1L, 1.0).otherwise(0.0)
        def term = round((gain / log2(col("rank") + 1))
          .cast(DecimalType(18, 14)), 12)
        val perLeg = lexRel.unionByName(denRel).groupBy(col("leg"))
          .agg(sum(term).as("__dcg"),
            coalesce(max(when(col("rel") >= 1L,
              round(lit(1.0) / col("rank"), 6))), lit(0.0)).as("mrr_10"))
        val ideal = rel.orderBy(desc("rel"), col("__rid")).limit(10)
          .withColumn("rank", row_number().over(
            Window.orderBy(desc("rel"), col("__rid"))))
          .agg(coalesce(sum(term), lit(java.math.BigDecimal.ZERO)
            .cast(DecimalType(18, 14))).as("__idcg"))
        perLeg.crossJoin(broadcast(ideal))
          .select(col("leg"),
            round(col("__dcg").cast("double"), 6).as("dcg_10"),
            round(col("__idcg").cast("double"), 6).as("idcg_10"),
            when(col("__idcg") === 0, 0.0)
              .otherwise(round((col("__dcg").cast("double") /
                col("__idcg").cast("double")).cast(DecimalType(18, 8)), 6)
                .cast("double")).as("ndcg_10"),
            col("mrr_10"))
          .orderBy(col("leg"))
      },
      Some(s"""$retrievalPoolsSql,
        |qd AS (SELECT source AS qsrc, lang AS qlang FROM documents
        |  WHERE doc_id = $RrfQueryVec),
        |rel AS (
        |  SELECT doc_id AS rid,
        |    CASE WHEN source = qsrc AND lang = qlang THEN 2
        |         WHEN source = qsrc THEN 1 ELSE 0 END AS rel
        |  FROM documents CROSS JOIN qd WHERE doc_id <> $RrfQueryVec),
        |legs AS (
        |  SELECT 'lex' AS leg, l.lex_rank AS rank, COALESCE(r.rel, 0) AS rel
        |  FROM lex l LEFT JOIN rel r ON r.rid = l.doc_id
        |  WHERE l.lex_rank <= 10
        |  UNION ALL
        |  SELECT 'dense', d.vec_rank, COALESCE(r.rel, 0)
        |  FROM den d LEFT JOIN rel r ON r.rid = d.vec_id
        |  WHERE d.vec_rank <= 10),
        |per AS (
        |  SELECT leg,
        |    SUM(round(CAST(
        |      (CASE rel WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END)::DOUBLE
        |        / log2(rank + 1) AS DECIMAL(18,14)), 12)) AS dcg,
        |    COALESCE(MAX(CASE WHEN rel >= 1
        |      THEN round(CAST(1.0 AS DOUBLE) / rank, 6) END), 0.0) AS mrr_10
        |  FROM legs GROUP BY 1),
        |itop AS (
        |  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, rid) AS rank
        |  FROM rel ORDER BY rel DESC, rid LIMIT 10),
        |ideal AS (
        |  SELECT COALESCE(SUM(round(CAST(
        |    (CASE rel WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END)::DOUBLE
        |      / log2(rank + 1) AS DECIMAL(18,14)), 12)),
        |    CAST(0 AS DECIMAL(18,14))) AS idcg
        |  FROM itop)
        |SELECT leg, round(dcg::DOUBLE, 6) AS dcg_10,
        |  round(idcg::DOUBLE, 6) AS idcg_10,
        |  CASE WHEN idcg = 0 THEN 0.0
        |    ELSE CAST(round(CAST(dcg::DOUBLE / idcg::DOUBLE
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) END AS ndcg_10,
        |  mrr_10
        |FROM per CROSS JOIN ideal ORDER BY leg""".stripMargin)),

    // Mixture × quality allocation matrix: for every (source, quality
    // bin) cell, the fraction of the FINAL α-tempered mixture drawn
    // from it — alloc_frac = temp_frac(source) × share-of-source — the
    // table a mixture designer reads to see whether temperature
    // up-weighting of a small source is quietly pulling in its
    // low-quality tail. Composes the mix_temperature_sources weights
    // with the quality_bins_documents binning; per-source and total
    // aggregates are bounded frames broadcast back, the only
    // corpus-sized work is the one scan + (source, bin) rollup.
    QueryDef("mix_quality_matrix",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        def r6(c: org.apache.spark.sql.Column) =
          round(c.cast(dec), 6).cast("double")
        val d = Tables.load(s, dir, "documents")
        val q = round(Text.qualityScore(col("text")), 6)
        val cell = d.select(col("source"),
            least(floor(q * 10).cast("long"), lit(9L)).as("bin"),
            wordCount(col("text")).cast("long").as("nw"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens"))
          .stageCheckpoint(true) // bounded: sources × 10 rows, read twice
        val per = cell.groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("src_tokens"))
        val tot = per.agg(sum(col("src_tokens")).as("total"))
        val pa = per.crossJoin(broadcast(tot))
          .withColumn("pa6", r6(pow(
            col("src_tokens").cast("double") / col("total").cast("double"),
            MixAlpha)))
        val z = pa.agg(sum(col("pa6").cast(dec)).cast(dec).as("z"))
        val w = pa.crossJoin(broadcast(z))
          .select(col("source"), col("src_tokens"),
            r6(col("pa6") / col("z").cast("double")).as("temp_frac"))
        cell.join(broadcast(w), Seq("source"))
          .withColumn("src_frac",
            r6(col("n_tokens").cast("double") / col("src_tokens").cast("double")))
          .select(col("source"), col("bin"), col("n_docs"), col("n_tokens"),
            col("src_frac"), col("temp_frac"),
            r6(col("temp_frac") * col("src_frac")).as("alloc_frac"))
          .orderBy(col("source"), col("bin"))
      },
      Some(s"""WITH q AS (
        |  SELECT source,
        |    len(string_split(text, ' '))::BIGINT AS nwl,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
        |  FROM documents),
        |sc AS (
        |  SELECT source, nwl, round(
        |    (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |    + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |    + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS quality
        |  FROM q),
        |cell AS (
        |  SELECT source, least(floor(quality * 10)::BIGINT, 9) AS bin,
        |    count(*) AS n_docs, CAST(sum(nwl) AS BIGINT) AS n_tokens
        |  FROM sc GROUP BY 1, 2),
        |per AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total FROM per),
        |pa AS (
        |  SELECT source, src_tokens,
        |    CAST(round(CAST(pow(src_tokens::DOUBLE / total::DOUBLE, $MixAlpha)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS pa6
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT CAST(sum(pa6::DECIMAL(18,8)) AS DECIMAL(18,8)) AS z
        |  FROM pa),
        |w AS (
        |  SELECT source, src_tokens,
        |    CAST(round(CAST(pa6 / CAST(z AS DOUBLE) AS DECIMAL(18,8)), 6)
        |      AS DOUBLE) AS temp_frac
        |  FROM pa CROSS JOIN z),
        |cf AS (
        |  SELECT c.source, c.bin, c.n_docs, c.n_tokens,
        |    CAST(round(CAST(c.n_tokens::DOUBLE / w.src_tokens::DOUBLE
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS src_frac,
        |    w.temp_frac
        |  FROM cell c JOIN w USING (source))
        |SELECT source, bin, n_docs, n_tokens, src_frac, temp_frac,
        |  CAST(round(CAST(temp_frac * src_frac AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS alloc_frac
        |FROM cf ORDER BY source, bin""".stripMargin)),

    // Output-shard skew forecast: token balance of the K hash shards a
    // writer would emit — the "will shard 17 finish an hour after the
    // rest" answer BEFORE the write happens. detHash sharding is the
    // production assignment itself, so the forecast is exact, not a
    // model; one scan + one K-row aggregate. max/mean is the
    // straggler multiplier a scheduler cares about (1.0 = perfectly
    // balanced; the write stage's critical path scales with it).
    QueryDef("shard_skew_forecast",
      (s, dir) => {
        val per = Tables.load(s, dir, "documents")
          .select(detHash(ShardK, col("doc_id")).as("shard"),
            wordCount(col("text")).cast("long").as("nw"))
          .groupBy(col("shard"))
          .agg(sum(col("nw")).as("tokens"))
        per.agg(count(lit(1)).as("n_shards"),
            min(col("tokens")).as("min_tokens"),
            max(col("tokens")).as("max_tokens"),
            sum(col("tokens")).as("total_tokens"))
          .select(col("n_shards"), col("min_tokens"), col("max_tokens"),
            round(col("total_tokens").cast("double") /
              col("n_shards").cast("double"), 2).as("mean_tokens"),
            round(col("max_tokens").cast("double") /
              (col("total_tokens").cast("double") / col("n_shards").cast("double")),
              6).as("max_over_mean"))
      },
      Some(s"""WITH per AS (
        |  SELECT ${detHashSql(ShardK, Seq("doc_id"))} AS shard,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1)
        |SELECT COUNT(*) AS n_shards,
        |  MIN(tokens) AS min_tokens, MAX(tokens) AS max_tokens,
        |  round(SUM(tokens)::DOUBLE / COUNT(*)::DOUBLE, 2) AS mean_tokens,
        |  round(MAX(tokens)::DOUBLE
        |    / (SUM(tokens)::DOUBLE / COUNT(*)::DOUBLE), 6) AS max_over_mean
        |FROM per""".stripMargin)),

    // Language-ID confusion matrix: heuristic prediction vs the
    // ground-truth lang column — the eval that says where the
    // lang_known funnel stage actually loses documents (zh/fr have no
    // profile, so their rows are the heuristic's honest blind spots).
    // One scan + a (lang, pred) rollup; row fractions join back from a
    // bounded per-lang total.
    QueryDef("text_langid_confusion",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val m = d.select(col("lang"), Text.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
        val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
        m.join(broadcast(tot), Seq("lang"))
          .select(col("lang"), col("lang_pred"), col("n"),
            round((col("n").cast("double") / col("__t").cast("double"))
              .cast(dec), 6).cast("double").as("frac"))
          .orderBy(col("lang"), col("lang_pred"))
      },
      Some(s"""WITH h AS (
        |  SELECT lang,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(0)}))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(1)}))) AS h_es,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(2)}))) AS h_de
        |  FROM documents),
        |p AS (
        |  SELECT lang, CASE
        |    WHEN h_en + h_es + h_de = 0 THEN 'und'
        |    WHEN h_en >= h_es AND h_en >= h_de THEN 'en'
        |    WHEN h_es >= h_de THEN 'es'
        |    ELSE 'de' END AS lang_pred
        |  FROM h),
        |m AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tt FROM m GROUP BY 1)
        |SELECT m.lang, m.lang_pred, m.n,
        |  CAST(round(CAST(m.n::DOUBLE / t.tt::DOUBLE AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS frac
        |FROM m JOIN t USING (lang)
        |ORDER BY lang, lang_pred""".stripMargin)),

    // Curation funnel: cumulative survival through the standard
    // sequential filter chain (language known → length band → quality
    // → lexical diversity → exact-unique) — the reference's ETL shape
    // (etl_slimpajama_dc_proc.py applies filters in sequence), read as
    // "where does my corpus actually go". ONE scan computes every
    // per-doc flag (the dedup flag is the only shuffle: first-per-md5
    // window); the cumulative AND-chain aggregates to a single row of
    // 12 counters; stack() unpivots the row to 6 stage rows. Nothing
    // corpus-sized survives the aggregate at any scale. Diversity is
    // an integer compare (10·distinct ≥ 3·total) — no float edge.
    QueryDef("curation_funnel",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        // flags + cumulative aggregate shared with the streaming form
        // (streaming/CurationStream) — batch/stream parity holds by
        // construction; the first-per-md5 window is the batch stage-5
        val dupWin = Window.partitionBy(col("k")).orderBy(col("doc_id"))
        val flags = d.select(col("doc_id") +:
            graft.streaming.CurationStream.flagCols(col("text")): _*)
          .withColumn("b5", row_number().over(dupWin) === 1)
        val one = graft.streaming.CurationStream.funnelAgg(flags)
        val withF = one.select(col("*") +:
          (0 to 5).map(i => round((col(s"t$i").cast("double") /
            col("t0").cast("double")).cast(dec), 6).cast("double").as(s"f$i")): _*)
        val names = Seq("all", "lang_known", "length_ok", "quality_ok",
          "diverse", "exact_unique")
        val stackArgs = (0 to 5).map(i =>
          s"CAST($i AS BIGINT), '${names(i)}', n$i, t$i, f$i").mkString(", ")
        withF.selectExpr(s"stack(6, $stackArgs) AS " +
            "(stage_id, stage, n_docs, n_tokens, token_frac)")
          .orderBy(col("stage_id"))
      },
      Some {
        val stageNames = Seq("all", "lang_known", "length_ok", "quality_ok",
          "diverse", "exact_unique")
        val stageRows = (0 to 5).map(i =>
          s"SELECT CAST($i AS BIGINT) AS stage_id, '${stageNames(i)}' AS stage, " +
          s"n$i AS n_docs, t$i AS n_tokens, " +
          s"CAST(round(CAST(t$i::DOUBLE / t0::DOUBLE AS DECIMAL(18,8)), 6) " +
          s"AS DOUBLE) AS token_frac FROM a").mkString("\n|UNION ALL ")
        val sums = (1 to 5).map { i =>
          val cond = (1 to i).map(j => s"b$j").mkString(" AND ")
          s"CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n$i,\n" +
          s"|  CAST(sum(CASE WHEN $cond THEN nw ELSE 0 END) AS BIGINT) AS t$i"
        }.mkString(",\n|  ")
        s"""WITH q AS (
        |  SELECT doc_id, text,
        |    len(string_split(text, ' '))::BIGINT AS nwl,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(0)}))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(1)}))) AS h_es,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(2)}))) AS h_de,
        |    len(list_distinct(string_split(lower(text), ' ')))::BIGINT AS ndw,
        |    len(string_split(lower(text), ' '))::BIGINT AS nlw
        |  FROM documents),
        |f AS (
        |  SELECT nwl AS nw,
        |    (h_en + h_es + h_de) > 0 AS b1,
        |    nwl >= 20 AND nwl <= 100000 AS b2,
        |    round(
        |      (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |      + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |      + least(sw / nw * 5.0, 1.0) * 0.3, 6) >= 0.5 AS b3,
        |    ndw * 10 >= nlw * 3 AS b4,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS b5
        |  FROM q),
        |a AS (
        |  SELECT count(*) AS n0, CAST(sum(nw) AS BIGINT) AS t0,
        |  $sums
        |  FROM f)
        |$stageRows
        |ORDER BY stage_id""".stripMargin
      }),

    // End-to-end training-mix manifest — the README curation story as
    // ONE oracle-gated artifact (VERDICT r8 #7): the curation
    // funnel's full gate (lang → length → quality → diversity →
    // exact-unique) selects survivors; ExactSubstr span dedup prunes
    // their cross-doc duplicated token mass; temperature (α)
    // reweighting runs over the SURVIVING token mass; the
    // token-balanced curriculum cut shards by surface difficulty —
    // emitted as the per-(shard, source) manifest a training
    // scheduler consumes: docs, kept tokens, α-weighted tokens.
    // Every stage IS the registered operator (CurationStream.flagCols
    // / Text.duplicatedSpansToCut / Text.temperatureReweightCounts /
    // Text.curriculumShardAssign), so the composition cannot drift
    // from the individually-gated pieces; the oracle replays the
    // whole chain from scratch. Scale shape: each stage is one scan
    // or a bounded-frame aggregate; the only corpus-sized shuffles
    // are the funnel's md5 window, the span gram aggregate, and the
    // difficulty-bucket window — all keyed, no global sorts.
    QueryDef("training_mix_manifest",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val dupWin = Window.partitionBy(col("k")).orderBy(col("doc_id"))
        val flags = d.select(col("doc_id") +:
            graft.streaming.CurationStream.flagCols(col("text")): _*)
          .withColumn("b5", row_number().over(dupWin) === 1)
        val keptIds = flags.where(col("b1") && col("b2") && col("b3") &&
          col("b4") && col("b5")).select(col("doc_id"))
        val kept = d.join(keptIds, Seq("doc_id"), "left_semi")
        val spans = graft.ops.Text.duplicatedSpansToCut(kept, "doc_id",
          "text", MixSpanK)
        val cuts = spans.groupBy(col("doc_id"))
          .agg(sum(col("span_end") - col("span_start") + 1).as("__cut"))
        // localCheckpoint: consumed by the mixture aggregate, the
        // shard-assign window + bucket totals, and the final rollup
        val pruned = kept.select(col("doc_id"), col("source"),
            col("n_chars").cast("long").as("__nc"),
            wordCount(col("text")).cast("long").as("__nw0"))
          .join(cuts, Seq("doc_id"), "left")
          .withColumn("tok_kept",
            col("__nw0") - coalesce(col("__cut"), lit(0L)))
          .withColumn("__diff", expr("(__nc * 100) div __nw0"))
          .stageCheckpoint(true)
        val mix = graft.ops.Text.temperatureReweightCounts(
            pruned.groupBy(col("source"))
              .agg(count(lit(1)).as("n_docs"),
                sum(col("tok_kept")).as("n_tokens")),
            MixAlpha)
          .select(col("source"), col("weight"))
        val assigned = graft.ops.Text.curriculumShardAssign(pruned,
          "doc_id", "tok_kept", "__diff", CurriculumK)
        assigned.join(broadcast(mix), "source")
          .groupBy(col("shard"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok_kept")).as("tokens_kept"),
            round((sum(col("tok_kept")).cast("double") *
              first(col("weight"))).cast(dec), 6)
              .cast("double").as("weighted_tokens"))
          .orderBy(col("shard"), col("source"))
      },
      Some(s"""WITH q AS (
        |  SELECT doc_id, source, n_chars, text,
        |    len(string_split(text, ' '))::BIGINT AS nwl,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(text)::DOUBLE AS len,
        |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(0)}))) AS h_en,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(1)}))) AS h_es,
        |    len(list_filter(string_split(lower(text), ' '), w -> w IN (${swLang(2)}))) AS h_de,
        |    len(list_distinct(string_split(lower(text), ' ')))::BIGINT AS ndw,
        |    len(string_split(lower(text), ' '))::BIGINT AS nlw
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, source, n_chars, text, nwl,
        |    (h_en + h_es + h_de) > 0 AS b1,
        |    nwl >= 20 AND nwl <= 100000 AS b2,
        |    round(
        |      (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
        |      + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
        |      + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        |      + least(sw / nw * 5.0, 1.0) * 0.3, 6) >= 0.5 AS b3,
        |    ndw * 10 >= nlw * 3 AS b4,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS b5
        |  FROM q),
        |kept AS (
        |  SELECT doc_id, source, n_chars, text, nwl AS nw0 FROM f
        |  WHERE b1 AND b2 AND b3 AND b4 AND b5),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM kept),
        |g AS (
        |  SELECT doc_id, i,
        |    ('0x' || substring(md5(array_to_string(w[i:i+${MixSpanK - 1}], ' ')), 1, 15))::BIGINT AS h
        |  FROM w, LATERAL unnest(range(1, len(w) - ${MixSpanK - 2})) AS t(i)
        |  WHERE len(w) >= $MixSpanK),
        |dup AS (
        |  SELECT h, min(doc_id) AS mn FROM g GROUP BY h
        |  HAVING min(doc_id) <> max(doc_id)),
        |hits AS (
        |  SELECT g.doc_id, g.i FROM g JOIN dup USING (h)
        |  WHERE g.doc_id > dup.mn),
        |pe AS (
        |  SELECT doc_id, i,
        |    max(i + ${MixSpanK - 1}) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN prev_end IS NULL OR i > prev_end + 1
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i) AS island
        |  FROM pe),
        |spansc AS (
        |  SELECT doc_id, island, min(i) AS s, max(i) + ${MixSpanK - 1} AS e
        |  FROM isl GROUP BY 1, 2),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS cut
        |  FROM spansc GROUP BY 1),
        |pruned AS (
        |  SELECT k.doc_id, k.source,
        |    k.nw0 - COALESCE(p.cut, 0) AS tok_kept,
        |    (k.n_chars * 100) // k.nw0 AS diff
        |  FROM kept k LEFT JOIN perdoc p USING (doc_id)),
        |per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(tok_kept) AS BIGINT) AS n_tokens
        |  FROM pruned GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
        |pa AS (
        |  SELECT source,
        |    CAST(round(CAST(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS actual_frac,
        |    CAST(round(CAST(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE),
        |      $MixAlpha) AS DECIMAL(18,8)), 6) AS DOUBLE) AS pa6
        |  FROM per CROSS JOIN tot),
        |z AS (SELECT CAST(sum(pa6::DECIMAL(18,8)) AS DECIMAL(18,8)) AS z
        |  FROM pa),
        |mix AS (
        |  SELECT source,
        |    CAST(round(CAST((pa6 / CAST(z AS DOUBLE)) / actual_frac
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight
        |  FROM pa CROSS JOIN z),
        |p2 AS (
        |  SELECT doc_id, source, tok_kept,
        |    sum(tok_kept) OVER (ORDER BY diff, doc_id
        |      ROWS UNBOUNDED PRECEDING) - tok_kept AS cumb
        |  FROM pruned),
        |tot2 AS (SELECT CAST(sum(tok_kept) AS BIGINT) AS total FROM pruned)
        |SELECT CAST((cumb * $CurriculumK) // total AS BIGINT) AS shard,
        |  p2.source AS source, count(*) AS n_docs,
        |  CAST(sum(tok_kept) AS BIGINT) AS tokens_kept,
        |  CAST(round(CAST(CAST(sum(tok_kept) AS DOUBLE) * max(m.weight)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS weighted_tokens
        |FROM p2 CROSS JOIN tot2 JOIN mix m ON m.source = p2.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): select the 100
    // docs whose hashed-unigram profile is most English-like, by
    // Gumbel-top-k over bucketed log-likelihood-ratio weights
    // (target = lang='en' slice, proposal = full corpus, B=1024
    // buckets, add-1 smoothing, seed 7). Spark: ONE bounded (≤B-row)
    // counting aggregate, then one codegen'd scan scoring every doc
    // via the broadcast ratio table (expressions.BucketScore) — no
    // explode/join/shuffle in the scoring pass — and a TakeOrdered
    // top-k. The oracle recomputes the whole pipeline relationally
    // (explode → count → join → sum), pinning table, weights, Gumbel
    // perturbation and selection.
    QueryDef("dsir_select_english",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.Dsir.select(d, "doc_id", "text",
            col("lang") === "en", buckets = 1024, alpha = 1.0,
            k = 100, gumbelSeed = Some(7L))
          .select("doc_id", "lang", "source", "dsir_weight", "sel_key")
      },
      Some("""WITH tok AS (
        |  SELECT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t WHERE w <> ''),
        |b AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(w), 1, 15))::BIGINT % 1024 AS bkt,
        |    lang
        |  FROM tok),
        |agg AS (
        |  SELECT bkt, count(*) AS cp,
        |    count(*) FILTER (WHERE lang = 'en') AS ct
        |  FROM b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(cp) AS BIGINT) AS tp,
        |    CAST(sum(ct) AS BIGINT) AS tt FROM agg),
        |ratio AS (
        |  SELECT bkt,
        |    ln((ct + 1.0) / (tt + 1024.0)) - ln((cp + 1.0) / (tp + 1024.0)) AS r
        |  FROM agg CROSS JOIN tot),
        |w AS (
        |  SELECT b.doc_id, sum(r) AS lw
        |  FROM b JOIN ratio USING (bkt) GROUP BY 1),
        |g AS (
        |  SELECT d.doc_id, d.lang, d.source, coalesce(w.lw, 0.0) AS lw,
        |    (('0x' || substring(md5('7:' || d.doc_id), 1, 15))::BIGINT
        |       % 4503599627370496 + 0.5) / 4503599627370496.0 AS u
        |  FROM documents d LEFT JOIN w USING (doc_id))
        |SELECT doc_id, lang, source,
        |  round(lw, 6) AS dsir_weight,
        |  round(lw - ln(-ln(u)), 6) AS sel_key
        |FROM g
        |ORDER BY sel_key DESC, doc_id
        |LIMIT 100""".stripMargin)),

    // Hashed-vocabulary multinomial Naive Bayes (the fastText/CCNet-
    // style corpus labeler): train language ID on the 80% hash-split
    // (doc_id % 5 <> 0), predict the held-out 20%, report the
    // actual × predicted confusion matrix. Spark: training is ONE
    // bounded (≤ classes×buckets-row) aggregate — the hashed
    // vocabulary IS the model, no iterative fit — and prediction is
    // ONE codegen'd scan (per-class BucketScore tables + struct-max
    // argmax; ties on the rounded score break toward the greater
    // class name, mirrored by ORDER BY sc DESC, cls DESC). The
    // oracle re-derives train, likelihoods, posteriors and argmax
    // relationally.
    QueryDef("nb_lang_confusion",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val train = d.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val test = d.where(pmod(col("doc_id"), lit(5)) === 0)
        val model = graft.ops.NaiveBayes.train(train, "text", "lang",
          buckets = 1024, alpha = 1.0)
        graft.ops.NaiveBayes.predict(model, test, "text")
          .groupBy(col("lang").as("actual_lang"),
            col("predicted").as("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("actual_lang", "predicted_lang")
      },
      Some("""WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        |tok_tr AS (
        |  SELECT lang AS cls,
        |    ('0x' || substring(md5(w), 1, 15))::BIGINT % 1024 AS bkt
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
        |        FROM train) t
        |  WHERE w <> ''),
        |cnt AS (SELECT cls, bkt, count(*) AS c FROM tok_tr GROUP BY 1, 2),
        |tc AS (SELECT cls, CAST(count(*) AS BIGINT) AS n FROM tok_tr GROUP BY 1),
        |prior AS (SELECT lang AS cls, count(*) AS nd FROM train GROUP BY 1),
        |ptot AS (SELECT count(*) AS n FROM train),
        |classes AS (SELECT DISTINCT lang AS cls FROM train),
        |tok_te AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(w), 1, 15))::BIGINT % 1024 AS bkt
        |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |        FROM test) t
        |  WHERE w <> ''),
        |contrib AS (
        |  SELECT t.doc_id, c.cls,
        |    ln((coalesce(cnt.c, 0) + 1.0) / (coalesce(tc.n, 0) + 1024.0)) AS r
        |  FROM tok_te t CROSS JOIN classes c
        |  LEFT JOIN tc ON tc.cls = c.cls
        |  LEFT JOIN cnt ON cnt.cls = c.cls AND cnt.bkt = t.bkt),
        |score AS (SELECT doc_id, cls, sum(r) AS sr FROM contrib GROUP BY 1, 2),
        |posterior AS (
        |  SELECT d.doc_id, d.lang, c.cls,
        |    round(coalesce(s.sr, 0.0) + ln(CAST(p.nd AS DOUBLE) / pt.n), 6) AS sc
        |  FROM test d CROSS JOIN classes c
        |  LEFT JOIN score s ON s.doc_id = d.doc_id AND s.cls = c.cls
        |  JOIN prior p ON p.cls = c.cls CROSS JOIN ptot pt),
        |pred AS (
        |  SELECT doc_id, lang, cls,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY sc DESC, cls DESC) AS rn
        |  FROM posterior)
        |SELECT lang AS actual_lang, cls AS predicted_lang, count(*) AS n_docs
        |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // GRPO group-relative advantage (Shao et al. 2024 §4.1): reward =
    // the 6-decimal quality score, groups = sources; A = (r − μ_g) /
    // (σ_g + 1e-4). Moments are DECIMAL sums of the rounded reward —
    // exact and order-independent, so μ/σ are bit-identical across
    // engines — aggregated to ≤|sources| rows and broadcast-joined
    // back: the corpus itself never shuffles.
    QueryDef("reward_group_advantage",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val q = d.select(col("doc_id"), col("source"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        graft.ops.Reward.groupNormalizedAdvantage(q, "source", "reward")
          .select("doc_id", "source", "reward", "advantage")
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS ($QualityBySourceSql),
        |m AS (SELECT source, count(*) AS n,
        |    sum(CAST(reward AS DECIMAL(18,6))) AS s1,
        |    sum(CAST(reward AS DECIMAL(18,6))
        |      * CAST(reward AS DECIMAL(18,6))) AS s2
        |  FROM q GROUP BY 1),
        |mm AS (SELECT source, CAST(s1 AS DOUBLE)/n AS mu,
        |    sqrt(greatest(CAST(s2 AS DOUBLE)/n
        |      - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n), 0.0)) AS sigma
        |  FROM m)
        |SELECT doc_id, q.source AS source, reward,
        |  round((reward - mu)/(sigma + 0.0001), 6) AS advantage
        |FROM q JOIN mm ON q.source = mm.source
        |ORDER BY doc_id""".stripMargin)),

    // Bradley–Terry source ranking from pairwise quality preferences
    // (Bradley & Terry 1952; MM fit per Hunter 2004, 10 fixed
    // iterations). The full pairwise win matrix — every doc of source
    // a vs every doc of source b, ties ½ — is computed WITHOUT the
    // O(n²) pair stream, via per-(source, value) counts + per-source
    // prefix sums over the shared value grid (the Mann–Whitney U
    // identity); wins are integer-and-half valued, so the matrix is
    // exact in both engines, and the G×G MM solve runs on the driver
    // (bounded state, the BPE-merge precedent). The oracle unrolls
    // the same 10 MM iterations as chained CTEs.
    QueryDef("source_bt_ranking",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val q = d.select(col("source"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        val winRows = graft.ops.Reward.pairwiseWins(q, "source", "reward")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          .toSeq // ≤ G² rows
        val winTot = winRows.groupBy(_._1)
          .map { case (a, rs) => a -> rs.map(_._3).sum }
        val bt = graft.ops.Reward.btStrengths(winRows, iters = 10)
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val ranked = bt.map { case (src, p) => (src, r6(p)) }
          .sortBy { case (src, p) => (-p, src) }
          .zipWithIndex
          .map { case ((src, p), i) =>
            (src, winTot(src), p, (i + 1).toLong) }
        s.createDataFrame(ranked)
          .toDF("source", "wins", "bt_strength", "bt_rank")
          .orderBy("bt_rank", "source")
      },
      Some {
        val mmIters = (1 to 10).map { k =>
          val prev = if (k == 1) "it0" else s"it${k - 1}"
          s"""it${k}r AS MATERIALIZED (
             |  SELECT n.i, wt.w / sum(n.nij / (c1.p + c2.p)) AS praw
             |  FROM n JOIN $prev c1 ON c1.i = n.i JOIN $prev c2 ON c2.i = n.j
             |  JOIN wt ON wt.a = n.i GROUP BY n.i, wt.w),
             |it$k AS MATERIALIZED (
             |  SELECT i, praw / (SELECT sum(praw) FROM it${k}r) AS p
             |  FROM it${k}r)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS ($QualityBySourceSql),
        |cnts AS MATERIALIZED (SELECT source, reward AS r, count(*) AS c FROM q GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT r FROM cnts),
        |grps AS (SELECT DISTINCT source FROM cnts),
        |grid AS (SELECT v.r, g.source, coalesce(c.c, 0) AS c
        |  FROM vals v CROSS JOIN grps g
        |  LEFT JOIN cnts c ON c.r = v.r AND c.source = g.source),
        |pre AS (SELECT r, source, c,
        |    coalesce(sum(c) OVER (PARTITION BY source ORDER BY r
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM grid),
        |wm AS MATERIALIZED (SELECT a.source AS a, b.source AS b,
        |    sum(a.c * (b.below + 0.5 * b.c)) AS wins
        |  FROM cnts a JOIN pre b ON a.r = b.r AND a.source <> b.source
        |  GROUP BY 1, 2),
        |wt AS MATERIALIZED (SELECT a, sum(wins) AS w FROM wm GROUP BY 1),
        |n AS MATERIALIZED (SELECT w1.a AS i, w1.b AS j, w1.wins + w2.wins AS nij
        |  FROM wm w1 JOIN wm w2 ON w1.a = w2.b AND w1.b = w2.a),
        |it0 AS MATERIALIZED (SELECT a AS i, 1.0 / (SELECT count(*) FROM grps) AS p FROM wt),
        |$mmIters
        |SELECT wt.a AS source, CAST(wt.w AS DOUBLE) AS wins,
        |  round(it10.p, 6) AS bt_strength,
        |  row_number() OVER (ORDER BY round(it10.p, 6) DESC, wt.a) AS bt_rank
        |FROM wt JOIN it10 ON it10.i = wt.a
        |ORDER BY bt_rank, source""".stripMargin
      }),

    // Best-of-n rejection sampling report (the RLHF/RFT selection
    // step: keep the top-n completions per group by reward and
    // measure the selection uplift). Groups = sources, reward = the
    // 6-decimal quality score, deterministic tie-break on doc_id.
    // Plan: one wide exchange — the row_number window hash-partitions
    // on source and the groupBy reuses that partitioning (the only
    // other exchange is the ≤|sources|-row output sort); means are
    // DECIMAL sums so they are bit-identical across engines.
    QueryDef("reward_best_of_n",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val q = d.select(col("doc_id"), col("source"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("reward").desc, col("doc_id"))
        val dec = col("reward").cast(DecimalType(18, 6))
        val keep = col("rn") <= BestOfN
        q.withColumn("rn", row_number().over(w))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            round((sum(dec) / count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean_reward"),
            round((sum(when(keep, dec)) / sum(when(keep, 1L).otherwise(0L)))
              .cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean_best"))
          .withColumn("uplift",
            round(col("mean_best") - col("mean_reward"), 6))
          .orderBy(col("source"))
      },
      Some(s"""WITH q AS ($QualityBySourceSql),
        |r AS (SELECT source, reward, row_number() OVER (
        |    PARTITION BY source ORDER BY reward DESC, doc_id) AS rn
        |  FROM q),
        |agg AS (SELECT source, count(*) AS n_docs,
        |  CAST(round(CAST(sum(CAST(reward AS DECIMAL(18,6))) / count(*)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_reward,
        |  CAST(round(CAST(
        |      sum(CASE WHEN rn <= $BestOfN
        |          THEN CAST(reward AS DECIMAL(18,6)) END)
        |      / sum(CASE WHEN rn <= $BestOfN THEN 1 ELSE 0 END)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_best
        |  FROM r GROUP BY source)
        |SELECT source, n_docs, mean_reward, mean_best,
        |  round(mean_best - mean_reward, 6) AS uplift
        |FROM agg ORDER BY source""".stripMargin)),

    // DPO preference-pair construction (Rafailov et al. 2023: the
    // training rows are (prompt, chosen, rejected) with chosen
    // preferred): per group, pair the rank-i best with the rank-i
    // worst completion by reward, keep pairs whose reward gap clears
    // the margin — the standard "max-margin pairing" that yields the
    // most-separated pairs first. Determinism: rewards are 6-decimal
    // doubles identical across engines, so the double subtraction in
    // the margin test is bit-identical (IEEE ops are deterministic
    // given equal inputs); ties break on doc_id. Plan: both
    // row_number windows hash-partition on source and the rank
    // self-join stays in that partitioning — one exchange per side,
    // pair stream capped at $DpoPairsPerSource per group.
    QueryDef("dpo_pairs",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.load(s, dir, "documents")
        val q = d.select(col("doc_id"), col("source"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        val wTop = Window.partitionBy(col("source"))
          .orderBy(col("reward").desc, col("doc_id"))
        val wBot = Window.partitionBy(col("source"))
          .orderBy(col("reward").asc, col("doc_id"))
        // long, matching the oracle's BIGINT row_number
        val top = q.withColumn("pair_rank",
            row_number().over(wTop).cast("long"))
          .where(col("pair_rank") <= DpoPairsPerSource)
          .select(col("source"), col("pair_rank"),
            col("doc_id").as("chosen_id"), col("reward").as("chosen_reward"))
        val bot = q.withColumn("pair_rank",
            row_number().over(wBot).cast("long"))
          .where(col("pair_rank") <= DpoPairsPerSource)
          .select(col("source"), col("pair_rank"),
            col("doc_id").as("rejected_id"), col("reward").as("rejected_reward"))
        top.join(bot, Seq("source", "pair_rank"))
          .where(col("chosen_id") =!= col("rejected_id") &&
            col("chosen_reward") - col("rejected_reward") >= DpoMargin)
          .withColumn("reward_margin",
            round(col("chosen_reward") - col("rejected_reward"), 6))
          .select("source", "pair_rank", "chosen_id", "chosen_reward",
            "rejected_id", "rejected_reward", "reward_margin")
          .orderBy("source", "pair_rank")
      },
      Some(s"""WITH q AS ($QualityBySourceSql),
        |top AS (SELECT source, doc_id AS chosen_id, reward AS chosen_reward,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY reward DESC, doc_id) AS pair_rank
        |  FROM q QUALIFY pair_rank <= $DpoPairsPerSource),
        |bot AS (SELECT source, doc_id AS rejected_id, reward AS rejected_reward,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY reward ASC, doc_id) AS pair_rank
        |  FROM q QUALIFY pair_rank <= $DpoPairsPerSource)
        |SELECT source, pair_rank, chosen_id, chosen_reward,
        |  rejected_id, rejected_reward,
        |  round(chosen_reward - rejected_reward, 6) AS reward_margin
        |FROM top JOIN bot USING (source, pair_rank)
        |WHERE chosen_id <> rejected_id
        |  AND chosen_reward - rejected_reward >= $DpoMargin
        |ORDER BY source, pair_rank""".stripMargin)),

    // One DoReMi-style multiplicative-weights step on the domain
    // mixture (Xie et al. 2023, simplified to a single exponentiated-
    // gradient update with the corpus's own unigram LM standing in
    // for the proxy-model loss): domains whose mean token NLL exceeds
    // the corpus mean get up-weighted by exp(η·excess) over their
    // token-share base weight, then renormalized. Shape at 100 TB:
    // two column-pruned corpus scans (vocab counts, scoring) with the
    // top-K model BROADCAST back, a ≤|sources|-row rollup, and all
    // reweight math on that tiny aggregate. Determinism: NLL and the
    // per-source means are 6-decimal DECIMAL sums; exp() runs on
    // identical 6-decimal inputs; the re-normalization sums 6-decimal
    // DECIMALs so it is addition-order-independent.
    QueryDef("mix_doremi_step",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val words = d.select(col("source"),
          explode(split(col("text"), " ")).as("t"))
        val vocab = words.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        val topv = vocab.orderBy(col("cnt").desc, col("t")).limit(VocabK)
        val total = d.agg(
          sum(size(split(col("text"), " "))).as("tot"))
        val scored = words
          .join(broadcast(topv), Seq("t"), "left")
          .crossJoin(broadcast(total))
          .withColumn("nlp", round(
            coalesce(-log(col("cnt").cast("double") / col("tot")),
              lit(OovNll)), 6))
        // ≤|sources| rows consumed by three downstream branches
        // (global mean, step, normalizer) — localCheckpoint so the
        // corpus scan + rollup runs ONCE, not once per consumer (the
        // events_anomaly_mad lesson; checkpoint blocks are
        // executor-local and aggregate-sized)
        val perSrc = scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("nlp").cast(DecimalType(18, 8))).as("s"))
          .withColumn("mean_nll",
            round((col("s") / col("n_tokens")).cast(DecimalType(18, 8)), 6)
              .cast("double"))
          .stageCheckpoint(true)
        val glob = perSrc.agg(
          round((sum(col("s")) / sum(col("n_tokens")))
            .cast(DecimalType(18, 8)), 6).cast("double").as("g_nll"),
          sum(col("n_tokens")).as("g_tok"))
        val stepped = perSrc.crossJoin(broadcast(glob))
          .withColumn("excess", round(col("mean_nll") - col("g_nll"), 6))
          .withColumn("raw", round(
            (col("n_tokens").cast("double") / col("g_tok"))
              * exp(lit(DoremiEta) * col("excess")), 6)
            .cast(DecimalType(18, 6)))
        val z = stepped.agg(sum(col("raw")).as("z"))
        stepped.crossJoin(broadcast(z))
          .select(col("source"), col("n_tokens"), col("mean_nll"),
            col("excess"),
            round((col("raw") / col("z")).cast(DecimalType(18, 8)), 6)
              .cast("double").as("weight"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS cnt FROM w GROUP BY t),
        |topv AS (SELECT t, cnt FROM v ORDER BY cnt DESC, t LIMIT $VocabK),
        |tot AS (SELECT sum(len(string_split(text, ' ')))::BIGINT AS tot
        |        FROM documents),
        |sc AS (SELECT source,
        |    round(coalesce(-ln(cnt::DOUBLE / tot), $OovNll), 6) AS nlp
        |  FROM w LEFT JOIN topv USING (t), tot),
        |per AS (SELECT source, count(*) AS n_tokens,
        |    sum(CAST(nlp AS DECIMAL(18,8))) AS s
        |  FROM sc GROUP BY source),
        |per2 AS (SELECT source, n_tokens, s,
        |    CAST(round(CAST(s / n_tokens AS DECIMAL(18,8)), 6) AS DOUBLE)
        |      AS mean_nll FROM per),
        |g AS (SELECT CAST(round(CAST(sum(s) / sum(n_tokens)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS g_nll,
        |    sum(n_tokens) AS g_tok FROM per),
        |st AS (SELECT source, n_tokens, mean_nll,
        |    round(mean_nll - g_nll, 6) AS excess,
        |    CAST(round((n_tokens::DOUBLE / g_tok)
        |      * exp($DoremiEta * round(mean_nll - g_nll, 6)), 6)
        |      AS DECIMAL(18,6)) AS raw
        |  FROM per2, g),
        |z AS (SELECT sum(raw) AS z FROM st)
        |SELECT source, n_tokens, mean_nll, excess,
        |  CAST(round(CAST(raw / z AS DECIMAL(18,8)), 6) AS DOUBLE) AS weight
        |FROM st, z ORDER BY source""".stripMargin)),

    // Leave-one-source-out NLL: for each domain, the corpus mean
    // token NLL (same top-K unigram LM as mix_doremi_step) WITHOUT
    // that domain, and the delta vs the full-corpus mean — the
    // cheapest "which source drags the mix" attribution. No per-source
    // re-scan: LOSO is algebraic over the per-source DECIMAL sums —
    // loso_i = (S − s_i)/(N − n_i) — so the whole report is the ONE
    // scoring pass plus arithmetic on the ≤|sources|-row aggregate
    // (contrast with literal ablation, which re-runs the corpus per
    // source: |sources|× the work for identical numbers).
    QueryDef("mix_loso_nll",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val words = d.select(col("source"),
          explode(split(col("text"), " ")).as("t"))
        val vocab = words.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        val topv = vocab.orderBy(col("cnt").desc, col("t")).limit(VocabK)
        val total = d.agg(
          sum(size(split(col("text"), " "))).as("tot"))
        val scored = words
          .join(broadcast(topv), Seq("t"), "left")
          .crossJoin(broadcast(total))
          .withColumn("nlp", round(
            coalesce(-log(col("cnt").cast("double") / col("tot")),
              lit(OovNll)), 6))
        val perSrc = scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("nlp").cast(DecimalType(18, 8))).as("s"))
          .stageCheckpoint(true)
        val glob = perSrc.agg(sum(col("s")).as("gs"),
          sum(col("n_tokens")).as("gn"))
        // quotients in DOUBLE from exact-decimal terms: engine decimal-
        // division scale rules differ (measured: a 6th-decimal LOSO
        // divergence at sf0.001); decimal→double then IEEE divide is
        // bit-identical everywhere
        perSrc.crossJoin(broadcast(glob))
          .select(col("source"), col("n_tokens"),
            round((col("gs") - col("s")).cast("double")
              / (col("gn") - col("n_tokens")).cast("double"), 6)
              .as("loso_nll"),
            round(col("gs").cast("double") / col("gn").cast("double"), 6)
              .as("corpus_nll"))
          .withColumn("delta", round(col("loso_nll") - col("corpus_nll"), 6))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS cnt FROM w GROUP BY t),
        |topv AS (SELECT t, cnt FROM v ORDER BY cnt DESC, t LIMIT $VocabK),
        |tot AS (SELECT sum(len(string_split(text, ' ')))::BIGINT AS tot
        |        FROM documents),
        |sc AS (SELECT source,
        |    round(coalesce(-ln(cnt::DOUBLE / tot), $OovNll), 6) AS nlp
        |  FROM w LEFT JOIN topv USING (t), tot),
        |per AS (SELECT source, count(*) AS n_tokens,
        |    sum(CAST(nlp AS DECIMAL(18,8))) AS s
        |  FROM sc GROUP BY source),
        |g AS (SELECT sum(s) AS gs, sum(n_tokens) AS gn FROM per),
        |r AS (SELECT source, n_tokens,
        |    round(CAST(gs - s AS DOUBLE) / CAST(gn - n_tokens AS DOUBLE), 6)
        |      AS loso_nll,
        |    round(CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE), 6) AS corpus_nll
        |  FROM per, g)
        |SELECT source, n_tokens, loso_nll, corpus_nll,
        |  round(loso_nll - corpus_nll, 6) AS delta
        |FROM r ORDER BY source""".stripMargin)),

    // Exact ROC-AUC of the unigram-LM perplexity filter against the
    // quality heuristic's high band (reward ≥ 0.5) — the threshold-
    // free eval of a corpus filter BEFORE picking its cutoff. AUC is
    // a rank statistic: P(nll_pos < nll_neg) + ½·P(=) — so, like
    // pairwiseWins and the Mann–Whitney trick, it needs NO pair
    // stream and NO global sort of the corpus: per-(score value)
    // pos/neg counts + one prefix sum over the value grid (bounded by
    // the 6-decimal score granularity) give U exactly; wins are
    // integer-and-half valued so AUC hashes bit-identically. The
    // corpus-side cost is the one LM scoring pass.
    QueryDef("quality_auc_nll",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val d = Tables.load(s, dir, "documents")
        val words = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("t"))
        val vocab = words.groupBy(col("t")).agg(count(lit(1)).as("cnt"))
        val topv = vocab.orderBy(col("cnt").desc, col("t")).limit(VocabK)
        val total = d.agg(sum(size(split(col("text"), " "))).as("tot"))
        val nll = words
          .join(broadcast(topv), Seq("t"), "left")
          .crossJoin(broadcast(total))
          .withColumn("nlp", round(
            coalesce(-log(col("cnt").cast("double") / col("tot")),
              lit(OovNll)), 6))
          .groupBy(col("doc_id"))
          .agg(round((sum(col("nlp").cast(DecimalType(18, 8)))
            / count(lit(1))).cast(DecimalType(18, 8)), 6)
            .cast("double").as("score"))
        val lab = d.select(col("doc_id"),
          (round(Text.qualityScore(col("text")), 6) >= 0.5).as("pos"))
        // consumed by BOTH the prefix-sum window and the totals agg —
        // checkpoint so the corpus scoring pass runs once; the frame
        // is ≤2·10⁷ rows (6-decimal scores in [0, OovNll])
        val counts = nll.join(lab, "doc_id")
          .groupBy(col("score"))
          .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
            sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
          .stageCheckpoint(true)
        // 2U keeps the tie term integral: U2 = Σ np·(2·above_nn + nn),
        // AUC = U2 / (2·tp·tn) — everything exact until one division
        val w = Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val u = counts
          .withColumn("below_nn", coalesce(sum(col("nn")).over(w), lit(0L)))
          .crossJoin(broadcast(counts.agg(sum(col("np")).as("tp"),
            sum(col("nn")).as("tn"))))
          .select((col("np").cast(DecimalType(38, 0))
            * (lit(2L) * (col("tn") - col("below_nn") - col("nn"))
              + col("nn"))).as("u2"),
            col("tp"), col("tn"))
        u.groupBy(col("tp"), col("tn"))
          .agg(sum(col("u2")).as("su"))
          .select(col("tp").as("n_pos"), col("tn").as("n_neg"),
            round(col("su").cast("double")
              / (lit(2.0) * col("tp").cast("double")
                * col("tn").cast("double")), 6).as("auc"))
      },
      Some(s"""WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |v AS (SELECT t, count(*) AS cnt FROM w GROUP BY t),
        |topv AS (SELECT t, cnt FROM v ORDER BY cnt DESC, t LIMIT $VocabK),
        |tot AS (SELECT sum(len(string_split(text, ' ')))::BIGINT AS tot
        |        FROM documents),
        |sc AS (SELECT doc_id,
        |    round(coalesce(-ln(cnt::DOUBLE / tot), $OovNll), 6) AS nlp
        |  FROM w LEFT JOIN topv USING (t), tot),
        |nll AS (SELECT doc_id,
        |    CAST(round(CAST(sum(nlp::DECIMAL(18,8)) / count(*)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS score
        |  FROM sc GROUP BY doc_id),
        |lab AS (SELECT doc_id, reward >= 0.5 AS pos
        |  FROM ($QualityBySourceSql) q),
        |counts AS (SELECT score,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
        |  FROM nll JOIN lab USING (doc_id) GROUP BY score),
        |pre AS (SELECT score, np, nn,
        |    coalesce(SUM(nn) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below_nn
        |  FROM counts),
        |t AS (SELECT (SELECT sum(np) FROM counts) AS tp,
        |    (SELECT sum(nn) FROM counts) AS tn),
        |u AS (SELECT SUM(CAST(np AS DECIMAL(38,0))
        |    * (2 * (t.tn - below_nn - nn) + nn)) AS su, t.tp, t.tn
        |  FROM pre, t GROUP BY t.tp, t.tn)
        |SELECT tp::BIGINT AS n_pos, tn::BIGINT AS n_neg,
        |  round(CAST(su AS DOUBLE) / (2.0 * tp::DOUBLE * tn::DOUBLE), 6) AS auc
        |FROM u""".stripMargin)),

    // Good–Turing unseen-mass estimate over word trigrams: the
    // count-of-counts histogram N_r answers "how much probability
    // mass does the corpus NOT cover yet" (p0 = N1/N, Good 1953) and
    // gives the discounted counts r* = (r+1)·N_{r+1}/N_r that
    // smoothed LMs (Katz, SGT) actually use — the vocabulary-coverage
    // planning number next to vocab_heaps_fit's growth slope. Cost:
    // one explode + one |types|-sized hash aggregate (map-side
    // partials) + one 1-row rollup; nothing driver-side, nothing
    // corpus²-shaped, so the plan is identical at 100 TB. Counts stay
    // exact BIGINT end-to-end; ratios are DECIMAL-rounded IEEE
    // doubles; the r*>0 guards return NULL (not Inf) when a count
    // class is empty, identically on both engines.
    QueryDef("vocab_good_turing",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val tris = d.select(split(col("text"), " ").as("__w"))
          .where(size(col("__w")) >= 3)
          .select(explode(expr(
            "transform(slice(__w, 1, size(__w) - 2), " +
              "(x, i) -> concat(x, ' ', __w[i + 1], ' ', __w[i + 2]))"))
            .as("tri"))
        val cc = tris.groupBy(col("tri")).agg(count(lit(1)).as("c"))
        cc.agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"),
            sum(when(col("c") === 3L, 1L).otherwise(0L)).as("n3"))
          .select(col("n_tokens"), col("n_types"), col("n1"), col("n2"),
            col("n3"),
            round((col("n1").cast("double") / col("n_tokens").cast("double"))
              .cast(dec), 6).cast("double").as("p0_unseen"),
            when(col("n1") > 0L,
              round((lit(2.0) * col("n2").cast("double") /
                col("n1").cast("double")).cast(dec), 6).cast("double"))
              .as("rstar_1"),
            when(col("n2") > 0L,
              round((lit(3.0) * col("n3").cast("double") /
                col("n2").cast("double")).cast(dec), 6).cast("double"))
              .as("rstar_2"))
      },
      Some("""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT array_to_string(w[i:i+2], ' ') AS tri
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM ws WHERE len(w) >= 3)),
        |c AS (SELECT tri, count(*) AS c FROM g GROUP BY 1),
        |m AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum((c = 1)::INT) AS BIGINT) AS n1,
        |    CAST(sum((c = 2)::INT) AS BIGINT) AS n2,
        |    CAST(sum((c = 3)::INT) AS BIGINT) AS n3
        |  FROM c)
        |SELECT n_tokens, n_types, n1, n2, n3,
        |  CAST(round(CAST(n1::DOUBLE / n_tokens::DOUBLE AS DECIMAL(18,8)),
        |    6) AS DOUBLE) AS p0_unseen,
        |  CASE WHEN n1 > 0 THEN CAST(round(CAST(2.0 * n2::DOUBLE / n1::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) END AS rstar_1,
        |  CASE WHEN n2 > 0 THEN CAST(round(CAST(3.0 * n3::DOUBLE / n2::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) END AS rstar_2
        |FROM m""".stripMargin)),

    // KMV accuracy curve — the sketch-tuning dial measured, like
    // ann_nprobe_curve for IVF and lsh_band_curve for LSH: distinct
    // trigram count estimated at k ∈ {64, 256, 1024} against the
    // exact count, with the analytic 1/sqrt(k−2) error bar alongside
    // the observed relative error. This is the number a user sizing
    // COUNT(DISTINCT)→KMV (plans/ApproxDistinctRewrite) reads before
    // picking k. Cost: ONE corpus scan — all three sketches and the
    // exact count run in the same aggregate (each sketch is O(k)
    // mergeable state; the exact count is the expensive leg, present
    // only because the curve needs ground truth). The estimator is
    // pure IEEE double (see expressions.KmvDistinct), so DuckDB
    // replays it bit-exactly from the k-th smallest md5 hash.
    QueryDef("sketch_kmv_error_curve",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d = Tables.load(s, dir, "documents")
        val tris = d.select(split(col("text"), " ").as("__w"))
          .where(size(col("__w")) >= 3)
          .select(explode(expr(
            "transform(slice(__w, 1, size(__w) - 2), " +
              "(x, i) -> concat(x, ' ', __w[i + 1], ' ', __w[i + 2]))"))
            .as("tri"))
        val a = tris.agg(
          kmvDistinct(col("tri"), 64).as("k64"),
          kmvDistinct(col("tri"), 256).as("k256"),
          kmvDistinct(col("tri"), 1024).as("k1024"),
          countDistinct(col("tri")).as("exact"))
        a.select(expr(
            "stack(3, 64L, k64, 256L, k256, 1024L, k1024) AS (k, est)"),
            col("exact"))
          .select(col("k"), col("est"), col("exact"),
            round((abs(col("est") - col("exact")).cast("double") /
              col("exact").cast("double")).cast(dec), 6).cast("double")
              .as("rel_err"),
            round((lit(1.0) / sqrt(col("k").cast("double") - 2.0))
              .cast(dec), 6).cast("double").as("theory_err"))
          .orderBy(col("k"))
      },
      Some("""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT DISTINCT array_to_string(w[i:i+2], ' ') AS tri
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM ws WHERE len(w) >= 3)),
        |h AS (SELECT ('0x' || substring(md5(tri), 1, 15))::BIGINT AS h
        |      FROM g),
        |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
        |             count(*) OVER () AS nd
        |      FROM h),
        |ks AS (SELECT unnest([64, 256, 1024]) AS k),
        |kth AS (
        |  SELECT ks.k::BIGINT AS k, max(r.nd) AS nd,
        |    max(CASE WHEN r.rn = ks.k THEN r.h END) AS hk
        |  FROM ks JOIN r ON r.rn <= ks.k
        |  GROUP BY ks.k)
        |SELECT k,
        |  CASE WHEN nd < k THEN nd
        |       ELSE CAST(floor((k - 1)::DOUBLE * 1152921504606846976::DOUBLE
        |                       / hk::DOUBLE) AS BIGINT)
        |  END AS est,
        |  nd AS exact,
        |  CAST(round(CAST(abs(CASE WHEN nd < k THEN nd
        |       ELSE CAST(floor((k - 1)::DOUBLE * 1152921504606846976::DOUBLE
        |                       / hk::DOUBLE) AS BIGINT) END
        |      - nd)::DOUBLE / nd::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS rel_err,
        |  CAST(round(CAST(1.0 / sqrt(k::DOUBLE - 2.0) AS DECIMAL(18,8)), 6)
        |    AS DOUBLE) AS theory_err
        |FROM kth ORDER BY k""".stripMargin)),

    // KMV sketch SET ALGEBRA between sources — the mergeable-sketch
    // answer to "how much does source A overlap source B" that never
    // ships a vocabulary: per-source KMV-64 sketches of the distinct
    // trigram hash space, then union cardinality from the k-th
    // smallest of the MERGED sketch (k smallest of A∪B ⊆ kminA ∪
    // kminB — the mergeability identity, so sketch-merge equals a
    // from-scratch union sketch exactly), intersection via the
    // standard n_both/k' estimator scaled by est_union, against exact
    // ground truth for the error readout. At 100 TB the sketch legs
    // are one distinct + one per-source top-k window (64 rows per
    // source survive — WindowGroupLimit prunes map-side); the exact
    // legs (the audit columns) are the only data-sized join and are
    // what a production run would drop. Pure integer hashes + IEEE
    // expressions both engines replay bit-exactly.
    QueryDef("sketch_kmv_setops",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val k = 64
        val d = Tables.load(s, dir, "documents")
        val tris = d.select(col("source"), split(col("text"), " ").as("__w"))
          .where(size(col("__w")) >= 3)
          .select(col("source"), explode(expr(
            "transform(slice(__w, 1, size(__w) - 2), " +
              "(x, i) -> concat(x, ' ', __w[i + 1], ' ', __w[i + 2]))"))
            .as("tri"))
          .select(col("source"), hash60(col("tri")).as("h"))
          .distinct()
          // read four times (per-source count, sketch window, both
          // exact-intersection legs) — without the checkpoint the
          // explode+md5+distinct lineage re-runs for each (measured
          // 2.95 → 2.54 s at sf0.1; the remainder is the multi-job
          // floor); at deploy scale the distinct hash frame would be
          // materialized once for the same reason
          .stageCheckpoint(true)
        val nd = tris.groupBy(col("source")).agg(count(lit(1)).as("nd"))
        val w = Window.partitionBy(col("source")).orderBy(col("h"))
        val sk = tris.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= k)
          .groupBy(col("source"))
          .agg(sort_array(collect_list(col("h"))).as("arr"))
          .join(nd, "source")
        val inter = tris.as("a").join(tris.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("exact_inter"))
        val p = sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
          .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
            col("x.arr").as("arr_a"), col("y.arr").as("arr_b"),
            col("x.nd").as("nd_a"), col("y.nd").as("nd_b"))
          .withColumn("__u",
            array_sort(array_distinct(concat(col("arr_a"), col("arr_b")))))
          .withColumn("__ks", slice(col("__u"), 1, k))
          .withColumn("__kk", size(col("__ks")))
          .withColumn("__hk", element_at(col("__ks"), col("__kk")))
          .withColumn("__nboth", size(filter(col("__ks"),
            x => array_contains(col("arr_a"), x) &&
              array_contains(col("arr_b"), x))))
          .withColumn("est_union",
            when(size(col("__u")) < k, size(col("__u")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble) *
                lit(1152921504606846976.0) / col("__hk").cast("double"))
                .cast("long")))
          .withColumn("est_inter", floor(col("__nboth").cast("double") *
            col("est_union").cast("double") / col("__kk").cast("double"))
            .cast("long"))
          .withColumn("est_jaccard", round((col("__nboth").cast("double") /
            col("__kk").cast("double")).cast(dec), 6).cast("double"))
        p.join(inter, Seq("src_a", "src_b"), "left")
          .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
          .withColumn("exact_union",
            col("nd_a") + col("nd_b") - col("exact_inter"))
          .withColumn("exact_jaccard",
            round((col("exact_inter").cast("double") /
              col("exact_union").cast("double")).cast(dec), 6).cast("double"))
          .select(col("src_a"), col("src_b"), col("est_union"),
            col("exact_union"), col("est_inter"), col("exact_inter"),
            col("est_jaccard"), col("exact_jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH ws AS (SELECT source, string_split(text, ' ') AS w
        |            FROM documents),
        |g AS (SELECT DISTINCT source,
        |        ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')),
        |          1, 15))::BIGINT AS h
        |      FROM (SELECT source, w,
        |              unnest(generate_series(1, len(w) - 2)) AS i
        |            FROM ws WHERE len(w) >= 3)),
        |nd AS (SELECT source, count(*) AS nd FROM g GROUP BY source),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |      FROM g),
        |sk AS (SELECT source, list_sort(list(h)) AS arr
        |       FROM r WHERE rn <= 64 GROUP BY source),
        |xi AS (SELECT a.source AS src_a, b.source AS src_b,
        |         count(*) AS exact_inter
        |       FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |       GROUP BY 1, 2),
        |p AS (SELECT x.source AS src_a, y.source AS src_b,
        |        x.arr AS arr_a, y.arr AS arr_b, na.nd AS nd_a, nb.nd AS nd_b,
        |        list_sort(list_distinct(x.arr || y.arr)) AS u
        |      FROM sk x JOIN sk y ON x.source < y.source
        |      JOIN nd na ON na.source = x.source
        |      JOIN nd nb ON nb.source = y.source),
        |q AS (SELECT src_a, src_b, nd_a, nd_b, u,
        |        len(u[1:64]) AS kk, u[least(64, len(u))] AS hk,
        |        len(list_filter(u[1:64], x ->
        |          list_contains(arr_a, x) AND list_contains(arr_b, x)))
        |          AS nboth
        |      FROM p),
        |q2 AS (SELECT src_a, src_b, nd_a, nd_b, kk, nboth,
        |        CASE WHEN len(u) < 64 THEN len(u)::BIGINT
        |             ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |                             / hk::DOUBLE) AS BIGINT)
        |        END AS est_union
        |       FROM q)
        |SELECT q2.src_a, q2.src_b, q2.est_union,
        |  (q2.nd_a + q2.nd_b - coalesce(xi.exact_inter, 0)) AS exact_union,
        |  CAST(floor(q2.nboth::DOUBLE * q2.est_union::DOUBLE /
        |             q2.kk::DOUBLE) AS BIGINT) AS est_inter,
        |  coalesce(xi.exact_inter, 0) AS exact_inter,
        |  CAST(round(CAST(q2.nboth::DOUBLE / q2.kk::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS est_jaccard,
        |  CAST(round(CAST(coalesce(xi.exact_inter, 0)::DOUBLE /
        |    (q2.nd_a + q2.nd_b - coalesce(xi.exact_inter, 0))::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS exact_jaccard
        |FROM q2 LEFT JOIN xi
        |  ON xi.src_a = q2.src_a AND xi.src_b = q2.src_b
        |ORDER BY q2.src_a, q2.src_b""".stripMargin)),

    // The PRODUCTION form of sketch_kmv_setops (VERDICT r11 #6): the
    // gated audit query above carries exact-truth legs whose
    // vocabulary-sized self-join is exactly what a 100 TB run would
    // drop — this variant IS that deployable plan, oracle-gated and
    // plan-censused in its own right. Shape: ONE distinct over
    // (source, trigram-hash), ONE per-source top-64 window
    // (WindowGroupLimit prunes map-side — 64 rows per source survive
    // the exchange), then all set algebra on the ≤ 64·|sources| rows.
    // Per-source cardinality is itself the KMV estimate (est_nd_*)
    // — nothing in the plan touches data volume after the distinct.
    // Same bit-exact IEEE estimator discipline as the audit query.
    QueryDef("sketch_kmv_setops_prod",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val k = 64
        val hSpace = 1152921504606846976.0 // 2^60 — hash60's range
        val d = Tables.load(s, dir, "documents")
        val tris = d.select(col("source"), split(col("text"), " ").as("__w"))
          .where(size(col("__w")) >= 3)
          .select(col("source"), explode(expr(
            "transform(slice(__w, 1, size(__w) - 2), " +
              "(x, i) -> concat(x, ' ', __w[i + 1], ' ', __w[i + 2]))"))
            .as("tri"))
          .select(col("source"), hash60(col("tri")).as("h"))
          .distinct()
        val w = Window.partitionBy(col("source")).orderBy(col("h"))
        def estFromKth(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(size(arr) < k, size(arr).cast("long"))
            .otherwise(floor(lit((k - 1).toDouble) * lit(hSpace) /
              element_at(arr, k).cast("double")).cast("long"))
        val sk = tris.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= k)
          .groupBy(col("source"))
          .agg(sort_array(collect_list(col("h"))).as("arr"))
        sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
          .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
            col("x.arr").as("arr_a"), col("y.arr").as("arr_b"))
          .withColumn("est_nd_a", estFromKth(col("arr_a")))
          .withColumn("est_nd_b", estFromKth(col("arr_b")))
          .withColumn("__u",
            array_sort(array_distinct(concat(col("arr_a"), col("arr_b")))))
          .withColumn("__ks", slice(col("__u"), 1, k))
          .withColumn("__kk", size(col("__ks")))
          .withColumn("__hk", element_at(col("__ks"), col("__kk")))
          .withColumn("__nboth", size(filter(col("__ks"),
            x => array_contains(col("arr_a"), x) &&
              array_contains(col("arr_b"), x))))
          .withColumn("est_union",
            when(size(col("__u")) < k, size(col("__u")).cast("long"))
              .otherwise(floor(lit((k - 1).toDouble) * lit(hSpace) /
                col("__hk").cast("double")).cast("long")))
          .withColumn("est_inter", floor(col("__nboth").cast("double") *
            col("est_union").cast("double") / col("__kk").cast("double"))
            .cast("long"))
          .withColumn("est_jaccard", round((col("__nboth").cast("double") /
            col("__kk").cast("double")).cast(dec), 6).cast("double"))
          .select(col("src_a"), col("src_b"), col("est_nd_a"),
            col("est_nd_b"), col("est_union"), col("est_inter"),
            col("est_jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH ws AS (SELECT source, string_split(text, ' ') AS w
        |            FROM documents),
        |g AS (SELECT DISTINCT source,
        |        ('0x' || substring(md5(array_to_string(w[i:i+2], ' ')),
        |          1, 15))::BIGINT AS h
        |      FROM (SELECT source, w,
        |              unnest(generate_series(1, len(w) - 2)) AS i
        |            FROM ws WHERE len(w) >= 3)),
        |r AS (SELECT source, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        |      FROM g),
        |sk AS (SELECT source, list_sort(list(h)) AS arr
        |       FROM r WHERE rn <= 64 GROUP BY source),
        |p AS (SELECT x.source AS src_a, y.source AS src_b,
        |        x.arr AS arr_a, y.arr AS arr_b,
        |        list_sort(list_distinct(x.arr || y.arr)) AS u
        |      FROM sk x JOIN sk y ON x.source < y.source),
        |q AS (SELECT src_a, src_b, arr_a, arr_b, u,
        |        len(u[1:64]) AS kk, u[least(64, len(u))] AS hk,
        |        len(list_filter(u[1:64], x ->
        |          list_contains(arr_a, x) AND list_contains(arr_b, x)))
        |          AS nboth
        |      FROM p),
        |q2 AS (SELECT src_a, src_b, kk, nboth,
        |        CASE WHEN len(arr_a) < 64 THEN len(arr_a)::BIGINT
        |             ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |                             / arr_a[64]::DOUBLE) AS BIGINT)
        |        END AS est_nd_a,
        |        CASE WHEN len(arr_b) < 64 THEN len(arr_b)::BIGINT
        |             ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |                             / arr_b[64]::DOUBLE) AS BIGINT)
        |        END AS est_nd_b,
        |        CASE WHEN len(u) < 64 THEN len(u)::BIGINT
        |             ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |                             / hk::DOUBLE) AS BIGINT)
        |        END AS est_union
        |       FROM q)
        |SELECT src_a, src_b, est_nd_a, est_nd_b, est_union,
        |  CAST(floor(nboth::DOUBLE * est_union::DOUBLE /
        |             kk::DOUBLE) AS BIGINT) AS est_inter,
        |  CAST(round(CAST(nboth::DOUBLE / kk::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS est_jaccard
        |FROM q2 ORDER BY src_a, src_b""".stripMargin)),

    // In-engine linear quality-probe training (ops/LinearProbe): learn
    // a cheap "is this English" surface from 4 scan-computable text
    // features + bias — the quality-classifier step of a curation
    // pipeline done scale-correctly: ONE corpus pass collects the
    // decimal-exact sufficient statistics (A = Σxxᵀ, b = Σxy, Σy²),
    // and every gradient step is then driver algebra on the 5×5
    // moments (∇ = (Aw−b)/n — re-scanning the corpus per step, the
    // naive formulation, is pure waste). The oracle unrolls the SAME
    // descent as chained 1-row CTEs over the same decimal moments;
    // both engines run identical left-associated IEEE expression
    // trees, so weights and MSE agree before the defensive round(6).
    // The emitted MSE column is the training curve — monotone descent
    // is spec-pinned (ProbeSpec) and visible in the gated rows.
    QueryDef("quality_linear_probe",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.LinearProbe.fit(s, d, probeFeatsSpark,
          expr("CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(18,6))"),
          ProbeWeightNames, ProbeEta, ProbeSteps)
      },
      Some(linearProbeOracle)),

    // Out-of-sample probe evaluation — the half of classifier training
    // that quality_linear_probe's training curve cannot show: train on
    // the even-doc_id split (the conformal-gate split convention),
    // score the HELD-OUT odd split with the raw step-N weights, and
    // report per-source MSE + thresholded accuracy. Train→eval→deploy
    // is now one gated arc: probe (train) → this (eval) →
    // quality_conformal_gate (deploy with a coverage promise). Scale
    // shape: training is the probe's one moments pass over the train
    // split; scoring is a pure scan-time dot product (weights ride the
    // plan as literals) + one per-source aggregate. Exactness: the
    // prediction is the same left-associated double dot product on
    // both engines; per-row squared error re-quantizes to
    // DECIMAL(18,6) before the exact sum; accuracy counts integer
    // comparisons of bit-identical doubles.
    QueryDef("quality_probe_holdout",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val label = expr(
          "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(18,6))")
        val train = d.where(pmod(col("doc_id"), lit(2)) === 0)
        val (n, a, b, syy) = graft.ops.LinearProbe.moments(
          train, probeFeatsSpark, label)
        val w = graft.ops.LinearProbe
          .gdSteps(a, b, syy, n, ProbeEta, ProbeSteps).last.w
        val pred = probeFeatsSpark.map(_.cast("double")).zip(w)
          .map { case (f, wi) => f * lit(wi) }
          .reduce(_ + _) // left fold = the oracle's left-assoc `+`
        d.where(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("source"), pred.as("p"),
            label.cast("double").as("yd"))
          .withColumn("sq",
            round(((col("p") - col("yd")) * (col("p") - col("yd")))
              .cast(DecimalType(18, 8)), 6).cast(DecimalType(18, 6)))
          .withColumn("correct",
            when(when(col("p") >= 0.5, 1.0).otherwise(0.0) === col("yd"),
              1L).otherwise(0L))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_test"),
            round((sum(col("sq")).cast("double") /
              count(lit(1)).cast("double")).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mse"),
            sum(col("correct")).as("n_correct"),
            round((sum(col("correct")).cast("double") /
              count(lit(1)).cast("double")).cast(DecimalType(18, 8)), 6)
              .cast("double").as("accuracy"))
          .orderBy(col("source"))
      },
      Some(probeHoldoutOracle)),

    // Ridge regularization path for the probe (TODO r9 candidate,
    // LinearProbe.ridgePath): the λ grid reuses the ONE moments scan —
    // each λ is driver algebra on the same 5×5 decimal-exact moments,
    // so the whole sweep costs one corpus pass. Reported MSE is the
    // UNPENALIZED training fit (λ shapes the path; the report shows
    // what shrinkage costs). λ = 0 reproduces quality_linear_probe's
    // final step exactly — the path's anchor row. Oracle: one unrolled
    // GD chain per λ (prefix-namespaced CTEs), generated from the same
    // grid constants.
    QueryDef("quality_probe_ridge",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.LinearProbe.ridgePath(s, d, probeFeatsSpark,
          expr("CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(18,6))"),
          ProbeWeightNames, ProbeEta, ProbeSteps, RidgeLambdas)
      },
      Some(probeRidgeOracle)),

    // CLOSED-FORM ridge path — the exact (A + nλI)w = b solve the GD
    // path above approaches: same ONE moments scan (the λ grid is
    // free), then O(d³) driver Gaussian elimination instead of
    // iteration. The point of having both gates: the GD path is the
    // shape that generalizes to losses without closed forms; this is
    // the exact answer for squared loss, and its oracle proves a
    // driver-side linear SOLVE can be made engine-exact (unrolled
    // elimination CTEs, every update in the driver's IEEE shape).
    // mse here is the true minimum at λ = 0 — the quality_probe
    // family's convergence anchor (spec-pinned ≤ the GD-path mse).
    QueryDef("quality_probe_ridge_exact",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        graft.ops.LinearProbe.ridgeExact(s, d, probeFeatsSpark,
          expr("CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(18,6))"),
          ProbeWeightNames, RidgeLambdas)
      },
      Some(probeRidgeExactOracle)),

    // Vocabulary coverage curve: what fraction of all corpus tokens
    // the top-k types cover, for k on a doubling grid — the
    // tokenizer/vocab-sizing census (how big a vocab buys how much of
    // the token mass; the Zipf complement to vocab_heaps_fit's
    // type-growth view). Scale shape: the only wide state is the
    // distinct-type frame (vocabulary-bounded, same contract as
    // vocab_topk/vocab_zipf_fit); the single-partition rank window
    // runs over types, never tokens. k saturates at V via
    // least(k, V) — at sf0.01 V ≈ 31, so the 64-row reads the whole
    // mass; the saturation rows are kept (coverage = 1) because the
    // curve's flat tail IS the sizing answer.
    QueryDef("vocab_coverage_curve",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val vocab = d.select(explode(split(col("text"), " ")).as("token"))
          .where(col("token") =!= "")
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        val wRank = Window.orderBy(desc("cnt"), col("token"))
        val ranked = vocab
          .withColumn("rnk", row_number().over(wRank).cast("long"))
          .withColumn("cum", sum(col("cnt")).over(wRank))
        val totals = vocab.agg(sum(col("cnt")).as("total_tokens"),
          count(lit(1)).as("types_total"))
        val ks = s.range(0, 7).select(
          expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("k"))
        ks.crossJoin(broadcast(totals))
          .withColumn("rank_used", least(col("k"), col("types_total")))
          .join(broadcast(ranked.select(col("rnk"), col("cum"))),
            col("rank_used") === col("rnk"))
          .select(col("k"), col("rank_used"), col("types_total"),
            round(col("cum").cast("double") /
              col("total_tokens").cast("double"), 6).as("coverage"))
          .orderBy(col("k"))
      },
      Some("""WITH v AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE token <> '' GROUP BY token),
        |r AS (
        |  SELECT (ROW_NUMBER() OVER (ORDER BY cnt DESC, token))::BIGINT
        |      AS rnk,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, token) AS cum
        |  FROM v),
        |t AS (SELECT SUM(cnt) AS total_tokens, COUNT(*) AS types_total
        |      FROM v),
        |k AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64])::BIGINT AS k)
        |SELECT k.k, LEAST(k.k, t.types_total) AS rank_used,
        |  t.types_total,
        |  round(r.cum::DOUBLE / t.total_tokens::DOUBLE, 6) AS coverage
        |FROM k, t, r
        |WHERE r.rnk = LEAST(k.k, t.types_total)
        |ORDER BY k.k""".stripMargin)),

    // Per-source novelty (unique-gram saturation) curve: order each
    // source's docs by doc_id, cut into 4 equal prefixes, and count
    // how many DISTINCT 3-grams each additional quartile contributes
    // — the measured diminishing-returns answer to "does buying more
    // of this source buy new content, or repeats" (the
    // data-constrained-scaling question, answered from the corpus
    // itself rather than a decay formula). Scale shape: quartile
    // assignment is pure integer window math on doc counts; the only
    // wide shuffle is the (source, gram) first-occurrence aggregate —
    // same bound as ngram_diversity_report's distinct-gram frame. A
    // gram counts for the EARLIEST quartile containing it (min), so
    // the curve is monotone and its total matches the source's
    // distinct-gram count by construction.
    QueryDef("source_novelty_curve",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val wRank = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val wCnt = Window.partitionBy(col("source"))
        val q = d.select(col("source"), col("doc_id"),
            split(col("text"), " ").as("w"))
          .withColumn("rn", row_number().over(wRank))
          .withColumn("cnt", count(lit(1)).over(wCnt))
          .withColumn("q", expr("((rn - 1) * 4) DIV cnt + 1"))
        val grams = q.select(col("source"), col("q"),
          explode(when(size(col("w")) >= 3,
            transform(sequence(lit(1), size(col("w")) - lit(2)),
              i => concat_ws(" ", slice(col("w"), i, lit(3)))))
            .otherwise(array().cast("array<string>"))).as("g"))
        val first = grams.groupBy(col("source"), col("g"))
          .agg(min(col("q")).as("quartile"))
        val perQ = first.groupBy(col("source"), col("quartile"))
          .agg(count(lit(1)).as("new_grams"))
        val wCum = Window.partitionBy(col("source")).orderBy(col("quartile"))
        val wTot = Window.partitionBy(col("source"))
        perQ
          .withColumn("cum_grams", sum(col("new_grams")).over(wCum))
          .withColumn("tot", sum(col("new_grams")).over(wTot))
          .select(col("source"), col("quartile"), col("new_grams"),
            col("cum_grams"),
            round(col("cum_grams").cast("double") /
              col("tot").cast("double"), 6).as("cum_frac"))
          .orderBy(col("source"), col("quartile"))
      },
      Some("""WITH d AS MATERIALIZED (
        |  SELECT source, doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |r AS (
        |  SELECT source, w,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt
        |  FROM d),
        |qd AS (SELECT source, ((rn - 1) * 4) // cnt + 1 AS q, w FROM r),
        |g AS (
        |  SELECT source, q, array_to_string(w[i:i+2], ' ') AS g
        |  FROM (SELECT source, q, w,
        |          unnest(generate_series(1, len(w) - 2)) AS i
        |        FROM qd WHERE len(w) >= 3)),
        |f AS (SELECT source, g, MIN(q) AS quartile
        |      FROM g GROUP BY source, g),
        |p AS (SELECT source, quartile, COUNT(*) AS new_grams
        |      FROM f GROUP BY 1, 2),
        |c AS (
        |  SELECT source, quartile, new_grams,
        |    (SUM(new_grams) OVER (PARTITION BY source ORDER BY quartile))
        |      ::BIGINT AS cum_grams,
        |    (SUM(new_grams) OVER (PARTITION BY source))::BIGINT AS tot
        |  FROM p)
        |SELECT source, quartile, new_grams, cum_grams,
        |  round(cum_grams::DOUBLE / tot::DOUBLE, 6) AS cum_frac
        |FROM c ORDER BY source, quartile""".stripMargin)),

    // Split-conformal calibration of the quality gate: pick the
    // threshold as the ⌊(n+1)/10⌋-th smallest calibration-split
    // reward, guaranteeing ≥90% of exchangeable future docs clear it
    // (distribution-free), then AUDIT the guarantee on the held-out
    // split per source — the "deploy the quality filter with a
    // coverage promise" step after quality_linear_probe learns a
    // score. Splits are doc_id parity (deterministic, the
    // group_split_customers convention). Exactness: the order
    // statistic is an integer-rank row over round-6 doubles with a
    // doc_id tiebreak — no quantile interpolation to diverge on. The
    // k-th-smallest is found via a global sort-limit (TakeOrdered) —
    // the exact-gate choice for oracle parity; at 100 TB the KLL
    // sketch path (sketch_quantile_kll) answers the same question
    // with bounded state and a known rank-error bar.
    QueryDef("quality_conformal_gate",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val scored = d.select(col("doc_id"), col("source"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        val calib = scored.where(pmod(col("doc_id"), lit(2)) === 0)
        val nCalib = calib.count()
        val k = (nCalib + 1L) / 10L
        val thr = calib.orderBy(col("reward"), col("doc_id")).limit(k.toInt)
          .agg(max(col("reward")).as("threshold"))
          // k = 0 (tiny calib split): no order statistic exists — emit
          // zero rows, exactly like the oracle's empty kth CTE
          .where(col("threshold").isNotNull)
        scored.where(pmod(col("doc_id"), lit(2)) === 1)
          .crossJoin(broadcast(thr))
          .groupBy(col("source"), col("threshold"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("reward") >= col("threshold"), 1L).otherwise(0L))
              .as("n_pass"))
          .select(col("source"), lit(nCalib).as("n_calib"), lit(k).as("k"),
            col("threshold"), col("n_test"), col("n_pass"),
            round(col("n_pass").cast("double") /
              col("n_test").cast("double"), 6).as("pass_rate"))
          .orderBy(col("source"))
      },
      Some(s"""WITH q AS MATERIALIZED ($QualityBySourceSql),
        |cal AS (SELECT reward, doc_id FROM q WHERE doc_id % 2 = 0),
        |n AS (SELECT COUNT(*) AS n_calib FROM cal),
        |kth AS (
        |  SELECT r.reward AS threshold
        |  FROM (SELECT reward,
        |          ROW_NUMBER() OVER (ORDER BY reward, doc_id) AS rn
        |        FROM cal) r, n
        |  WHERE r.rn = (n.n_calib + 1) // 10),
        |t AS (
        |  SELECT source, kth.threshold, COUNT(*) AS n_test,
        |    (SUM(CASE WHEN reward >= kth.threshold THEN 1 ELSE 0 END))
        |      ::BIGINT AS n_pass
        |  FROM q, kth WHERE doc_id % 2 = 1 GROUP BY source, kth.threshold)
        |SELECT t.source, n.n_calib, (n.n_calib + 1) // 10 AS k,
        |  t.threshold, t.n_test, t.n_pass,
        |  round(t.n_pass::DOUBLE / t.n_test::DOUBLE, 6) AS pass_rate
        |FROM t, n ORDER BY t.source""".stripMargin)),

    // Deterministic Poisson bootstrap CI for the per-source mean
    // quality — the uncertainty bar every corpus metric in this file
    // reports WITHOUT (a point estimate over a sampled corpus slice is
    // uninterpretable until you know its spread). Each of the 16
    // replicates reweights every doc by an integer Poisson(1) draw
    // keyed on detHash(doc_id, replicate) — integer THRESHOLD
    // comparisons against precomputed floor(CDF·10⁶) constants, so
    // both engines draw bit-identical weights with no floating-point
    // CDF anywhere. Scale shape: replicate weighted sums are
    // partial-aggregated map-side (the 16× explode never reaches the
    // shuffle as raw rows — sources × 16 partial rows per task), and
    // the CI is an integer-rank order statistic over the ≤16 replicate
    // means per source: rank 2 / rank n−1, the ~87.5% interval.
    QueryDef("metric_bootstrap_ci",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val scored = d.select(col("doc_id"), col("source"),
          round(Text.qualityScore(col("text")), 6)
            .cast(DecimalType(18, 6)).as("reward"))
        val rm = graft.ops.Relational.bootstrapMeans(scored, "source",
          "reward", "doc_id", BootReps, BootM, BootCdfThresholds)
        val wRank = Window.partitionBy(col("source"))
          .orderBy(col("m"), col("r"))
        val ranked = rm.withColumn("rn", row_number().over(wRank))
          .withColumn("nr",
            count(lit(1)).over(Window.partitionBy(col("source"))))
        val cis = ranked.groupBy(col("source")).agg(
          count(lit(1)).as("n_reps"),
          max(when(col("rn") === 2, col("m"))).as("ci_lo"),
          max(when(col("rn") === col("nr") - 1, col("m"))).as("ci_hi"))
        val pt = scored.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          round((sum(col("reward")).cast("double") /
            count(lit(1)).cast("double")).cast(DecimalType(18, 8)), 6)
            .cast("double").as("mean_reward"))
        pt.join(cis, "source")
          .select(col("source"), col("n_docs"), col("mean_reward"),
            col("n_reps"), col("ci_lo"), col("ci_hi"),
            round((col("ci_hi") - col("ci_lo")).cast(DecimalType(18, 8)), 6)
              .cast("double").as("ci_width"))
          .orderBy(col("source"))
      },
      Some {
        val wExpr = BootCdfThresholds
          .map(t => s"CASE WHEN h >= $t THEN 1 ELSE 0 END")
          .mkString("(", " + ", ")::BIGINT")
        s"""WITH q AS MATERIALIZED ($QualityBySourceSql),
        |g AS (SELECT doc_id, source, reward::DECIMAL(18,6) AS reward
        |      FROM q),
        |reps AS (
        |  SELECT source, reward, r,
        |    ${detHashSql(BootM, Seq("doc_id", "r"))} AS h
        |  FROM g, unnest(generate_series(0, ${BootReps - 1})) AS t(r)),
        |rm AS (
        |  SELECT source, r,
        |    CAST(round((SUM($wExpr * reward)::DOUBLE /
        |      SUM($wExpr)::DOUBLE)::DECIMAL(18,8), 6) AS DOUBLE) AS m
        |  FROM reps GROUP BY 1, 2 HAVING SUM($wExpr) > 0),
        |rk AS (
        |  SELECT source, r, m,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY m, r) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS nr
        |  FROM rm),
        |ci AS (
        |  SELECT source, COUNT(*) AS n_reps,
        |    MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo,
        |    MAX(CASE WHEN rn = nr - 1 THEN m END) AS ci_hi
        |  FROM rk GROUP BY 1),
        |pt AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(round((SUM(reward)::DOUBLE / COUNT(*)::DOUBLE)
        |      ::DECIMAL(18,8), 6) AS DOUBLE) AS mean_reward
        |  FROM g GROUP BY 1)
        |SELECT pt.source, pt.n_docs, pt.mean_reward, ci.n_reps,
        |  ci.ci_lo, ci.ci_hi,
        |  CAST(round((ci.ci_hi - ci.ci_lo)::DECIMAL(18,8), 6) AS DOUBLE)
        |    AS ci_width
        |FROM pt JOIN ci ON ci.source = pt.source
        |ORDER BY pt.source""".stripMargin
      }),

    // Conformal-gate temporal stability: compute the gate threshold
    // (the ⌊(n+1)/10⌋-th smallest reward, quality_conformal_gate's
    // rule) independently on two disjoint corpus periods and
    // cross-audit — deploy period A's threshold on period B's traffic
    // and vice versa. The drift row answers "can I ship yesterday's
    // gate today": under exchangeability both cross-coverages stay
    // ≈90%; a coverage drop IS distribution shift at exactly the
    // quantile the gate lives at (sharper than PSI for this purpose —
    // it measures the deployed decision, not the whole histogram).
    // Scale shape: two order statistics via sort-limit on the scored
    // frame + two broadcast threshold joins — the same exact-gate
    // choice as quality_conformal_gate, with the KLL sketch
    // (ConformalGateStream) as the unbounded-corpus path. Periods are
    // doc_id halves (doc_id mod 4 < 2) — deterministic, disjoint,
    // and independent of the gate's own calib/test parity split.
    QueryDef("quality_gate_stability",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val scored = d.select(col("doc_id"),
          round(Text.qualityScore(col("text")), 6).as("reward"))
        def thrOf(half: org.apache.spark.sql.DataFrame, nm: String) = {
          val n = half.count()
          val k = (n + 1L) / 10L
          (half.orderBy(col("reward"), col("doc_id")).limit(k.toInt)
            .agg(max(col("reward")).as(nm))
            .where(col(nm).isNotNull), n, k)
        }
        val a = scored.where(pmod(col("doc_id"), lit(4)) < 2)
        val b = scored.where(pmod(col("doc_id"), lit(4)) >= 2)
        val (thrA, nA, kA) = thrOf(a, "thr_a")
        val (thrB, nB, kB) = thrOf(b, "thr_b")
        def coverage(half: org.apache.spark.sql.DataFrame,
                     thr: org.apache.spark.sql.DataFrame, thrCol: String,
                     nm: String) =
          half.crossJoin(broadcast(thr))
            .agg(round((sum(when(col("reward") >= col(thrCol), 1L)
              .otherwise(0L)).cast("double") /
              count(lit(1)).cast("double")).cast(DecimalType(18, 8)), 6)
              .cast("double").as(nm))
        val selfA = coverage(b, thrA, "thr_a", "cov_b_under_a")
        val selfB = coverage(a, thrB, "thr_b", "cov_a_under_b")
        thrA.crossJoin(broadcast(thrB))
          .crossJoin(broadcast(selfA)).crossJoin(broadcast(selfB))
          .select(lit(nA).as("n_a"), lit(kA).as("k_a"), col("thr_a"),
            lit(nB).as("n_b"), lit(kB).as("k_b"), col("thr_b"),
            round((col("thr_b") - col("thr_a")).cast(DecimalType(18, 8)), 6)
              .cast("double").as("thr_drift"),
            col("cov_b_under_a"), col("cov_a_under_b"))
      },
      Some(s"""WITH q AS MATERIALIZED ($QualityBySourceSql),
        |a AS (SELECT reward, doc_id FROM q WHERE doc_id % 4 < 2),
        |b AS (SELECT reward, doc_id FROM q WHERE doc_id % 4 >= 2),
        |na AS (SELECT COUNT(*) AS n FROM a),
        |nb AS (SELECT COUNT(*) AS n FROM b),
        |ta AS (
        |  SELECT r.reward AS thr_a FROM (
        |    SELECT reward, ROW_NUMBER() OVER (ORDER BY reward, doc_id)
        |      AS rn FROM a) r, na
        |  WHERE r.rn = (na.n + 1) // 10),
        |tb AS (
        |  SELECT r.reward AS thr_b FROM (
        |    SELECT reward, ROW_NUMBER() OVER (ORDER BY reward, doc_id)
        |      AS rn FROM b) r, nb
        |  WHERE r.rn = (nb.n + 1) // 10),
        |ca AS (
        |  SELECT CAST(round((SUM(CASE WHEN b.reward >= ta.thr_a THEN 1
        |      ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE)::DECIMAL(18,8), 6)
        |    AS DOUBLE) AS cov_b_under_a
        |  FROM b, ta),
        |cb AS (
        |  SELECT CAST(round((SUM(CASE WHEN a.reward >= tb.thr_b THEN 1
        |      ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE)::DECIMAL(18,8), 6)
        |    AS DOUBLE) AS cov_a_under_b
        |  FROM a, tb)
        |SELECT na.n AS n_a, (na.n + 1) // 10 AS k_a, ta.thr_a,
        |  nb.n AS n_b, (nb.n + 1) // 10 AS k_b, tb.thr_b,
        |  CAST(round((tb.thr_b - ta.thr_a)::DECIMAL(18,8), 6) AS DOUBLE)
        |    AS thr_drift,
        |  ca.cov_b_under_a, cb.cov_a_under_b
        |FROM na, nb, ta, tb, ca, cb""".stripMargin))
  )

  /** Poisson(1) bootstrap constants shared by metric_bootstrap_ci's
    * Spark query and oracle: 16 replicates; a draw is the count of CDF
    * thresholds at or below detHash(doc_id, r) ∈ [0, 10⁶). Thresholds
    * are floor(P(X≤k)·10⁶) for k = 0..4 (P(X≤4) ≈ 0.9963; draws cap
    * at 5) — precomputed integers, so the weight is pure integer
    * comparison on both engines.
    */
  private val BootReps = 16L
  private val BootM = 1000000L
  private val BootCdfThresholds =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L)

  /** Linear-probe hyperparameters, shared by the Spark query and the
    * oracle generator. η = 0.2 is safely under the 2/λmax(A/n) bound
    * for these normalized features (trace(A/n) ≈ 1.7 on this corpus).
    */
  private val ProbeEta = 0.2
  private val ProbeSteps = 3
  private val ProbeWeightNames =
    Seq("w_bias", "w_words", "w_chars", "w_stop", "w_distinct")

  /** quality_probe_ridge λ grid: 0 anchors the path at the plain
    * probe; 0.05/0.5 show one decade of shrinkage.
    */
  private val RidgeLambdas = Seq(0.0, 0.05, 0.5)

  /** sample_stratified_neyman labeling budget. */
  private val NeymanBudget = 100L

  /** pack_context_windows knobs: window capacity in whitespace
    * tokens (doc lengths here are 10-99 words, so ⌊128/t⌋ spreads
    * docs across classes 1..12) and the class sub-shard count.
    */
  private val PackCapacity = 128
  private val PackShards = 4

  /** Oracle for pack_context_windows — the same integer class/rank/
    * bin math and the same order-independent decimal layout checksum.
    */
  private def packHarmonicOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id AS id, len(string_split(text, ' '))::BIGINT AS tk
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) > 0
       |    AND len(string_split(text, ' ')) <= $PackCapacity),
       |kc AS (SELECT id, tk, $PackCapacity // tk AS k,
       |    ${md5LongSql(s"'2:' || id::VARCHAR")} % $PackShards AS shard
       |  FROM t),
       |r AS (SELECT *, row_number() OVER (PARTITION BY k, shard
       |    ORDER BY ${md5LongSql("id::VARCHAR")}, id) AS rn FROM kc),
       |b AS (SELECT id, tk, k, shard, (rn - 1) // k AS bin FROM r)
       |SELECT k, count(*) AS n_docs,
       |  count(DISTINCT shard::VARCHAR || ':' || bin::VARCHAR) AS n_bins,
       |  sum(tk)::BIGINT AS tok_sum,
       |  CAST(round(CAST(sum(tk)::DOUBLE /
       |    (count(DISTINCT shard::VARCHAR || ':' || bin::VARCHAR)
       |     * $PackCapacity)::DOUBLE AS DECIMAL(18,8)), 6) AS DOUBLE)
       |    AS fill_frac,
       |  sum(CAST(${md5LongSql(
           "id::VARCHAR || ':' || shard::VARCHAR || ':' || bin::VARCHAR")}
       |    AS DECIMAL(38,0)))::VARCHAR AS assign_sig
       |FROM b GROUP BY k ORDER BY k""".stripMargin

  /** Oracle for sample_stratified_neyman: the same decimal moments,
    * σ/share/largest-remainder algebra, and (md5Long(id), id) draw,
    * spelled in the operator's exact IEEE shapes.
    */
  private def neymanOracleSql: String =
    s"""WITH c AS (
       |  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v, doc_id AS id
       |  FROM documents WHERE n_chars IS NOT NULL),
       |m AS (SELECT g, count(*) AS n,
       |    sum(CAST(v AS DECIMAL(38,10))) AS s,
       |    sum(CAST(v * v AS DECIMAL(38,10))) AS s2
       |  FROM c GROUP BY g),
       |w2 AS (SELECT g, n,
       |    sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n::DOUBLE
       |      - (CAST(s AS DOUBLE) / n::DOUBLE)
       |        * (CAST(s AS DOUBLE) / n::DOUBLE))) AS sig,
       |    n::DOUBLE * sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n::DOUBLE
       |      - (CAST(s AS DOUBLE) / n::DOUBLE)
       |        * (CAST(s AS DOUBLE) / n::DOUBLE))) AS nw
       |  FROM m),
       |t AS (SELECT CAST(sum(CAST(nw AS DECIMAL(38,10))) AS DOUBLE)
       |    AS tot, sum(n) AS nn FROM w2),
       |a2 AS (SELECT g, n, sig,
       |    CAST(floor($NeymanBudget.0 * share) AS BIGINT) AS base,
       |    $NeymanBudget.0 * share
       |      - floor($NeymanBudget.0 * share) AS rem
       |  FROM (SELECT g, n, sig,
       |    CASE WHEN t.tot > 0.0 THEN nw / t.tot
       |         ELSE n::DOUBLE / t.nn::DOUBLE END AS share
       |    FROM w2, t)),
       |sb AS (SELECT sum(base) AS sb FROM a2),
       |q AS (SELECT g, n, sig,
       |    least(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
       |      <= $NeymanBudget - sb.sb THEN 1 ELSE 0 END, n) AS alloc
       |  FROM a2, sb),
       |r AS (SELECT c.g, c.id, q.alloc,
       |    row_number() OVER (PARTITION BY c.g ORDER BY
       |      ('0x' || substring(md5(c.id::VARCHAR), 1, 15))::BIGINT, c.id)
       |      AS rk
       |  FROM c JOIN q ON q.g = c.g),
       |rep AS (SELECT g, count(*) AS n_sampled, sum(id)::BIGINT AS id_sum,
       |    md5(string_agg(id::VARCHAR, ',' ORDER BY id)) AS ids_md5
       |  FROM r WHERE rk <= alloc GROUP BY g)
       |SELECT q.g AS source, q.n AS n_rows,
       |  CAST(round(CAST(q.sig AS DECIMAL(18,8)), 6) AS DOUBLE) AS sigma,
       |  q.alloc::BIGINT AS alloc,
       |  coalesce(rep.n_sampled, 0)::BIGINT AS n_sampled,
       |  coalesce(rep.id_sum, 0)::BIGINT AS id_sum,
       |  rep.ids_md5
       |FROM q LEFT JOIN rep ON rep.g = q.g ORDER BY source""".stripMargin

  /** Probe features, DECIMAL(18,6)-exact per row: bias, words/100,
    * chars/1000, stopwords/10, distinct-words/100. The rational
    * rescale keeps weights O(0.1–1) (so round-6 output carries
    * signal) and stays exact: integer × exact decimal literal at
    * scale 6, no division anywhere.
    */
  private def probeFeatsSpark: Seq[org.apache.spark.sql.Column] = Seq(
    expr("CAST(1 AS DECIMAL(18,6))"),
    expr("CAST(CAST(size(split(text, ' ')) AS DECIMAL(20,0)) " +
      "* CAST(0.01 AS DECIMAL(8,6)) AS DECIMAL(18,6))"),
    expr("CAST(CAST(length(text) AS DECIMAL(20,0)) " +
      "* CAST(0.001 AS DECIMAL(8,6)) AS DECIMAL(18,6))"),
    expr("CAST(CAST(size(filter(split(text, ' '), w -> w IN ('the', 'a'))) " +
      "AS DECIMAL(20,0)) * CAST(0.1 AS DECIMAL(8,6)) AS DECIMAL(18,6))"),
    expr("CAST(CAST(size(array_distinct(split(text, ' '))) " +
      "AS DECIMAL(20,0)) * CAST(0.01 AS DECIMAL(8,6)) AS DECIMAL(18,6))"))

  /** Oracle for quality_linear_probe: the same moments aggregate and
    * the same descent, unrolled as chained 1-row CTEs. Every dot
    * product is emitted left-associated (`a0*w0 + a1*w1 + …`), the
    * exact shape LinearProbe.dotL evaluates, so the doubles match
    * bit-for-bit. Moment CTEs are MATERIALIZED per the standing rule
    * for multiply-referenced CTEs (SCALING.md, unrolled-oracle
    * lesson).
    */
  /** The probe features in DuckDB SQL — the exact mirrors of
    * [[probeFeatsSpark]], shared by the train and holdout oracles.
    */
  private val probeFeatsSql = Seq(
    "CAST(1 AS DECIMAL(18,6))",
    "CAST(len(string_split(text, ' '))::DECIMAL(20,0) " +
      "* 0.01::DECIMAL(8,6) AS DECIMAL(18,6))",
    "CAST(length(text)::DECIMAL(20,0) " +
      "* 0.001::DECIMAL(8,6) AS DECIMAL(18,6))",
    "CAST(len(list_filter(string_split(text, ' '), " +
      "w -> w IN ('the', 'a')))::DECIMAL(20,0) " +
      "* 0.1::DECIMAL(8,6) AS DECIMAL(18,6))",
    "CAST(len(list_distinct(string_split(text, ' ')))::DECIMAL(20,0) " +
      "* 0.01::DECIMAL(8,6) AS DECIMAL(18,6))")

  private val probeLabelSql =
    "CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DECIMAL(18,6))"

  private def probeDot(j: Int): String = {
    val d = ProbeWeightNames.size
    def aN(a: Int, b: Int) = if (a <= b) s"a$a$b" else s"a$b$a"
    (0 until d).map(k => s"${aN(j, k)}*w$k").mkString(" + ")
  }

  /** The moments-aggregate + unrolled-GD CTE chain reading feature
    * rows (f0..f_{d−1}, y) from CTE `src`: emits `m`, `s0`..`s{steps}`
    * — shared by the full-corpus trainer oracle and the holdout
    * oracle (which points `src` at the train split).
    */
  /** `lambda` > 0 appends the ridge term (λ·w, OUTSIDE the /n — the
    * exact gdSteps shape); λ = 0 keeps the legacy λ-free expression
    * (`x + 0·w` is not an IEEE identity). `pfx` namespaces the CTE
    * chain so one oracle can unroll several λs side by side.
    */
  private def probeGdCtes(src: String, lambda: Double = 0.0,
                          pfx: String = ""): String = {
    val d = ProbeWeightNames.size
    val momCols = (for (j <- 0 until d; k <- j until d) yield s"a$j$k") ++
      (0 until d).map(j => s"b$j") :+ "syy"
    val carry = ("n" +: momCols).mkString(", ")
    val mAggs = (
      Seq("COUNT(*)::DOUBLE AS n") ++
        (for (j <- 0 until d; k <- j until d)
          yield s"SUM(f$j*f$k)::DECIMAL(38,6)::DOUBLE AS a$j$k") ++
        (0 until d).map(j => s"SUM(f$j*y)::DECIMAL(38,6)::DOUBLE AS b$j") :+
        "SUM(y*y)::DECIMAL(38,6)::DOUBLE AS syy").mkString(",\n    ")
    val zeroW = (0 until d).map(j => s"0.0::DOUBLE AS w$j").mkString(", ")
    val stepCtes = (1 to ProbeSteps).map { t =>
      val upd = (0 until d).map { j =>
        val grad =
          if (lambda == 0.0) s"((${probeDot(j)} - b$j) / n)"
          else s"((${probeDot(j)} - b$j) / n + $lambda::DOUBLE * w$j)"
        s"w$j - $ProbeEta::DOUBLE * $grad AS v$j"
      }.mkString(",\n    ")
      val rename = (0 until d).map(j => s"v$j AS w$j").mkString(", ")
      s"""${pfx}u$t AS (
         |  SELECT $carry,
         |    $upd
         |  FROM ${pfx}s${t - 1}),
         |${pfx}s$t AS (SELECT $carry, $rename FROM ${pfx}u$t)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}m AS MATERIALIZED (
       |  SELECT
       |    $mAggs
       |  FROM $src),
       |${pfx}s0 AS (SELECT *, $zeroW FROM ${pfx}m),
       |$stepCtes""".stripMargin
  }

  /** Oracle-side mirror of LinearProbe.mse6 incl. its overflow guard
    * (ADVICE r12): Spark's floor(double)→BIGINT saturates at 2⁶³
    * while DuckDB's floor stays DOUBLE, so both engines skip the
    * rounding entirely once |mse| ≥ 9.2e12 (or is non-finite — NaN
    * compares false under < on both engines) and surface the raw
    * identical-bits double instead.
    */
  private def mse6Sql(e: String): String =
    s"(CASE WHEN abs($e) < 9.2e12 THEN " +
      s"floor(($e) * 1000000.0 + 0.5) / 1000000.0 ELSE ($e) END)"

  private def linearProbeOracle: String = {
    val d = ProbeWeightNames.size
    val fCols = probeFeatsSql.zipWithIndex
      .map { case (e, i) => s"$e AS f$i" }.mkString(",\n    ")
    def mseExpr = {
      val wAw = (0 until d).map(j => s"w$j*(${probeDot(j)})").mkString(" + ")
      val wb = (0 until d).map(j => s"w$j*b$j").mkString(" + ")
      s"(($wAw) - 2*($wb) + syy) / n"
    }
    val arms = (0 to ProbeSteps).map { t =>
      // DECIMAL(18,8)→6 guard mirroring LinearProbe.fit (ADVICE r9)
      val ws = ProbeWeightNames.zipWithIndex
        .map { case (nm, j) =>
          s"CAST(round(CAST(w$j AS DECIMAL(18,8)), 6) AS DOUBLE) AS $nm" }
        .mkString(", ")
      s"SELECT $t::BIGINT AS step, $ws, ${mse6Sql(mseExpr)} AS mse FROM s$t"
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT
       |    $fCols,
       |    $probeLabelSql AS y
       |  FROM documents),
       |${probeGdCtes("f")}
       |$arms
       |ORDER BY step""".stripMargin
  }

  /** Ridge-path oracle: one prefix-namespaced unrolled GD chain per λ
    * over ONE shared feature CTE, final-step weights + unpenalized MSE
    * per chain — generated from the same RidgeLambdas grid as the
    * Spark side.
    */
  private def probeRidgeOracle: String = {
    val d = ProbeWeightNames.size
    val fCols = probeFeatsSql.zipWithIndex
      .map { case (e, i) => s"$e AS f$i" }.mkString(",\n    ")
    def mseExpr = {
      val wAw = (0 until d).map(j => s"w$j*(${probeDot(j)})").mkString(" + ")
      val wb = (0 until d).map(j => s"w$j*b$j").mkString(" + ")
      s"(($wAw) - 2*($wb) + syy) / n"
    }
    val chains = RidgeLambdas.zipWithIndex
      .map { case (lam, i) => probeGdCtes("f", lam, s"l$i") }.mkString(",\n")
    val arms = RidgeLambdas.zipWithIndex.map { case (lam, i) =>
      val ws = ProbeWeightNames.zipWithIndex
        .map { case (nm, j) =>
          s"CAST(round(CAST(w$j AS DECIMAL(18,8)), 6) AS DOUBLE) AS $nm" }
        .mkString(", ")
      s"SELECT $lam::DOUBLE AS lambda, $ws, ${mse6Sql(mseExpr)} AS mse " +
        s"FROM l${i}s$ProbeSteps"
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS MATERIALIZED (
       |  SELECT
       |    $fCols,
       |    $probeLabelSql AS y
       |  FROM documents),
       |$chains
       |$arms
       |ORDER BY lambda""".stripMargin
  }

  /** Closed-form ridge oracle: the moments aggregate, then per λ an
    * UNROLLED Gaussian elimination (4 stage CTEs, no pivoting — safe
    * because A + nλI is positive definite, see
    * LinearProbe.gaussSolve) and a back-substitution CTE chain, all
    * 1-row and MATERIALIZED per the standing unrolled-oracle rule
    * (each stage references the previous ~4× per entry — inlining
    * would re-expand the expression tree exponentially). Every
    * update is spelled `mIJ - (mIK / mKK) * mKJ` and every
    * back-substitution as a left-associated subtraction chain — the
    * exact IEEE shapes the driver solve evaluates, so the weights
    * match bit-for-bit before the DECIMAL(18,8)→6 guard.
    */
  private def probeRidgeExactOracle: String = {
    val d = ProbeWeightNames.size
    val fCols = probeFeatsSql.zipWithIndex
      .map { case (e, i) => s"$e AS f$i" }.mkString(",\n    ")
    def aN(i: Int, j: Int) = if (i <= j) s"a$i$j" else s"a$j$i"
    def chain(lamIdx: Int, lam: Double): String = {
      val p = s"e$lamIdx"
      val g0Cols = ((for (i <- 0 until d; j <- 0 until d) yield {
        val base = aN(i, j)
        val e =
          if (i == j && lam != 0.0) s"$base + n * $lam::DOUBLE" else base
        s"$e AS m$i$j"
      }) ++ (0 until d).map(j => s"b$j AS r$j")).mkString(",\n    ")
      val stages = (0 until d - 1).map { k =>
        val cols = ((for (i <- 0 until d; j <- 0 until d) yield {
          if (i <= k || j < k) s"m$i$j"
          else s"m$i$j - (m$i$k / m$k$k) * m$k$j AS m$i$j"
        }) ++ (0 until d).map { i =>
          if (i <= k) s"r$i"
          else s"r$i - (m$i$k / m$k$k) * r$k AS r$i"
        }).mkString(",\n    ")
        s"""${p}g${k + 1} AS MATERIALIZED (
           |  SELECT $cols
           |  FROM ${p}g$k)""".stripMargin
      }
      val backs = (d - 1 to 0 by -1).map { j =>
        val src = if (j == d - 1) s"${p}g${d - 1}" else s"${p}w${j + 1}"
        val num = ((j + 1) until d)
          .foldLeft(s"r$j")((acc, k) => s"$acc - m$j$k * w$k")
        s"""${p}w$j AS MATERIALIZED (
           |  SELECT *, ($num) / m$j$j AS w$j FROM $src)""".stripMargin
      }
      (s"""${p}g0 AS MATERIALIZED (
         |  SELECT $g0Cols
         |  FROM m)""".stripMargin +: stages) ++ backs
    }.mkString(",\n")
    def mseExpr = {
      val wAw = (0 until d).map(j => s"w$j*(${probeDot(j)})").mkString(" + ")
      val wb = (0 until d).map(j => s"w$j*b$j").mkString(" + ")
      s"(($wAw) - 2*($wb) + syy) / n"
    }
    val chains = RidgeLambdas.zipWithIndex
      .map { case (lam, i) => chain(i, lam) }.mkString(",\n")
    val arms = RidgeLambdas.zipWithIndex.map { case (lam, i) =>
      val ws = ProbeWeightNames.zipWithIndex
        .map { case (nm, j) =>
          s"CAST(round(CAST(w$j AS DECIMAL(18,8)), 6) AS DOUBLE) AS $nm" }
        .mkString(", ")
      s"SELECT $lam::DOUBLE AS lambda, $ws, ${mse6Sql(mseExpr)} AS mse " +
        s"FROM e${i}w0, m"
    }.mkString("\nUNION ALL\n")
    val mAggs = (
      Seq("COUNT(*)::DOUBLE AS n") ++
        (for (j <- 0 until d; k <- j until d)
          yield s"SUM(f$j*f$k)::DECIMAL(38,6)::DOUBLE AS a$j$k") ++
        (0 until d).map(j => s"SUM(f$j*y)::DECIMAL(38,6)::DOUBLE AS b$j") :+
        "SUM(y*y)::DECIMAL(38,6)::DOUBLE AS syy").mkString(",\n    ")
    s"""WITH f AS MATERIALIZED (
       |  SELECT
       |    $fCols,
       |    $probeLabelSql AS y
       |  FROM documents),
       |m AS MATERIALIZED (
       |  SELECT
       |    $mAggs
       |  FROM f),
       |$chains
       |$arms
       |ORDER BY lambda""".stripMargin
  }

  /** Holdout oracle: train the probe on the even-doc_id split (the
    * identical GD chain), score the odd split with the RAW step-N
    * weights, roll up per source.
    */
  private def probeHoldoutOracle: String = {
    val d = ProbeWeightNames.size
    val fCols = probeFeatsSql.zipWithIndex
      .map { case (e, i) => s"$e AS f$i" }.mkString(",\n    ")
    val predExpr = (0 until d).map(j => s"f$j::DOUBLE*w$j").mkString(" + ")
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    $fCols,
       |    $probeLabelSql AS y
       |  FROM documents),
       |tr AS (SELECT * FROM f WHERE doc_id % 2 = 0),
       |${probeGdCtes("tr")},
       |te AS (SELECT * FROM f WHERE doc_id % 2 = 1),
       |pred AS (
       |  SELECT te.source, ($predExpr) AS p, te.y::DOUBLE AS yd
       |  FROM te, s$ProbeSteps),
       |scored AS (
       |  SELECT source,
       |    CAST(round(((p - yd)*(p - yd))::DECIMAL(18,8), 6)
       |      AS DECIMAL(18,6)) AS sq,
       |    CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END) = yd
       |      THEN 1 ELSE 0 END AS correct
       |  FROM pred)
       |SELECT source, COUNT(*) AS n_test,
       |  CAST(round((SUM(sq)::DOUBLE / COUNT(*)::DOUBLE)::DECIMAL(18,8), 6)
       |    AS DOUBLE) AS mse,
       |  SUM(correct)::BIGINT AS n_correct,
       |  CAST(round((SUM(correct)::DOUBLE / COUNT(*)::DOUBLE)
       |    ::DECIMAL(18,8), 6) AS DOUBLE) AS accuracy
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  /** (doc_id, source, reward) — the 6-decimal quality score, shared by
    * the reward queries' oracles (mirrors Text.qualityScore exactly).
    */
  private[graft] lazy val QualityBySourceSql: String =
    s"""SELECT doc_id, source, round(
    |  (CASE WHEN nw >= 20 AND nw <= 100000 THEN 1.0 ELSE 0.0 END) * 0.3
    |  + (CASE WHEN (len - (nw - 1)) / nw >= 3 AND (len - (nw - 1)) / nw <= 12 THEN 1.0 ELSE 0.0 END) * 0.2
    |  + (CASE WHEN np / len <= 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
    |  + least(sw / nw * 5.0, 1.0) * 0.3, 6) AS reward
    |FROM (SELECT doc_id, source,
    |    len(string_split(text, ' '))::DOUBLE AS nw,
    |    length(text)::DOUBLE AS len,
    |    (length(text) - length(regexp_replace(text, '$punctSql', '', 'g')))::DOUBLE AS np,
    |    len(list_filter(string_split(lower(text), ' '), w -> w IN ($swAll)))::DOUBLE AS sw
    |  FROM documents) t""".stripMargin
}
