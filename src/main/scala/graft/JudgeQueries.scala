package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** LLM-as-a-judge queries (reference §3.3,
  * apps/llm_as_a_judge/eval_with_facts.py): a judge panel scores
  * generated text against source text, then a real SQL aggregation
  * (A5, eval_with_facts.py:22-81) computes the metric report. The
  * metric SQL text is shared verbatim between Spark and the DuckDB
  * oracle — it is plain ANSI (CTEs, CASE, CAST, ROLLUP).
  */
object JudgeQueries {

  private val Template =
    "Is the claim supported by the document?\n# Document\n__SRC__\n# Claim\n__GEN__"

  private val JudgeModels = Seq("judge-a", "judge-b")
  private val judges: Seq[LlmClient] = JudgeModels.map(MockJudgeClient(_))
  // three-rater panel for the Fleiss generalization
  private val FleissModels = Seq("judge-a", "judge-b", "judge-c")

  /** Judge-input frame derived deterministically from documents:
    * every 20th doc generates "N/A" (exercises the cleaned-CASE
    * default-1.0 branch of the metric SQL).
    */
  private def judgeInput(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.load(s, dir, "documents")
    d.select(
      col("doc_id"),
      col("source").as("name"),
      col("text").as("src_text"),
      when(col("doc_id") % 20 === 0, lit("N/A"))
        .otherwise(substring(col("text"), 1, 80)).as("gen_text"))
  }

  private val judgeInputSql =
    """SELECT doc_id, source AS name, text AS src_text,
      | CASE WHEN doc_id % 20 = 0 THEN 'N/A' ELSE substring(text, 1, 80) END AS gen_text
      |FROM documents""".stripMargin

  /** Filled prompt as SQL (mirror of Judge.fillTemplate). */
  private val promptSql =
    "replace(replace('Is the claim supported by the document?' || chr(10) ||" +
      " '# Document' || chr(10) || '__SRC__' || chr(10) ||" +
      " '# Claim' || chr(10) || '__GEN__', '__SRC__', src_text), '__GEN__', gen_text)"

  private val factualitySql = {
    val scores = JudgeModels.map(m => MockJudgeClient.scoreSql(m, "prompt"))
    s"(${scores.mkString(" + ")}) / ${JudgeModels.size}"
  }

  /** A5 — the metric aggregation (shape of eval_with_facts.py:22-81):
    * per-row cleaned factuality (rows with empty/N-A gen default to
    * 1.0), pass-rate at 0.5, aggregated globally and per name via
    * ROLLUP. Shared verbatim by Spark and DuckDB over a `judged`
    * relation (name, src_text, gen_text, factuality).
    */
  val MetricsSql: String =
    """WITH cleaned AS (
      |  SELECT name,
      |    CASE WHEN gen_text <> 'N/A' AND src_text <> ''
      |         THEN factuality ELSE 1.0 END AS factuality
      |  FROM judged),
      |scored AS (
      |  SELECT name, factuality,
      |    CAST(factuality >= 0.5 AS INT) AS ok
      |  FROM cleaned)
      |SELECT name,
      |  CAST(round(CAST(sum(CAST(factuality AS DECIMAL(18,6))) / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS factuality_mean,
      |  min(factuality) AS factuality_min,
      |  max(factuality) AS factuality_max,
      |  CAST(round(CAST(sum(ok) * 1.0 / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS ok_rate,
      |  count(*) AS n
      |FROM scored
      |GROUP BY ROLLUP(name)
      |ORDER BY name NULLS FIRST""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // L5 — judge panel scores per row (template fill → judge calls →
    // label parse → score map → panel average), through the real
    // mapPartitions operator.
    QueryDef("judge_scores",
      (s, dir) => {
        val in = judgeInput(s, dir)
        Judge.scoreWith(in, Template,
            Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
            judges, Judge.score, "factuality")
          .select(col("doc_id"), col("name"), col("factuality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, name, $promptSql AS prompt FROM j)
        |SELECT doc_id, name, $factualitySql AS factuality
        |FROM p ORDER BY doc_id""".stripMargin)),

    // L5 (second rubric) — eligibility panel with the {1.0, 0.25, 0.0}
    // score map through the generalized scoreWith operator.
    QueryDef("judge_eligibility",
      (s, dir) => {
        val in = judgeInput(s, dir)
        Judge.scoreWith(in, Template,
            Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
            JudgeModels.map(MockEligibilityJudge(_)),
            Judge.eligibilityScore, "eligibility")
          .select(col("doc_id"), col("name"), col("eligibility"))
          .orderBy(col("doc_id"))
      },
      Some {
        val scores = JudgeModels.map(m => MockEligibilityJudge.scoreSql(m, "prompt"))
        s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, name, $promptSql AS prompt FROM j)
        |SELECT doc_id, name, (${scores.mkString(" + ")}) / ${JudgeModels.size} AS eligibility
        |FROM p ORDER BY doc_id""".stripMargin
      }),

    // A5 (eligibility) — grouped rubric report: mean/min/max + pass
    // rate via ROLLUP, same shape as the factuality report.
    QueryDef("judge_eligibility_metrics",
      (s, dir) => {
        val in = judgeInput(s, dir)
        Judge.scoreWith(in, Template,
            Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
            JudgeModels.map(MockEligibilityJudge(_)),
            Judge.eligibilityScore, "eligibility")
          .createOrReplaceTempView("judged_elig")
        s.sql("""SELECT name,
          |  CAST(round(CAST(sum(CAST(eligibility AS DECIMAL(18,6))) / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS elig_mean,
          |  min(eligibility) AS elig_min,
          |  max(eligibility) AS elig_max,
          |  CAST(round(CAST(sum(CAST(eligibility >= 0.5 AS INT)) * 1.0 / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS elig_rate,
          |  count(*) AS n
          |FROM judged_elig
          |GROUP BY ROLLUP(name)
          |ORDER BY name NULLS FIRST""".stripMargin)
      },
      Some {
        val scores = JudgeModels.map(m => MockEligibilityJudge.scoreSql(m, "prompt"))
        s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, name, $promptSql AS prompt FROM j),
        |judged_elig AS (
        |  SELECT name, (${scores.mkString(" + ")}) / ${JudgeModels.size} AS eligibility
        |  FROM p)
        |SELECT name,
        |  CAST(round(CAST(sum(CAST(eligibility AS DECIMAL(18,6))) / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS elig_mean,
        |  min(eligibility) AS elig_min,
        |  max(eligibility) AS elig_max,
        |  CAST(round(CAST(sum(CAST(eligibility >= 0.5 AS INT)) * 1.0 / count(*) AS DECIMAL(18,6)), 2) AS DOUBLE) AS elig_rate,
        |  count(*) AS n
        |FROM judged_elig
        |GROUP BY ROLLUP(name)
        |ORDER BY name NULLS FIRST""".stripMargin
      }),

    // A5 — the metrics report over the judged frame, via spark.sql of
    // the shared ANSI text (the reference's one real SQL query).
    QueryDef("judge_metrics",
      (s, dir) => {
        val in = judgeInput(s, dir)
        Judge.scoreWith(in, Template,
            Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
            judges, Judge.score, "factuality")
          .createOrReplaceTempView("judged")
        s.sql(MetricsSql)
      },
      Some(s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, name, src_text, gen_text, $promptSql AS prompt FROM j),
        |judged AS (SELECT name, src_text, gen_text, $factualitySql AS factuality FROM p),
        |${MetricsSql.replaceFirst("WITH ", "")}""".stripMargin)),

    // Inter-rater agreement — Cohen's kappa between the two panel
    // judges' RAW labels (panel averaging hides disagreement; kappa
    // is the "can we trust one judge" statistic). Both sides compute
    // κ from exact contingency counts with one IEEE division each
    // for p_o and p_e, so the doubles match bit-for-bit.
    QueryDef("judge_agreement",
      (s, dir) => {
        val in = judgeInput(s, dir)
        val labeled = Judge.panelLabels(in, Template,
          Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
          judges, Seq("label_a", "label_b"))
        Judge.kappaReport(labeled, "label_a", "label_b")
      },
      Some {
        val la = MockJudgeClient.labelSql(JudgeModels.head, "prompt")
        val lb = MockJudgeClient.labelSql(JudgeModels.last, "prompt")
        val po = "(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE))"
        val pe = "(CAST(spe AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
        def r6(x: String) =
          s"CAST(round(CAST($x AS DECIMAL(18,8)), 6) AS DOUBLE)"
        s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, $promptSql AS prompt FROM j),
        |l AS (SELECT $la AS la, $lb AS lb FROM p),
        |cells AS (SELECT la, lb, count(*) AS c FROM l GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT) AS agree
        |  FROM cells),
        |ra AS (SELECT la AS k, CAST(sum(c) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT lb AS k, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |spe AS (SELECT coalesce(sum(CAST(ra.ra AS DECIMAL(38,0)) *
        |    CAST(cb.cb AS DECIMAL(38,0))), 0) AS spe
        |  FROM ra JOIN cb USING (k))
        |SELECT n, ${r6(po)} AS po, ${r6(pe)} AS pe,
        |  CASE WHEN $pe < 1.0 THEN ${r6(s"(($po - $pe) / (1.0 - $pe))")} END AS kappa
        |FROM tot CROSS JOIN spe""".stripMargin
      }),

    // Fleiss' kappa over a THREE-judge panel — Cohen's kappa stops at
    // two raters; adding a tie-breaker judge (the standard panel
    // upgrade) needs the multi-rater statistic. Exact integer
    // numerators on both engines (see Judge.fleissReport); one IEEE
    // division each for P̄ and P̄e.
    QueryDef("judge_fleiss_kappa",
      (s, dir) => {
        val in = judgeInput(s, dir)
        val labeled = Judge.panelLabels(in, Template,
          Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
          FleissModels.map(MockJudgeClient(_)),
          Seq("label_a", "label_b", "label_c"))
        Judge.fleissReport(labeled, "doc_id",
          Seq("label_a", "label_b", "label_c"))
      },
      Some {
        val ls = FleissModels.map(m => MockJudgeClient.labelSql(m, "prompt"))
        val m = FleissModels.size
        val pbar = s"((CAST(s2 AS DOUBLE) - CAST(n_items AS DOUBLE) * $m.0) / " +
          s"(CAST(n_items AS DOUBLE) * $m.0 * ${m - 1}.0))"
        val pe = s"(CAST(sck AS DOUBLE) / ((CAST(n_items AS DOUBLE) * $m.0) * " +
          s"(CAST(n_items AS DOUBLE) * $m.0)))"
        def r6(x: String) =
          s"CAST(round(CAST($x AS DECIMAL(18,8)), 6) AS DOUBLE)"
        s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, $promptSql AS prompt FROM j),
        |l AS (SELECT doc_id, ${ls(0)} AS la, ${ls(1)} AS lb, ${ls(2)} AS lc
        |  FROM p),
        |r AS (SELECT doc_id, la AS lab FROM l
        |  UNION ALL SELECT doc_id, lb FROM l
        |  UNION ALL SELECT doc_id, lc FROM l),
        |cells AS (SELECT doc_id, lab, count(*) AS c FROM r GROUP BY 1, 2),
        |it AS (SELECT count(DISTINCT doc_id) AS n_items,
        |  CAST(sum(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
        |    AS DECIMAL(38,0)) AS s2 FROM cells),
        |ckt AS (SELECT lab, CAST(sum(c) AS BIGINT) AS ck FROM cells GROUP BY 1),
        |sck AS (SELECT CAST(coalesce(sum(CAST(ck AS DECIMAL(38,0)) *
        |    CAST(ck AS DECIMAL(38,0))), 0) AS DECIMAL(38,0)) AS sck FROM ckt)
        |SELECT n_items, $m AS n_raters,
        |  ${r6(pbar)} AS pbar, ${r6(pe)} AS pe,
        |  CASE WHEN $pe < 1.0 THEN ${r6(s"(($pbar - $pe) / (1.0 - $pe))")} END
        |    AS kappa
        |FROM it CROSS JOIN sck""".stripMargin
      }),

    // Reward-model calibration against the LLM-judge panel: bin the
    // Spearman rank correlation between the two judges' scores —
    // ORDER agreement, the calibration question kappa can't answer
    // (two judges can label differently yet rank the same docs on
    // top; a reward model only needs the ranking). Exact under the
    // rubric's heavy ties via integer doubled-average-ranks and
    // DECIMAL moments (see Judge.spearmanReport). One corpus pass +
    // two ≤|levels|-row rank frames + one five-moment aggregate.
    QueryDef("judge_spearman",
      (s, dir) => {
        val in = judgeInput(s, dir)
        val labeled = Judge.panelLabels(in, Template,
          Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
          judges, Seq("label_a", "label_b"))
        val sc = labeled.select(
          when(col("label_a") === "supported", 1.0d)
            .when(col("label_a") === "parse_fail", 0.5d)
            .otherwise(0.0d).as("score_a"),
          when(col("label_b") === "supported", 1.0d)
            .when(col("label_b") === "parse_fail", 0.5d)
            .otherwise(0.0d).as("score_b"))
        Judge.spearmanReport(sc, "score_a", "score_b")
      },
      Some {
        val sa = MockJudgeClient.scoreSql(JudgeModels.head, "prompt")
        val sb = MockJudgeClient.scoreSql(JudgeModels.last, "prompt")
        def rankCte(src: String, vc: String, kOut: String, rOut: String) =
          s"""SELECT $vc AS $kOut, 2*(cum - c) + c + 1 AS $rOut FROM (
             |  SELECT $vc, COUNT(*) AS c,
             |    SUM(COUNT(*)) OVER (ORDER BY $vc
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM $src GROUP BY $vc)""".stripMargin
        s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, $promptSql AS prompt FROM j),
        |sc AS MATERIALIZED (SELECT $sa AS va, $sb AS vb FROM p),
        |ra AS (${rankCte("sc", "va", "ka", "ra")}),
        |rb AS (${rankCte("sc", "vb", "kb", "rb")}),
        |m AS (
        |  SELECT COUNT(*)::DECIMAL(38,0) AS n,
        |    SUM(ra::DECIMAL(38,0)) AS sx, SUM(rb::DECIMAL(38,0)) AS sy,
        |    SUM((ra * rb)::DECIMAL(38,0)) AS sxy,
        |    SUM((ra * ra)::DECIMAL(38,0)) AS sxx,
        |    SUM((rb * rb)::DECIMAL(38,0)) AS syy
        |  FROM sc JOIN ra ON sc.va = ra.ka JOIN rb ON sc.vb = rb.kb)
        |SELECT n::BIGINT AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |   THEN CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |     AS DECIMAL(18,8)), 6) AS DOUBLE) END AS rho
        |FROM m""".stripMargin
      }),

    // cheap proxy reward (the 6-decimal quality score) into five
    // fixed-width bins and report the judge panel's mean factuality
    // per bin — the reliability curve that says whether the proxy
    // reward actually tracks judged quality before it gates a
    // training mix. Plan: one corpus pass (the judge mapPartitions
    // operator + a scan-local reward expression), then a ≤5-row
    // aggregate; means are DECIMAL sums (judge scores are exact
    // halves, rewards 6-decimal) so bins hash bit-identical.
    QueryDef("judge_reward_calibration",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val in = judgeInput(s, dir)
        val judged = Judge.scoreWith(in, Template,
          Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
          judges, Judge.score, "factuality")
        val rdec = col("reward").cast(DecimalType(18, 6))
        val jdec = col("factuality").cast(DecimalType(18, 6))
        judged
          .withColumn("reward",
            round(graft.ops.Text.qualityScore(col("src_text")), 6))
          .withColumn("bin",
            least(floor(col("reward") * 5), lit(4)).cast("long"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            round((sum(rdec) / count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean_reward"),
            round((sum(jdec) / count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean_judge"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, $promptSql AS prompt FROM j),
        |js AS (SELECT doc_id, $factualitySql AS factuality FROM p),
        |q AS (${TextQueries.QualityBySourceSql}),
        |b AS (SELECT js.factuality, q.reward,
        |    CAST(least(floor(q.reward * 5), 4) AS BIGINT) AS bin
        |  FROM js JOIN q USING (doc_id))
        |SELECT bin, count(*) AS n_docs,
        |  CAST(round(CAST(sum(CAST(reward AS DECIMAL(18,6))) / count(*)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_reward,
        |  CAST(round(CAST(sum(CAST(factuality AS DECIMAL(18,6))) / count(*)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean_judge
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    // Judge length-bias audit: Pearson correlation of the judge
    // panel's score with document length, next to the proxy reward's
    // length correlation — the standard LLM-judge failure mode
    // (verbosity bias) caught BEFORE the judge gates a training mix,
    // and the comparison that says whether the cheap reward is more
    // or less length-confounded than the panel. One corpus pass into
    // a single-row moment aggregate. Determinism: Pearson is
    // scale-invariant, so every input is first scaled to an EXACT
    // integer (length already is; judge panel scores are quarters,
    // ×4; reward is 6-decimal, ×10⁶), products stay in BIGINT, and
    // the moment sums run in DECIMAL(38,0) — a DECIMAL(38,s) ×
    // DECIMAL(38,s) product would overflow 38 digits and each engine
    // degrades precision differently (measured: a last-ulp corr
    // divergence). The final double formula then sees identical
    // exact inputs in both engines.
    QueryDef("judge_length_bias",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val in = judgeInput(s, dir)
        val judged = Judge.scoreWith(in, Template,
          Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
          judges, Judge.score, "factuality")
          .withColumn("len", length(col("src_text")).cast("long"))
          .withColumn("j4", round(col("factuality") * 4, 0).cast("long"))
          .withColumn("r6", round(
            round(graft.ops.Text.qualityScore(col("src_text")), 6) * 1e6, 0)
            .cast("long"))
        def dsum(c: org.apache.spark.sql.Column) =
          sum(c.cast(DecimalType(38, 0)))
        val m = judged.agg(
          count(lit(1)).as("n"),
          dsum(col("len")).as("sx"),
          dsum(col("len") * col("len")).as("sxx"),
          dsum(col("j4")).as("sj"),
          dsum(col("j4") * col("j4")).as("sjj"),
          dsum(col("len") * col("j4")).as("sxj"),
          dsum(col("r6")).as("sr"),
          dsum(col("r6") * col("r6")).as("srr"),
          dsum(col("len") * col("r6")).as("sxr"))
        def corr(sy: String, syy: String, sxy: String) = {
          val n = col("n").cast("double")
          val sx = col("sx").cast("double")
          val num = n * col(sxy).cast("double") - sx * col(sy).cast("double")
          val den = sqrt(n * col("sxx").cast("double") - sx * sx) *
            sqrt(n * col(syy).cast("double")
              - col(sy).cast("double") * col(sy).cast("double"))
          round(num / den, 6)
        }
        m.select(col("n"),
          corr("sj", "sjj", "sxj").as("corr_len_judge"),
          corr("sr", "srr", "sxr").as("corr_len_reward"))
      },
      Some(s"""WITH j AS ($judgeInputSql),
        |p AS (SELECT doc_id, $promptSql AS prompt,
        |    length(src_text)::BIGINT AS len FROM j),
        |js AS (SELECT doc_id, len, $factualitySql AS factuality FROM p),
        |q AS (${TextQueries.QualityBySourceSql}),
        |b AS (SELECT js.len,
        |    CAST(round(js.factuality * 4, 0) AS BIGINT) AS j4,
        |    CAST(round(q.reward * 1e6, 0) AS BIGINT) AS r6
        |  FROM js JOIN q USING (doc_id)),
        |m AS (SELECT count(*) AS n,
        |    SUM(CAST(len AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(len * len AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(j4 AS DECIMAL(38,0))) AS sj,
        |    SUM(CAST(j4 * j4 AS DECIMAL(38,0))) AS sjj,
        |    SUM(CAST(len * j4 AS DECIMAL(38,0))) AS sxj,
        |    SUM(CAST(r6 AS DECIMAL(38,0))) AS sr,
        |    SUM(CAST(r6 * r6 AS DECIMAL(38,0))) AS srr,
        |    SUM(CAST(len * r6 AS DECIMAL(38,0))) AS sxr
        |  FROM b)
        |SELECT n,
        |  round((n::DOUBLE * sxj::DOUBLE - sx::DOUBLE * sj::DOUBLE)
        |    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |     * sqrt(n::DOUBLE * sjj::DOUBLE - sj::DOUBLE * sj::DOUBLE)), 6)
        |    AS corr_len_judge,
        |  round((n::DOUBLE * sxr::DOUBLE - sx::DOUBLE * sr::DOUBLE)
        |    / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |     * sqrt(n::DOUBLE * srr::DOUBLE - sr::DOUBLE * sr::DOUBLE)), 6)
        |    AS corr_len_reward
        |FROM m""".stripMargin))
  )
}
