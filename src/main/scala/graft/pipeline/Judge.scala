package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import graft.ops.Stage.StagedFrame

/** LLM-as-a-judge operator (reference FactsMetrics,
  * apps/llm_as_a_judge/eval_with_facts.py:400-546): per row, fill a
  * prompt template, call each judge model, parse the JSON label,
  * map to a score, and average across the judge panel.
  *
  * Scores (eval_with_facts.py:449-461): supported → 1.0,
  * unsupported → 0.0, unparseable response → 0.5.
  */
object Judge {

  val Supported = 1.0
  val Unsupported = 0.0
  val ParseFail = 0.5

  /** F2 — placeholder substitution (reference __CONTEXT__-style
    * templating, eval_with_facts.py:534-542).
    */
  def fillTemplate(template: String, vars: Map[String, String]): String =
    vars.foldLeft(template) { case (t, (k, v)) => t.replace(k, v) }

  /** F4 — strip ```json fences and DeepSeek-style think-tags before
    * parsing (reference llm_json_clean, eval_with_facts.py:558-561).
    */
  def cleanJson(resp: String): String = {
    // limit -1 keeps a trailing empty segment: a response *ending* in
    // "</think>" must parse as empty, not as the think-block content
    val afterThink = resp.split("</think>", -1).last
    afterThink.replaceAll("```json", "").replaceAll("```", "").trim
  }

  private val LabelRe = """"label"\s*:\s*"([A-Za-z_]+)"""".r

  /** Parse the judge's label; None on parse failure. */
  def parseLabel(resp: String): Option[String] =
    LabelRe.findFirstMatchIn(cleanJson(resp)).map(_.group(1))

  def score(label: Option[String]): Double = label match {
    case Some("supported") => Supported
    case Some(_) => Unsupported
    case None => ParseFail
  }

  /** Eligibility rubric scoring (reference eval_with_facts.py:481-501:
    * the second judged metric, mapped to {1.0, 0.25, 0.0}; parse
    * failure falls back to 0.5 like factuality).
    */
  def eligibilityScore(label: Option[String]): Double = label match {
    case Some("eligible") => 1.0
    case Some("partially_eligible") => 0.25
    case Some(_) => 0.0
    case None => ParseFail
  }

  /** Judge a DataFrame: fill `template` per row from the given
    * (placeholder → column index) bindings, run every judge, map each
    * label through `scoreFn` and average the panel's scores into a new
    * double column. One concurrent request per judge per row, mirroring
    * the reference's per-metric asyncio.gather across the judge panel
    * (eval_with_facts.py:503-516). The reference judges two metrics
    * with different rubrics: factuality ([[score]]) and eligibility
    * ([[eligibilityScore]]).
    */
  def scoreWith(df: DataFrame, template: String,
                bindings: Map[String, String], judges: Seq[LlmClient],
                scoreFn: Option[String] => Double,
                outCol: String): DataFrame =
    panel(df, template, bindings, judges, df.schema.add(outCol, DoubleType))(
      resp => scoreFn(parseLabel(resp)))(scores => Seq(scores.sum / scores.size))

  /** Per-judge raw LABELS (not the panel average): one string column
    * per judge, parse failures as "parse_fail". The input to
    * agreement analysis — panel averaging hides exactly the
    * disagreement [[kappaReport]] measures.
    */
  def panelLabels(df: DataFrame, template: String,
                  bindings: Map[String, String], judges: Seq[LlmClient],
                  outCols: Seq[String]): DataFrame = {
    require(outCols.size == judges.size, "one output column per judge")
    panel(df, template, bindings, judges,
        outCols.foldLeft(df.schema)((s, c) => s.add(c, StringType)))(
      resp => parseLabel(resp).getOrElse("parse_fail"))(labels => labels)
  }

  /** One call unit per judge per row: the filled template as the only
    * user message, each response read by `read`; `cols` turns the
    * judges' results (in judge order) into the appended columns.
    */
  private def panel[U](df: DataFrame, template: String,
                       bindings: Map[String, String], judges: Seq[LlmClient],
                       outSchema: StructType)(read: String => U)(
      cols: Seq[U] => Seq[Any]): DataFrame = {
    val idx = bindings.map { case (ph, c) => ph -> df.schema.fieldIndex(c) }
    LlmClient.perRow(df, Encoders.row(outSchema)) { row =>
      val vars = idx.map { case (ph, i) => ph -> String.valueOf(row.get(i)) }
      val msgs = Seq(ChatMessage("user", fillTemplate(template, vars)))
      judges.map(j => () => read(j.run(msgs)))
    }((row, outs) => Seq(Row.fromSeq(row.toSeq ++ cols(outs))))
  }

  /** Cohen's kappa between two categorical annotator columns — the
    * standard chance-corrected inter-rater agreement behind "can we
    * trust this judge panel": κ = (p_o − p_e)/(1 − p_e) with p_o the
    * observed agreement rate and p_e = Σ_c p_a(c)·p_b(c) the
    * agreement two independent raters with the same marginals would
    * reach by luck. One row out: n, po, pe, kappa.
    *
    * Scale shape: ONE shuffle builds the (a, b) contingency table —
    * at most k² cells for k categories — which is re-aggregated three
    * ways (totals, row marginals, column marginals). The table is
    * staged with a lazy `stageCheckpoint`, not a persist the caller
    * could never free: the three consumers' exchanges are not reused
    * (the join legs push an inferred not-null filter below the
    * aggregate), so without it each re-ran the judge calls. The corpus
    * is scanned exactly once however many categories exist. The
    * marginal product sums as DECIMAL(38,0) (n² overflows BIGINT past
    * ~3·10⁹ rows); the final ratios are single IEEE divisions of exact
    * integers in a fixed expression shape, so any engine reproduces
    * them bit-for-bit.
    * κ is NULL when p_e = 1 (both raters constant — agreement is
    * vacuous and the statistic is undefined).
    */
  def kappaReport(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c")).stageCheckpoint(false)
    val tot = cells.agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("__agree"))
    val ra = cells.groupBy(col("__a").as("__k"))
      .agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b").as("__k"))
      .agg(sum(col("__c")).as("__cb"))
    val spe = ra.join(cb, "__k")
      .agg(coalesce(sum(col("__ra").cast(dec38) * col("__cb").cast(dec38)),
        lit(0).cast(dec38)).as("__spe"))
    val po = col("__agree").cast("double") / col("n").cast("double")
    val pe = col("__spe").cast("double") /
      (col("n").cast("double") * col("n").cast("double"))
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(dec), 6).cast("double")
    tot.crossJoin(broadcast(spe))
      .select(col("n"), r6(po).as("po"), r6(pe).as("pe"),
        when(pe < 1.0d, r6((po - pe) / (lit(1.0d) - pe))).as("kappa"))
  }

  /** Spearman rank correlation between two numeric score columns —
    * the ORDER-agreement complement to kappa's label agreement
    * (judges can disagree on absolute scores yet rank the same docs
    * highest; panel calibration reads this, not kappa). Computed the
    * only way that is exact under heavy ties (a 3-level rubric is
    * nothing but ties): AVERAGE (fractional) ranks, carried as the
    * integer R(v) = 2·|{v′ < v}| + |{v′ = v}| + 1 — twice the
    * fractional rank, and Pearson is affine-invariant, so ρ over R
    * equals ρ over the true average ranks while every moment stays
    * an exact integer. Scale shape: one ≤|levels|-row distinct-value
    * frame per side (broadcast back), five DECIMAL(38,0) moment sums
    * in ONE aggregate, one final IEEE formula — the
    * events_corr_value_hour recipe applied to ranks. ρ is NULL when
    * either side is constant (zero rank variance).
    */
  def spearmanReport(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    def ranked(c: String, vOut: String, rOut: String): DataFrame = {
      val w = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(w))
        .select(col("__v").as(vOut),
          (lit(2L) * (col("__cum") - col("__c")) + col("__c") + lit(1L))
            .as(rOut))
    }
    val m = df.select(col(aCol).as("__va"), col(bCol).as("__vb"))
      .join(broadcast(ranked(aCol, "__ka", "__ra")),
        col("__va") === col("__ka"))
      .join(broadcast(ranked(bCol, "__kb", "__rb")),
        col("__vb") === col("__kb"))
      .agg(count(lit(1)).cast(dec38).as("n"),
        sum(col("__ra").cast(dec38)).as("sx"),
        sum(col("__rb").cast(dec38)).as("sy"),
        sum((col("__ra") * col("__rb")).cast(dec38)).as("sxy"),
        sum((col("__ra") * col("__ra")).cast(dec38)).as("sxx"),
        sum((col("__rb") * col("__rb")).cast(dec38)).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("n").cast("long").as("n"),
      when(vx > 0.0d && vy > 0.0d,
        round((num / (sqrt(vx) * sqrt(vy))).cast(dec), 6).cast("double"))
        .as("rho"))
  }

  /** Fleiss' kappa for an m-rater panel (Cohen's kappa only handles
    * two raters; a 3+ judge panel needs the multi-rater
    * generalization): with n raters per item and n_ik the count of
    * raters assigning item i to category k,
    * P̄ = (Σ_i Σ_k n_ik² − N·n) / (N·n·(n−1)) and
    * P̄_e = Σ_k (Σ_i n_ik)² / (N·n)², κ = (P̄ − P̄_e)/(1 − P̄_e).
    *
    * Scale shape: one shuffle builds the (item, category) rating
    * counts — at most m rows per item, staged like [[kappaReport]]'s
    * table for its two consumers — then three bounded aggregates.
    * All numerators and denominators are EXACT integers (DECIMAL(38,0)
    * for the squared sums — (N·n)² overflows BIGINT past ~3·10⁹
    * ratings); P̄, P̄_e, and κ are each one IEEE division
    * in a fixed expression shape, so any engine reproduces them
    * bit-for-bit. κ is NULL when P̄_e = 1 (all raters constant).
    */
  def fleissReport(df: DataFrame, idCol: String,
                   labelCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val n = labelCols.size
    val cells = df
      .select(col(idCol).as("__i"),
        explode(array(labelCols.map(col): _*)).as("__l"))
      .groupBy(col("__i"), col("__l"))
      .agg(count(lit(1)).as("__c")).stageCheckpoint(false)
    val items = cells.agg(
      countDistinct(col("__i")).as("n_items"),
      sum((col("__c") * col("__c")).cast(dec38)).as("__s2"))
    val ck = cells.groupBy(col("__l")).agg(sum(col("__c")).as("__ck"))
      .agg(coalesce(sum(col("__ck").cast(dec38) * col("__ck").cast(dec38)),
        lit(0).cast(dec38)).as("__sck"))
    val nn = lit(n.toLong)
    val pbar = (col("__s2").cast("double") -
        col("n_items").cast("double") * nn.cast("double")) /
      (col("n_items").cast("double") * nn.cast("double") *
        lit((n - 1).toDouble))
    val pe = col("__sck").cast("double") /
      ((col("n_items").cast("double") * nn.cast("double")) *
        (col("n_items").cast("double") * nn.cast("double")))
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(dec), 6).cast("double")
    items.crossJoin(broadcast(ck))
      .select(col("n_items"), lit(n).as("n_raters"),
        r6(pbar).as("pbar"), r6(pe).as("pe"),
        when(pe < 1.0d, r6((pbar - pe) / (lit(1.0d) - pe))).as("kappa"))
  }
}

/** Deterministic mock eligibility judge: first hex digit d of
  * sha256(model·\n·prompt): d<6 → "eligible", d<b →
  * "partially_eligible", else "ineligible". SQL mirror in scoreSql.
  */
final case class MockEligibilityJudge(override val model: String) extends LlmClient {

  override def cacheId: String = s"mock-elig:$model"

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    val d = LlmClient.sha256Hex(model + "\n" + user).charAt(0)
    val label =
      if (d < '6') "eligible"
      else if (d < 'b') "partially_eligible"
      else "ineligible"
    LlmResponse(s"""{"label": "$label"}""", "stop")
  }
}

object MockEligibilityJudge {
  /** DuckDB mirror of eligibilityScore(parseLabel(mock(model, p))). */
  def scoreSql(model: String, promptSql: String): String =
    s"""(CASE WHEN substring(sha256('$model' || chr(10) || $promptSql), 1, 1) < '6' THEN 1.0
       | WHEN substring(sha256('$model' || chr(10) || $promptSql), 1, 1) < 'b' THEN 0.25
       | ELSE 0.0 END)""".stripMargin
}

/** Deterministic mock judge: the verdict is a pure function of
  * (model, prompt) — first hex digit d of sha256(model·\n·prompt):
  * d < 8 → clean JSON "supported"; d in [8, f) → fence-wrapped JSON
  * "unsupported" (exercises the json-clean path); d = f → unparseable
  * text (exercises the parse-fail 0.5 path). SQL mirror in
  * MockJudgeClient.scoreSql.
  */
final case class MockJudgeClient(override val model: String) extends LlmClient {

  override def cacheId: String = s"mock-judge:$model"

  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    val d = LlmClient.sha256Hex(model + "\n" + user).charAt(0)
    val content =
      if (d < '8') """{"label": "supported"}"""
      else if (d == 'f') "I cannot judge this."
      else "```json\n{\"label\": \"unsupported\"}\n```"
    LlmResponse(content, "stop")
  }
}

object MockJudgeClient {

  /** DuckDB mirror of parseLabel(mock(model, prompt)) as the raw
    * label string ("parse_fail" for the unparseable d = f branch) —
    * the [[Judge.panelLabels]] counterpart of scoreSql.
    */
  def labelSql(model: String, promptSql: String): String =
    s"""(CASE WHEN substring(sha256('$model' || chr(10) || $promptSql), 1, 1) = 'f'
       |  THEN 'parse_fail'
       | WHEN substring(sha256('$model' || chr(10) || $promptSql), 1, 1) < '8'
       |  THEN 'supported'
       | ELSE 'unsupported' END)""".stripMargin

  /** DuckDB mirror of score(parseLabel(mock(model, prompt))). */
  def scoreSql(model: String, promptSql: String): String =
    s"""(CASE substring(sha256('$model' || chr(10) || $promptSql), 1, 1)
       |  WHEN 'f' THEN 0.5
       |  WHEN '8' THEN 0.0 WHEN '9' THEN 0.0 WHEN 'a' THEN 0.0
       |  WHEN 'b' THEN 0.0 WHEN 'c' THEN 0.0 WHEN 'd' THEN 0.0
       |  WHEN 'e' THEN 0.0
       |  ELSE 1.0 END)""".stripMargin
}
