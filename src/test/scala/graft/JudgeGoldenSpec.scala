package graft

import graft.pipeline._

/** Golden judge-evaluation corpus, porting the shape of the
  * reference's hand-built eval cases with ground-truth labels
  * (apps/llm_as_a_judge/etl_eval_cases_gen.py:171-183: 11 cases with
  * gt_factuality, tolerance-checked at eval_with_facts.py:659-664:
  * |score - gt| ≤ 0.15).
  *
  * The panel here is a deterministic rule-based judge (claim must
  * appear verbatim in the document) rather than an LLM, so the golden
  * labels are meaningful offline; the operator surface exercised —
  * template fill, panel fan-out, label parse, score map, average —
  * is identical to production.
  */
/** Rule-based judge: parses the filled template back into document
  * and claim, labels "supported" iff the claim occurs in the
  * document. One panel member answers in fenced JSON to exercise
  * the cleanup path. Top-level: judge clients ship to executors and
  * must not capture the test suite.
  */
final case class RuleJudge(fenced: Boolean) extends LlmClient {
  override def cacheId = s"rule-judge-$fenced"
  override def complete(msgs: Seq[ChatMessage], attempt: Int): LlmResponse = {
    val user = msgs.reverse.find(_.role == "user").map(_.content).getOrElse("")
    val doc = user.split("# Document\n", 2).last.split("\n# Claim\n", 2).head
    val claim = user.split("\n# Claim\n", 2).last
    val label = if (doc.contains(claim)) "supported" else "unsupported"
    val json = s"""{"label": "$label"}"""
    LlmResponse(if (fenced) s"```json\n$json\n```" else json, "stop")
  }
}

/** Always answers "unsupported" — panel-disagreement fixture. */
final case class ContrarianJudge() extends LlmClient {
  override def cacheId = "contrarian"
  override def complete(m: Seq[ChatMessage], a: Int) =
    LlmResponse("""{"label": "unsupported"}""", "stop")
}

class JudgeGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val Template =
    "Is the claim supported by the document?\n# Document\n__SRC__\n# Claim\n__GEN__"

  // (name, document, claim, gt_factuality) — supported facts, fabricated
  // values, paraphrase traps (verbatim rule marks them unsupported),
  // stale-reading traps in the spirit of the reference's temporal case.
  private val cases = Seq(
    ("c01", "heart rate 72 bpm measured at 2024-05-01 09:00", "heart rate 72 bpm", 1.0),
    ("c02", "heart rate 72 bpm measured at 2024-05-01 09:00", "heart rate 88 bpm", 0.0),
    ("c03", "blood pressure 120/80, temperature 36.6 C", "temperature 36.6 C", 1.0),
    ("c04", "blood pressure 120/80, temperature 36.6 C", "temperature 39.1 C", 0.0),
    ("c05", "patient reports mild headache since Tuesday", "patient reports mild headache", 1.0),
    ("c06", "patient reports mild headache since Tuesday", "patient reports severe migraine", 0.0),
    ("c07", "lab glucose 5.4 mmol/L fasting", "lab glucose 5.4 mmol/L", 1.0),
    ("c08", "lab glucose 5.4 mmol/L fasting", "lab glucose 9.9 mmol/L", 0.0),
    ("c09", "prescribed amoxicillin 500mg three times daily", "prescribed amoxicillin 500mg", 1.0),
    ("c10", "prescribed amoxicillin 500mg three times daily", "prescribed ibuprofen 400mg", 0.0),
    ("c11", "weight 70 kg at 2024-01-01; weight 68 kg at 2024-06-01", "weight 68 kg", 1.0))

  test("golden cases: panel factuality within ±0.15 of ground truth") {
    val judged = Judge.judgeScores(
      cases.map(c => (c._1, c._2, c._3)).toDF("name", "src_text", "gen_text"),
      Template, Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
      Seq(RuleJudge(false), RuleJudge(true)), "factuality")
    val scores = judged.select("name", "factuality")
      .as[(String, Double)].collect().toMap
    for ((name, _, _, gt) <- cases)
      assert(math.abs(scores(name) - gt) <= 0.15,
        s"$name: got ${scores(name)}, want ~$gt")
  }

  test("disagreeing panel averages to 0.5 band") {
    val judged = Judge.judgeScores(
      Seq(("x", "fact one", "fact one")).toDF("name", "src_text", "gen_text"),
      Template, Map("__SRC__" -> "src_text", "__GEN__" -> "gen_text"),
      Seq(RuleJudge(false), ContrarianJudge()), "factuality")
    assert(judged.select("factuality").as[Double].head() == 0.5)
  }

  test("kappaReport matches the textbook worked example") {
    // Classic 2x2: a=20 yes/yes, d=15 no/no, b=5, c=10 → po=0.7,
    // pe = 0.6*0.5 + 0.4*0.5 = 0.5, kappa = 0.4
    val rows = Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
      Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val out = Judge.kappaReport(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(out == ((50L, 0.7, 0.5, Some(0.4))))
  }

  test("kappaReport: perfect agreement is 1; constant raters yield NULL kappa") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("z", "z")).toDF("a", "b")
    val p = Judge.kappaReport(perfect, "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(p._2 == 1.0 && p._4.contains(1.0))
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val c = Judge.kappaReport(const, "a", "b")
      .as[(Long, Double, Double, Option[Double])].head()
    assert(c._2 == 1.0 && c._3 == 1.0 && c._4.isEmpty)
  }

  test("kappaReport and fleissReport leave no cached frame behind") {
    spark.catalog.clearCache()
    val rows = Seq((1L, "x", "x", "y"), (2L, "y", "x", "y"), (3L, "y", "y", "y"))
      .toDF("doc_id", "a", "b", "c")
    Judge.kappaReport(rows, "a", "b").collect()
    Judge.fleissReport(rows, "doc_id", Seq("a", "b", "c")).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("spearmanReport: monotone ties give 1, reversal gives -1, " +
    "constant side gives NULL, textbook tied example matches") {
    val mono = Seq((0.0, 0.0), (0.5, 0.5), (0.5, 0.5), (1.0, 1.0))
      .toDF("a", "b")
    assert(Judge.spearmanReport(mono, "a", "b")
      .as[(Long, Option[Double])].head() == ((4L, Some(1.0))))
    val rev = Seq((0.0, 1.0), (0.5, 0.5), (0.5, 0.5), (1.0, 0.0))
      .toDF("a", "b")
    assert(Judge.spearmanReport(rev, "a", "b")
      .as[(Long, Option[Double])].head() == ((4L, Some(-1.0))))
    val const = Seq((1.0, 0.0), (1.0, 0.5), (1.0, 1.0)).toDF("a", "b")
    assert(Judge.spearmanReport(const, "a", "b")
      .as[(Long, Option[Double])].head()._2.isEmpty)
    // Hand-worked tied case: a = (1,2,2,3), b = (1,3,3,2).
    // Doubled avg ranks: Ra = (2,5,5,8); Rb = (2,7,7,4).
    // Pearson over these: n=4, sx=sy=20, sxy=106, sxx=syy=118
    // → num = 4·106 − 400 = 24, vx = vy = 4·118 − 400 = 72
    // → ρ = 24/72 = 1/3
    val tied = Seq((1.0, 1.0), (2.0, 3.0), (2.0, 3.0), (3.0, 2.0))
      .toDF("a", "b")
    val got = Judge.spearmanReport(tied, "a", "b")
      .as[(Long, Option[Double])].head()
    assert(got._1 == 4L && math.abs(got._2.get - 1.0 / 3.0) < 1e-6,
      s"tied rho: $got")
  }
}
