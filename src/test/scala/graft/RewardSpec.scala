package graft

import org.apache.spark.sql.functions._
import graft.ops.Reward

/** Reward post-processing: GRPO group-normalized advantages (exact
  * moments, broadcast-join plan, degenerate groups), the rank-statistic
  * pairwise win matrix vs a brute-force O(n²) oracle, and the
  * Bradley–Terry MM fit on planted dominance.
  */
class RewardSpec extends SparkSpec {
  import spark.implicits._

  test("advantage: hand-computed two-group case; broadcast plan; no data shuffle") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), ("b", 5.0)).toDF("g", "r")
    val out = Reward.groupNormalizedAdvantage(df, "g", "r", eps = 1e-4)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val rows = out.select("g", "r", "advantage")
      .as[(String, Double, Double)].collect().toSet
    // group a: mu=2, sigma=sqrt(2/3); A(1) = -1/(sigma+1e-4)
    val sa = math.sqrt(2.0 / 3.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.contains(("a", 1.0, r6(-1.0 / (sa + 1e-4)))))
    assert(rows.contains(("a", 2.0, 0.0)))
    // group b degenerate: sigma=0 -> advantage 0 via eps
    assert(rows.contains(("b", 5.0, 0.0)))
  }

  test("pairwise wins match the brute-force O(n²) count, ties at half") {
    val data = (0 until 60).map { i =>
      (s"g${i % 3}", ((i * 37) % 7).toDouble)
    }
    val wins = Reward.pairwiseWins(data.toDF("g", "r"), "g", "r")
      .as[(String, String, Double)].collect()
      .map { case (a, b, w) => (a, b) -> w }.toMap
    val brute = (for {
      (ga, ra) <- data; (gb, rb) <- data if ga != gb
    } yield ((ga, gb), if (ra > rb) 1.0 else if (ra == rb) 0.5 else 0.0))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(wins == brute)
    // completeness: wins(a,b) + wins(b,a) = n_a * n_b
    val n = data.groupBy(_._1).map { case (g, rs) => g -> rs.size }
    for (a <- n.keys; b <- n.keys if a != b)
      assert(wins((a, b)) + wins((b, a)) == n(a) * n(b).toDouble)
    // the same rows ×4: every comparison count grows 16×, while each
    // join runs over (value, group) counts — bounded by V·G², not n
    val x1 = data.toDF("g", "r")
    val x4 = duplicated(x1, 4)
    def joinRows(df: org.apache.spark.sql.DataFrame) =
      executedOps(Reward.pairwiseWins(df, "g", "r")).collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          j.metrics("numOutputRows").value }.sorted
    assert(joinRows(x1) == joinRows(x4))
    val wins4 = Reward.pairwiseWins(x4, "g", "r")
      .as[(String, String, Double)].collect()
      .map { case (a, b, w) => (a, b) -> w }.toMap
    assert(wins4 == wins.map { case (p, w) => p -> 16 * w })
  }

  test("Bradley-Terry recovers planted dominance and sums to one") {
    // A beats B 9/10, B beats C 9/10, A beats C 10/10
    val wins = Seq(
      ("A", "B", 9.0), ("B", "A", 1.0),
      ("B", "C", 9.0), ("C", "B", 1.0),
      ("A", "C", 10.0), ("C", "A", 0.0))
    val p = Reward.btStrengths(wins, iters = 50).toMap
    assert(p("A") > p("B") && p("B") > p("C"), p.toString)
    assert(math.abs(p.values.sum - 1.0) < 1e-12)
  }

  test("best-of-n uplift is non-negative and mean_best >= mean_reward") {
    val out = SparkEntry.queries("reward_best_of_n")(spark, sfDir)
      .select("mean_reward", "mean_best", "uplift")
      .as[(Double, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (all, best, up) =>
      assert(best >= all, s"best $best < mean $all")
      assert(up >= 0.0)
    }
  }

  test("DPO pairs clear the margin, never self-pair, and chosen beats rejected") {
    val out = SparkEntry.queries("dpo_pairs")(spark, sfDir)
      .select("chosen_id", "rejected_id", "chosen_reward", "rejected_reward",
        "reward_margin")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (c, r, cr, rr, m) =>
      assert(c != r)
      assert(cr - rr >= 0.05 - 1e-9, s"margin violated: $cr vs $rr")
      assert(math.abs(m - BigDecimal(cr - rr).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }

  test("DoReMi step: weights normalize to one and excess ranks up-weighting") {
    val out = SparkEntry.queries("mix_doremi_step")(spark, sfDir)
      .select("source", "n_tokens", "excess", "weight")
      .as[(String, Long, Double, Double)].collect()
    assert(out.length >= 2)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4)
    // a domain with higher excess loss gets a larger weight-to-token-
    // share ratio (exp is monotone; base weight is the token share)
    val tot = out.map(_._2).sum.toDouble
    val ratioByExcess = out.sortBy(_._3)
      .map(r => r._4 / (r._2 / tot))
    // 1e-4 headroom: weight and raw are 6-decimal rounded, and the
    // ratio divides by token shares ~0.05, amplifying that to ~2e-5
    assert(ratioByExcess.zip(ratioByExcess.tail).forall { case (a, b) => a <= b + 1e-4 },
      ratioByExcess.mkString(", "))
  }

  test("BT fixed-iteration fit is deterministic and monotone in wins") {
    val base = Seq(("A", "B", 7.0), ("B", "A", 3.0))
    assert(Reward.btStrengths(base, 10) == Reward.btStrengths(base, 10))
    val p1 = Reward.btStrengths(base, 10).toMap
    val p2 = Reward.btStrengths(Seq(("A", "B", 9.0), ("B", "A", 1.0)), 10).toMap
    assert(p2("A") > p1("A"))
  }
}
