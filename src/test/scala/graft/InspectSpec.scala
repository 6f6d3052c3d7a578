package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class InspectSpec extends SparkSpec {

  test("profile splits every job of a run into builder and execute phases") {
    val Seq(p) = Inspect.profile(spark, sfDir, Seq("quantile_multi_report"))
    assert(p.jobs("builder") > 0, s"the query's builder starts jobs: $p")
    assert(p.jobs("builder") + p.jobs("execute") == p.totalJobs, s"$p")
    assert(Inspect.Phases.forall(ph => p.walls(ph) >= 0.0), s"$p")
  }

  test("census rows match the committed PLANS.md rows") {
    val plans = Files.readAllLines(Paths.get("PLANS.md")).asScala
    assert(plans.contains(Inspect.CensusHeader))
    val names = Set("q3_topk_revenue", "judge_agreement")
    // PLANS.md is generated from the sf0.01 tables next to the test tables
    val rows = Inspect.census(spark, Paths.get(sfDir).resolveSibling("sf0.01").toString,
      Queries.all.filter(q => names(q.name)))
    assert(rows.map(_._1).toSet == names)
    rows.foreach { case (name, counts) =>
      assert(counts.isRight, s"$name: $counts")
      val row = Inspect.censusRow(name, counts)
      assert(plans.contains(row), s"PLANS.md lacks $row")
    }
  }
}
