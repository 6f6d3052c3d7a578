package graft

/** graph_jaccard_links invariants on the corpus: scores are valid
  * Jaccards, predictions are non-edges, and the overlap never exceeds
  * either endpoint's degree. The wedge core it shares with
  * graph_adamic_adar drops hub centers.
  */
class JaccardLinksSpec extends SparkSpec {
  import spark.implicits._

  test("predicted links are non-edges with jaccard in (0, 1]") {
    val rows = SparkEntry.queries("graph_jaccard_links")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (a, b, common, j) =>
      assert(a < b, s"pair not ordered: ($a, $b)")
      assert(common >= 1L)
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
    }
    // ranked descending with deterministic tiebreaks
    rows.sliding(2).foreach { case Array(x, y) =>
      assert(x._4 > y._4 ||
        (x._4 == y._4 && (x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))))
    }
  }

  test("overlap never exceeds either endpoint's independently recomputed degree") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("graph_jaccard_links")(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    // independent degree recomputation straight from lineitem
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"),
        expr("a.ok = b.ok AND a.pk < b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("n")).where(col("n") >= 2)
      .select("src", "dst")
    val deg = edges.select(col("src").as("n")).union(edges.select(col("dst")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (a, b, common, j) =>
      assert(common <= math.min(deg(a), deg(b)),
        s"overlap $common exceeds degrees (${deg(a)}, ${deg(b)}) for ($a, $b)")
      // the reported jaccard equals the definition on recomputed degrees
      val want = BigDecimal(common.toDouble / (deg(a) + deg(b) - common))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(j - want) < 1e-9, s"jaccard $j != $want for ($a, $b)")
    }
  }

  test("a hub above the center cap centers no wedge; wedges grow linearly in spokes") {
    import org.apache.spark.sql.functions._
    // hub 0 fans out to h spokes that also form a ring: each spoke has
    // degree 3 and centers 3 wedges, the hub (degree h > 256) centers
    // none — uncapped it would center h(h−1)/2
    def hub(h: Long) = spark.range(1, h + 1).select(lit(0L).as("src"), col("id").as("dst"))
      .union(spark.range(1, h + 1).select(col("id").as("src"), (col("id") % h + 1).as("dst")))
    for (h <- Seq(300L, 600L))
      assert(AdvancedQueries.cappedWedges(hub(h))._2.count() == 3 * h, s"hub of $h spokes")
  }
}
