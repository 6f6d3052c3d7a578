package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
import graft.ops.{Drift, Quantile, Relational}

/** Round-6 operators: asofJoin, exact quantile bracketing,
  * prioritySample, PSI drift report.
  */
class AsofQuantileDriftSpec extends SparkSpec with IterationContract {
  import spark.implicits._

  // ---- asofJoin -----------------------------------------------------

  private def trades = Seq(
    // (trade_id, sym, t)
    (1L, "A", 100L), (2L, "A", 205L), (3L, "A", 300L),
    (4L, "B", 100L), (5L, "C", 50L)
  ).toDF("trade_id", "sym", "t")

  private def quotes = Seq(
    // (qsym, qt, px, note) — note null at qt=200 on purpose
    ("A", 90L, 10.0, "early"), ("A", 200L, 11.0, null),
    ("A", 300L, 12.0, "exact"), ("B", 400L, 99.0, "late")
  ).toDF("qsym", "qt", "px", "note")

  test("asofJoin picks the latest right row at-or-before each left time") {
    val out = Relational.asofJoin(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("px", "note"))
      .select("trade_id", "asof_time_us", "px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    assert(out(1L) == (Some(90L), Some(10.0)))   // only the 90 quote precedes
    assert(out(2L) == (Some(200L), Some(11.0)))  // 200 < 205, latest wins
    assert(out(3L) == (Some(300L), Some(12.0)))  // equality matches (<=)
    assert(out(4L) == (None, None))              // B's only quote is later
    assert(out(5L) == (None, None))              // C has no quotes at all
  }

  test("asofJoin carries the matched ROW as a unit — a null right value is not backfilled from an older row") {
    // trade 2 matches the qt=200 quote whose note is NULL; per-column
    // ignoreNulls carrying would resurrect "early" from qt=90
    val out = Relational.asofJoin(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("note"))
      .where(col("trade_id") === 2L).select("note")
      .as[Option[String]].head()
    assert(out.isEmpty, s"expected NULL note from the matched row, got $out")
  }

  test("asofJoin tolerance nulls stale matches; inner drops unmatched") {
    val tol = Relational.asofJoin(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("px"), toleranceUs = Some(10L))
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    // staleness: t1=10 (keep), t2=5 (keep), t3=0 (keep)… with tol=5:
    assert(tol(1L).contains(10.0) && tol(2L).contains(11.0) &&
      tol(3L).contains(12.0))
    val tight = Relational.asofJoin(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("px"), toleranceUs = Some(5L))
      .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
    assert(tight(1L).isEmpty && tight(2L).contains(11.0) &&
      tight(3L).contains(12.0))
    val inner = Relational.asofJoin(trades, quotes, "sym", "qsym", "t", "qt",
        Seq("px"), toleranceUs = Some(5L), inner = true)
    assert(inner.select("trade_id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("asofJoin rejects right-value names that collide with left columns") {
    val ex = intercept[IllegalArgumentException](
      Relational.asofJoin(trades, quotes.withColumnRenamed("px", "t"),
        "sym", "qsym", "t", "qt", Seq("t")))
    assert(ex.getMessage.contains("collide"))
  }

  // ---- Quantile -----------------------------------------------------

  test("kthSmallest matches a local sort at every rank (with duplicates)") {
    val xs = Seq(5.0, 1.0, 3.0, 3.0, 3.0, 9.0, 7.0, 1.0, 8.0, 2.0)
    val df = xs.toDF("x")
    val sorted = xs.sorted
    for (k <- 1 to xs.size)
      assert(Quantile.kthSmallest(df, "x", k) == sorted(k - 1), s"rank $k")
  }

  test("histogram bracketing path (tiny directLimit) equals the direct path") {
    // 10k distinct-ish doubles, forced through multiple histogram
    // rounds (directLimit=16, buckets=8) — must equal plain sorting
    val xs = (1 to 10000).map(i => ((i * 2654435761L) % 100003L).toDouble)
    val df = xs.toDF("x")
    val sorted = xs.sorted
    for (k <- Seq(1, 17, 5000, 9999, 10000))
      assert(Quantile.kthSmallest(df, "x", k, buckets = 8,
        directLimit = 16) == sorted(k - 1), s"rank $k")
  }

  test("exactQuantiles excludes null/NaN and handles an all-equal column") {
    val df = Seq(Some(4.0), None, Some(Double.NaN), Some(4.0), Some(4.0))
      .toDF("x")
    val (n, vals) = Quantile.exactQuantiles(df, "x", Seq(0.5, 1.0))
    assert(n == 3 && vals == Seq(4.0, 4.0))
  }

  test("exactQuantiles excludes ±Infinity (finite-only convention)") {
    val df = Seq(Double.NegativeInfinity, 1.0, 2.0, 3.0,
      Double.PositiveInfinity).toDF("x")
    val (n, vals) = Quantile.exactQuantiles(df, "x", Seq(1.0 / 3, 1.0))
    assert(n == 3 && vals == Seq(1.0, 3.0))
  }

  test("bracketing survives 2^k duplicate pileups straddling bucket edges") {
    // with buckets=4 over [0, 4], the values sit exactly ON the bin
    // edges, in power-of-two multiplicities: a bracket round must
    // recurse into a single-value bin (observed lo == hi) and resolve
    // ranks inside runs without the direct path
    val xs = Seq.fill(1)(0.0) ++ Seq.fill(2)(1.0) ++ Seq.fill(4)(2.0) ++
      Seq.fill(8)(3.0) ++ Seq.fill(16)(4.0)
    val df = xs.toDF("x")
    val sorted = xs.sorted
    for (k <- 1 to xs.size)
      assert(Quantile.kthSmallest(df, "x", k, buckets = 4,
        directLimit = 1) == sorted(k - 1), s"rank $k")
  }

  test("bracketing resolves ulp-width brackets (denormal span)") {
    // 33 distinct doubles one ulp apart around 1.0: span is ~2^-52 per
    // step — histogram arithmetic must keep narrowing (observed
    // min/max) instead of stalling, for every rank
    val xs = Iterator.iterate(1.0)(v => Math.nextUp(v)).take(33).toSeq
    val df = xs.toDF("x")
    val sorted = xs.sorted
    for (k <- Seq(1, 2, 16, 32, 33))
      assert(Quantile.kthSmallest(df, "x", k, buckets = 4,
        directLimit = 2) == sorted(k - 1), s"rank $k")
  }

  test("property: kthSmallest equals local sort on random duplicate-heavy data") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      // small value domain → heavy duplication; mixed magnitudes
      val xs = Seq.fill(400)(rnd.nextInt(17).toDouble * math.pow(10,
        rnd.nextInt(3) - 1))
      val df = xs.toDF("x")
      val sorted = xs.sorted
      for (k <- Seq(1, 7, 200, 399, 400))
        assert(Quantile.kthSmallest(df, "x", k, buckets = 4,
          directLimit = 8) == sorted(k - 1), s"trial $trial rank $k")
    }
  }

  // ---- prioritySample ----------------------------------------------

  test("prioritySample returns exactly k rows, partitioning-independent, matching the naive key ranking") {
    val df = (1L to 500L).map(i => (i, (i % 13) + 1.0)).toDF("id", "w")
    val out1 = Relational.prioritySample(df, 20, col("w"), col("id"))
      .select("id").as[Long].collect().toSet
    val out2 = Relational.prioritySample(df.repartition(7), 20, col("w"),
      col("id")).select("id").as[Long].collect().toSet
    assert(out1.size == 20 && out1 == out2)
    // naive driver-side replay of the same key formula
    val keyed = df.withColumn("__u",
        (graft.functions.GraftFunctions.detHash(
          graft.functions.GraftFunctions.DetHashPrime, col("id")) + lit(1L))
          .cast("double") /
          lit(graft.functions.GraftFunctions.DetHashPrime.toDouble + 1.0))
      .select(col("id"), (log(col("__u")) / col("w")).as("__pk"))
      .as[(Long, Double)].collect()
    val expect = keyed.sortBy { case (id, pk) => (-pk, -id) }.take(20)
      .map(_._1).toSet
    assert(out1 == expect)
  }

  test("prioritySample favors heavy weights (sanity, not exactness)") {
    // two strata: weight 1000 vs weight 1 — the heavy stratum should
    // dominate a 50-of-1000 sample overwhelmingly
    val df = (1L to 1000L).map(i =>
      (i, if (i <= 500) 1000.0 else 1.0)).toDF("id", "w")
    val heavy = Relational.prioritySample(df, 50, col("w"), col("id"))
      .where(col("id") <= 500).count()
    assert(heavy >= 45, s"expected heavy-weight dominance, got $heavy/50")
  }

  // ---- scd2Compact ---------------------------------------------------

  test("scd2Compact collapses runs and stamps contiguous validity intervals") {
    val cdc = Seq(
      (1L, 10L, 100L, "A"), (1L, 11L, 200L, "A"), (1L, 12L, 300L, "B"),
      (1L, 13L, 400L, "B"), (1L, 14L, 500L, "A"),
      (2L, 20L, 100L, "X")
    ).toDF("uid", "eid", "t", "v")
    val out = Relational.scd2Compact(cdc, Seq("uid"), "t", Seq("eid"), Seq("v"))
      .select("uid", "valid_from", "valid_to", "v")
      .as[(Long, Long, Option[Long], String)].collect().toSet
    assert(out == Set(
      (1L, 100L, Some(300L), "A"), (1L, 300L, Some(500L), "B"),
      (1L, 500L, None, "A"), (2L, 100L, None, "X")))
  }

  test("scd2Compact treats null→value and value→null as changes, null→null as a run") {
    val cdc = Seq(
      (1L, 1L, 100L, Option.empty[String]),
      (1L, 2L, 200L, Option.empty[String]),
      (1L, 3L, 300L, Option("A")),
      (1L, 4L, 400L, Option.empty[String])
    ).toDF("uid", "eid", "t", "v")
    val out = Relational.scd2Compact(cdc, Seq("uid"), "t", Seq("eid"), Seq("v"))
      .select("valid_from", "valid_to", "v")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(out == Set(
      (100L, Some(300L), None), (300L, Some(400L), Some("A")),
      (400L, None, None)))
  }

  // ---- Drift.psiReport ---------------------------------------------

  test("psiReport is ~zero for identical distributions and positive under shift") {
    val a = (1 to 2000).map(i => (i % 100).toDouble).toDF("v")
    val same = Drift.psiReport(a, a, "v", bins = 10)
      .agg(sum(abs(col("psi_term")))).head().getDouble(0)
    assert(same == 0.0, s"identical frames must have PSI 0, got $same")
    val shifted = (1 to 2000).map(i => (i % 100).toDouble + 50.0).toDF("v")
    val psi = Drift.psiReport(a, shifted, "v", bins = 10)
      .agg(sum(col("psi_term"))).head().getDouble(0)
    assert(psi > 0.25, s"a half-range shift must flag as drift, got $psi")
  }

  test("psiReport bins span both sides and a single-value column degenerates to one bin") {
    val a = Seq(1.0, 1.0, 1.0).toDF("v")
    val out = Drift.psiReport(a, a, "v", bins = 10).collect()
    assert(out.length == 1 && out.head.getLong(0) == 0L)
    // disjoint ranges: all of ref in low bins, all of cur in high bins,
    // every populated bin present exactly once
    val lo = (1 to 100).map(_ => 0.0).toDF("v")
    val hi = (1 to 100).map(_ => 9.0).toDF("v")
    val rep = Drift.psiReport(lo, hi, "v", bins = 10)
      .select("bin", "n_ref", "n_cur").as[(Long, Long, Long)].collect()
      .map { case (k, a2, b2) => k -> ((a2, b2)) }.toMap
    assert(rep == Map(0L -> (100L, 0L), 9L -> (0L, 100L)))
  }

  // ---- Quantile.groupQuantiles -------------------------------------

  test("groupQuantiles matches per-group local sort under the lower-quantile convention") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(600) { i =>
      (s"g${i % 3}", rnd.nextInt(13).toDouble) // duplicate-heavy
    }
    val df = rows.toDF("g", "v")
    val out = Quantile.groupQuantiles(df, "g", "v",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p100" -> 1.0))
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val vs = rows.filter(_._1 == g).map(_._2).sorted
      def kth(q: Double) = vs(math.max(1, math.ceil(q * vs.size).toInt) - 1)
      val (_, n, p50, p95, p100) = out(g)
      assert(n == vs.size && p50 == kth(0.5) && p95 == kth(0.95) &&
        p100 == vs.last, s"group $g")
    }
  }

  test("groupQuantiles excludes null/NaN/±Inf per group and keeps groups independent") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", None),
      ("a", Some(Double.NaN)), ("a", Some(Double.PositiveInfinity)),
      ("b", Some(100.0))
    ).toDF("g", "v")
    val out = Quantile.groupQuantiles(df, "g", "v", Seq("p50" -> 0.5))
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(("a", 2L, 1.0), ("b", 1L, 100.0)))
  }

  // ---- Drift.ksReport ----------------------------------------------

  test("ksReport: identical sides give zero, disjoint sides give KS = 1") {
    val a = (1 to 200).map(_.toDouble).toDF("v")
    val same = Drift.ksReport(a, a, "v", bins = 10)
      .agg(max(col("d_term"))).head().getDouble(0)
    assert(same == 0.0)
    // ref entirely below cur: at the crossover bin CDF_ref = 1,
    // CDF_cur = 0 → KS exactly 1
    val lo = (1 to 100).map(_ => 0.0).toDF("v")
    val hi = (1 to 100).map(_ => 9.0).toDF("v")
    val ks = Drift.ksReport(lo, hi, "v", bins = 10)
      .agg(max(col("d_term"))).head().getDouble(0)
    assert(ks == 1.0)
  }

  test("ksReport matches a hand-computed binned CDF difference") {
    // ref uniform over [0,10); cur concentrated in [0,5): with 10 bins
    // over the combined range, CDF_cur runs ahead of CDF_ref until
    // bin 4, where |CDF diff| peaks at |0.5 - 1.0| = 0.5
    val ref = (0 until 100).map(i => i % 10 + 0.5).toDF("v")
    val cur = (0 until 100).map(i => i % 5 + 0.5).toDF("v")
    val rows = Drift.ksReport(ref, cur, "v", bins = 10)
      .select("bin", "d_term").as[(Long, Double)].collect().toMap
    assert(rows(4L) == 0.5)
    assert(rows.values.max == 0.5)
    // counts columns stay exact longs
    val n = Drift.ksReport(ref, cur, "v", bins = 10)
      .agg(sum(col("n_ref")), sum(col("n_cur"))).head()
    assert(n.getLong(0) == 100L && n.getLong(1) == 100L)
  }

  test("groupWeightedQuantile matches brute-force weighted ranking on random data") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(300) { i =>
      (s"g${i % 3}", rnd.nextInt(40).toDouble, 1 + rnd.nextInt(9))
    }
    val df = rows.toDF("g", "v", "w")
    for (q <- Seq(0.25, 0.5, 0.9)) {
      val got = Quantile.groupWeightedQuantile(df, "g", "v", "w", q)
        .select("g", "w_quantile").as[(String, Double)].collect().toMap
      // exact-rational threshold, matching the operator's decimal compare
      val qd = BigDecimal(q.toString)
      val want = rows.groupBy(_._1).map { case (g, xs) =>
        val sorted = xs.sortBy(_._2)
        val tot = BigDecimal(sorted.map(_._3.toLong).sum)
        var cum = BigDecimal(0)
        g -> sorted.collectFirst {
          case (_, v, w) if { cum += w; cum >= qd * tot } => v
        }.get
      }
      assert(got == want, s"q=$q")
    }
  }

  test("winsorizedStats matches a local clip-then-moments computation") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.tabulate(400) { i =>
      (s"g${i % 2}", if (i % 97 == 0) 1e6 else rnd.nextInt(100).toDouble)
    }
    val got = Quantile.winsorizedStats(rows.toDF("g", "v"), "g", "v",
        0.1, 0.9)
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    for ((g, xs) <- rows.groupBy(_._1)) {
      val vs = xs.map(_._2).sorted
      val n = vs.length
      def q(p: Double) = vs(math.max(1, math.ceil(p * n).toInt) - 1)
      val (lo, hi) = (q(0.1), q(0.9))
      val cv = vs.map(v => math.min(math.max(v, lo), hi))
      val mean = cv.sum / n
      val std = math.sqrt(cv.map(x => x * x).sum / n - mean * mean)
      val r = got(g)
      assert(r._2 == n && r._3 == vs.count(v => v < lo || v > hi).toLong)
      assert(r._4 == lo && r._5 == hi)
      assert(math.abs(r._6 - mean) < 1e-4 && math.abs(r._7 - std) < 1e-4)
    }
    // the 1e6 outliers must not own the mean
    assert(got("g0")._6 < 200)
  }

  test("groupWeightedQuantile with unit weights equals the lower quantile; zero/null weights drop") {
    val df = Seq(("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 1),
      ("a", 99.0, 0), ("b", 5.0, 2)).toDF("g", "v", "w")
    val got = Quantile.groupWeightedQuantile(df, "g", "v", "w", 0.5)
      .select("g", "w_quantile").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 2.0, "b" -> 5.0))
  }

  test("robustOutliers flags the planted extreme and is immune to it; MAD=0 group reports 0") {
    // g0: tight cluster around 10 plus one 1e6 glitch — median/MAD
    // must not move, and exactly the glitch exceeds k·MAD.
    // g1: >half the mass at one value → MAD = 0 → 0 outliers by
    // contract even though 50.0 is far away.
    val g0 = (1 to 99).map(i => ("g0", 10.0 + (i % 5) * 0.1)) :+ ("g0", 1e6)
    val g1 = Seq.fill(5)(("g1", 7.0)) ++ Seq(("g1", 50.0), ("g1", 7.5))
    val df = (g0 ++ g1).toDF("g", "v").repartition(7)
    val got = Quantile.robustOutliers(df, "g", "v", k = 5.1891)
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    val (_, n0, med0, mad0, out0) = got("g0")
    assert(n0 == 100 && med0 == 10.2 && math.abs(mad0 - 0.1) < 1e-9 &&
      out0 == 1, s"${got("g0")}")
    val (_, n1, med1, mad1, out1) = got("g1")
    assert(n1 == 7 && med1 == 7.0 && mad1 == 0.0 && out1 == 0,
      s"${got("g1")}")
  }

  test("robustOutliers is partitioning-independent and ignores null/NaN") {
    val rnd = new scala.util.Random(61)
    val rows = Seq.fill(500)(("g" + rnd.nextInt(3), rnd.nextDouble() * 100)) ++
      Seq(("g0", Double.NaN))
    val df = rows.toDF("g", "v")
    val a = Quantile.robustOutliers(df.repartition(3), "g", "v", 5.1891)
      .collect().toSeq
    val b = Quantile.robustOutliers(df.repartition(29), "g", "v", 5.1891)
      .collect().toSeq
    assert(a == b && a.size == 3)
  }

  test("quantile family: one stage reads the raw rows, every later pass " +
    "reads the distinct (group, value) frame") {
    // 4,000 rows over 8 groups × 101 values, on a named RDD: a stage
    // whose lineage holds that RDD is a pass over the raw rows
    val raw = spark.sparkContext.parallelize(0 until 4000, 4)
      .map(i => Row((i % 8).toLong, (i * 37 % 101).toDouble, (i % 7 + 1).toDouble))
      .setName("quantile raw rows")
    val df = spark.createDataFrame(raw, new StructType()
      .add("g", LongType).add("v", DoubleType).add("w", DoubleType))
    def rawPasses(out: => DataFrame): Int = {
      val passes = new AtomicInteger
      val listener = new SparkListener {
        override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
          if (s.stageInfo.rddInfos.exists(_.name == raw.name)) passes.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      // jobsStarted's closing fence delivers every event of the run
      try jobsStarted(out.write.format("noop").mode("overwrite").save())
      finally spark.sparkContext.removeSparkListener(listener)
      passes.get
    }
    Seq[(String, () => DataFrame)](
      "winsorizedStats" -> (() => Quantile.winsorizedStats(df, "g", "v", 0.05, 0.95)),
      "robustOutliers" -> (() => Quantile.robustOutliers(df, "g", "v", 5.1891)),
      "groupQuantiles" -> (() => Quantile.groupQuantiles(df, "g", "v",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))),
      "groupWeightedQuantile" -> (() =>
        Quantile.groupWeightedQuantile(df, "g", "v", "w", 0.5))
    ).foreach { case (name, op) =>
      assert(rawPasses(op()) == 1, s"$name read the raw rows more than once")
    }
  }
}
