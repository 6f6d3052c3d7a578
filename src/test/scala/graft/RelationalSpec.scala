package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", 1, "x1"), ("a", 2, "x2"), ("a", 3, "x3"),
    ("b", 4, "x4"), ("b", 5, "x5"), ("c", 6, "x6")
  ).toDF("k", "id", "v")

  test("dedupFirst keeps exactly the lowest-ordered row per key") {
    val out = Relational.dedupFirst(df, Seq("k"), Seq(col("id")))
      .select("k", "id").as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 1, "b" -> 4, "c" -> 6))
  }

  test("groupSample caps every group and is deterministic") {
    val out1 = Relational.groupSample(df, Seq("k"), 2, Seq(col("id")))
    val out2 = Relational.groupSample(df, Seq("k"), 2, Seq(col("id")))
    val sizes = out1.groupBy("k").count().as[(String, Long)].collect().toMap
    assert(sizes.values.forall(_ <= 2))
    assert(sizes("b") == 2 && sizes("c") == 1)
    assert(out1.collect().toSet == out2.collect().toSet)
  }

  test("multiGroupSample chains key passes (each pass re-groups)") {
    val d2 = Seq(("a", "p", 1), ("a", "p", 2), ("a", "q", 3), ("b", "p", 4))
      .toDF("k1", "k2", "id")
    val out = Relational.multiGroupSample(d2, Seq(Seq("k1", "k2"), Seq("k1")), 1,
      Seq(col("id")))
    val byK1 = out.groupBy("k1").count().as[(String, Long)].collect().toMap
    assert(byK1.values.forall(_ <= 1))
  }

  test("groupSplit never leaks a key across splits and respects ratios") {
    val keys = (1 to 2000).map(i => (i.toLong, i % 7)).toDF("key", "payload")
    val out = Relational.groupSplit(keys, "key", 80, 10)
    val perKey = out.groupBy("key")
      .agg(countDistinct(col("split")).as("n")).where(col("n") > 1).count()
    assert(perKey == 0, "a key appeared in more than one split")
    val dist = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(dist("train") > 1400 && dist("train") < 1800)
    assert(dist("val") > 100 && dist("val") < 300)
  }

  test("observeWith surfaces running metrics after the action (ST3)") {
    val obs = new org.apache.spark.sql.Observation("filter_ratio")
    val d = Relational.observeWith(df, obs,
      "n" -> count(lit(1)), "n_a" -> count(when(col("k") === "a", 1)))
    d.collect()
    assert(obs.get("n") == 6L && obs.get("n_a") == 3L)
  }

  test("scopeProjectValid drops rows whose scoped values are all invalid") {
    // exact INVALID_VALS membership (FUZZ.md #4): ("NA", "  ") now
    // SURVIVES — two spaces is not in the reference's set ("", " ",
    // "   ", "\n", NA, N/A); ("", "N/A") and all-exact-marker rows drop
    val d = Seq(("ok", "v"), ("NA", "  "), ("", "N/A"), ("x", "NA"),
        (" ", "\n"))
      .toDF("c1", "c2")
    val out = Relational.scopeProjectValid(d, Seq("c1", "c2"))
    assert(out.count() == 3)
  }

  test("saltedJoin equals the plain inner join, with a skewed key") {
    // one pathologically hot key (900 of 1000 rows) + misses on both sides
    val left = ((1 to 900).map(i => (7L, i)) ++ (1 to 100).map(i => (i.toLong % 5, 1000 + i)))
      .toDF("k", "row_id")
    val right = (0L to 10L).map(k => (k, s"dim_$k")).toDF("rk", "payload")
    val salted = Relational.saltedJoin(left, right, "k", "rk",
      salts = 8, saltBy = Seq(col("row_id")))
    val plain = left.join(right, col("k") === col("rk"))
    assert(salted.count() == plain.count())
    assert(salted.select("k", "row_id", "rk", "payload").collect().toSet ==
      plain.select("k", "row_id", "rk", "payload").collect().toSet)
    // salts actually spread the hot key: >1 distinct salt partition used
    val spread = left.where(col("k") === 7)
      .select(graft.functions.GraftFunctions.detHash(8L, col("row_id")).as("s"))
      .distinct().count()
    assert(spread > 1, "hot key not spread across salts")
    // same key name on both sides must not be ambiguous
    val rightSame = right.withColumnRenamed("rk", "k")
    val sameName = Relational.saltedJoin(left, rightSame, "k", "k",
      salts = 4, saltBy = Seq(col("row_id")))
    assert(sameName.count() == plain.count())
  }

  test("q6: every predicate reaches the parquet scan and only 4 columns are read") {
    // plan-regression tripwire in the suite (PLANS.md catches shape
    // drift only when regenerated; this fails the build immediately)
    // formatted mode prints the FULL PushedFilters list (the default
    // toString truncates long fields mid-name)
    val plan = Queries.all.find(_.name == "q6_forecast_revenue").get
      .fn(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate")
      && plan.contains("LessThan(l_quantity"), s"filters not pushed:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_orderkey"),
      s"scan reads more than the referenced columns: $readSchema")
  }

  test("rangeJoinBinned equals the naive range join, including bucket-edge pairs") {
    // timestamps straddle many bucket boundaries of W=100: pairs at
    // exact edges (rts = lts - W, rts = lts) must resolve identically
    val left = (1 to 40).map(i => (i.toLong % 3, 1000L + i * 37L, i))
      .toDF("lk", "lts", "lid")
    val right = (1 to 60).map(j => (j.toLong % 3, 980L + j * 23L, j))
      .toDF("rk", "rts", "rid")
    val binned = Relational.rangeJoinBinned(left, right,
        "lk", "rk", "lts", "rts", windowUs = 100L)
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    val naive = left.join(right,
        col("lk") === col("rk") &&
          col("rts") >= col("lts") - 100L && col("rts") < col("lts"))
      .select("lid", "rid").as[(Int, Int)].collect().toSet
    assert(binned == naive)
    assert(binned.nonEmpty)
  }

  test("joinSizeProbe: exact on skewed keys, zeros on disjoint keys") {
    val left = (Seq.fill(500)(7L) ++ (1L to 100L)).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("lk", "lv")
    val right = (Seq.fill(40)(7L) ++ (50L to 150L)).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("rk", "rv")
    val p = Relational.joinSizeProbe(left, right, "lk", "rk")
      .as[(Long, Long, Long)].head()
    val actual = left.join(right, col("lk") === col("rk")).count()
    assert(p._1 == actual, s"est ${p._1} != actual $actual")
    assert(p._3 == 501L * 40L, "hot key contribution wrong") // 500 + one in 1..100
    // disjoint key spaces: empty aggregate must report zeros, not null
    val none = Relational.joinSizeProbe(
      Seq((1L, 1)).toDF("lk", "lv"), Seq((2L, 1)).toDF("rk", "rv"),
      "lk", "rk").as[(Long, Long, Long)].head()
    assert(none == ((0L, 0L, 0L)))
  }

  test("skewReport: hand-computed stats, min-key tie-break, p99 on counts") {
    // keys: 7 ×6, 8 ×6 (tie on hot count → hot_key = 7), 1..4 ×1
    val rows = Seq.fill(6)(7L) ++ Seq.fill(6)(8L) ++ (1L to 4L)
    val df = rows.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val r = Relational.skewReport(df, "k").head()
    assert(r.getLong(0) == 16L) // n_rows
    assert(r.getLong(1) == 6L)  // n_keys
    assert(r.getLong(2) == 6L)  // max_cnt
    assert(r.getLong(3) == 7L)  // hot_key: min key among the tied max
    // per-key counts sorted: 1,1,1,1,6,6 → k = ceil(.99*6) = 6 → 6
    assert(r.getLong(4) == 6L)
    // skew_ratio = max/mean = 6 / (16/6) = 2.25
    assert(r.getDouble(5) == 2.25)
    // uniform keys → ratio exactly 1.0
    val uni = Relational.skewReport(
      (1L to 12L).map(k => (k % 4, k)).toDF("k", "v"), "k").head()
    assert(uni.getDouble(5) == 1.0)
  }

  test("skew_join_salted plan tripwire: salt column is live in the join key") {
    // if someone "simplifies" the salt away, the join degenerates to
    // the skewed single-key shuffle this operator exists to prevent —
    // fail the build, not a production job
    val plan = Queries.all.find(_.name == "skew_join_salted").get
      .fn(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("__salt"),
      s"salt column missing from the physical plan:\n$plan")
    // and it participates in the join condition/keys, not just a project
    val joinLines = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("condition") ||
        l.contains("keys"))
      .mkString("\n")
    assert(joinLines.contains("__salt") || plan.linesIterator
      .exists(l => l.contains("__salt") && l.contains("hashpartitioning")),
      s"salt not in join keys or exchange partitioning:\n$plan")
  }

  test("events_range_join_binned plan tripwire: equi-join on bucket, no nested-loop") {
    val plan = Queries.all.find(_.name == "events_range_join_binned").get
      .fn(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join degenerated to a non-equi join:\n$plan")
    assert(plan.contains("__lb") || plan.contains("__rb"),
      s"bucket columns missing — binning was bypassed:\n$plan")
  }

  test("rangeJoinBinned floor-division regime: ts in (0, W) and negative ts, no dup votes") {
    // ts values surround zero and sit inside the first bucket — the
    // truncation-vs-floor regime: SQL `div` would emit two identical
    // votes for 0 < ts < W (every match duplicated) and mis-bucket
    // negative ts (matches silently missed). Compare as MULTISETS so
    // duplicated join output fails the spec, not just wrong membership.
    val left = (-30 to 30).map(i => (0L, i * 7L, i)).toDF("lk", "lts", "lid")
    val right = (-40 to 40).map(j => (0L, j * 5L, j)).toDF("rk", "rts", "rid")
    val binned = Relational.rangeJoinBinned(left, right,
        "lk", "rk", "lts", "rts", windowUs = 100L)
      .select("lid", "rid").as[(Int, Int)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val naive = left.join(right,
        col("lk") === col("rk") &&
          col("rts") >= col("lts") - 100L && col("rts") < col("lts"))
      .select("lid", "rid").as[(Int, Int)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(binned == naive)
    assert(naive.nonEmpty && naive.values.forall(_ == 1))
  }

  test("orders_cohort_ltv: age-0 anchors cohort size, LTV cents monotone, " +
    "actives bounded by cohort size") {
    val rows = SparkEntry.queries("orders_cohort_ltv")(spark, sfDir)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(5)))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"$c: first age must be 0")
      val size = sorted.head._3
      // every later age re-activates a subset of the cohort
      assert(sorted.forall(_._3 <= size), s"$c: actives exceed cohort size")
      // cumulative revenue per member never decreases with age
      assert(sorted.map(_._5).sliding(2).forall(p =>
        p.length < 2 || p(1) >= p(0)), s"$c: LTV not monotone")
    }
    // total order count across the triangle ties out to the table
    val totalOrders = rows.map(_._4).sum
    assert(totalOrders == Tables.load(spark, sfDir, "orders").count())
  }

  test("bootstrapMeans aggregates replicates map-side: shuffle records " +
    "≤ map partitions × groups × reps, the same at ×1 and ×4") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (parts, groups, reps) = (4, 8, 16L)
    val x1 = spark.range(0, 2000, 1, parts).select((col("id") % groups).as("g"),
      col("id"), (col("id") % 97).cast("decimal(18,6)").as("v"))
    def records(df: org.apache.spark.sql.DataFrame) =
      executedOps(Relational.bootstrapMeans(df, "g", "v", "id", reps, 1000000L,
        Seq(367879L, 735758L, 919698L, 981011L, 996340L)))
        .collect { case e: ShuffleExchangeExec =>
          e.metrics("shuffleRecordsWritten").value }.sum
    val r1 = records(x1)
    assert(r1 > 0 && r1 <= parts * groups * reps, s"$r1 records")
    assert(records(duplicated(x1, 4, "id").coalesce(parts)) == r1)
  }
}
