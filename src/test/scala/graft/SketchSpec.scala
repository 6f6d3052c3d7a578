package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** KMV distinct-count sketch (expressions.KmvDistinct): exactness
  * below k, bounded error above k, partitioning invariance (the
  * k-min-set is a deterministic function of the value set, not of the
  * merge order), and the SQL registration.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("kmv is exact when the group has fewer than k distinct values") {
    val df = (1 to 50).flatMap(i => Seq(i, i)).toDF("v") // dups collapse
    val est = df.agg(GraftFunctions.kmvDistinct(col("v"), 64).as("d"))
      .as[Long].head()
    assert(est == 50L)
  }

  test("kmv estimate lands within the k=256 error envelope") {
    val n = 5000
    val df = (1 to n).toDF("v")
    val est = df.agg(GraftFunctions.kmvDistinct(col("v"), 256).as("d"))
      .as[Long].head()
    // 1/sqrt(k-2) ≈ 6.3 %; allow 3 sigma
    assert(math.abs(est - n).toDouble / n < 0.19, s"estimate $est vs $n")
  }

  test("kmv is invariant to partitioning (merge order)") {
    val df = (1 to 2000).toDF("v")
    def run(parts: Int): Long =
      df.repartition(parts)
        .agg(GraftFunctions.kmvDistinct(col("v"), 64).as("d"))
        .as[Long].head()
    assert(run(1) == run(13))
  }

  test("approx distinct shuffles ≤ groups × map partitions sketches of ≤ k hashes") {
    // 4 groups × 4 map partitions, ~500 distinct values per (group,
    // partition): exact distinct would shuffle every (group, value).
    // v is not the range column, whose partitioning would already
    // cluster (g, v) and spare the exact form its exchange
    val (groups, parts, k) = (4, 4, 64)
    val df = spark.range(0, 8000, 1, parts)
      .select((col("id") % groups).as("g"), (col("id") * 7919 % 4000).as("v"))
    spark.conf.set("spark.graft.approxDistinct", "true")
    spark.conf.set("spark.graft.approxDistinctK", k.toString)
    try {
      val shuffles = executedOps(df.groupBy("g").agg(countDistinct(col("v"))))
        .collect { case e: ShuffleExchangeExec => e }
      val records = shuffles.map(_.metrics("shuffleRecordsWritten").value).sum
      val bytes = shuffles.map(_.metrics("dataSize").value).sum
      assert(records > 0 && records <= groups * parts, s"$records records")
      // a record is the group key, row overhead and ≤ k 8-byte hashes
      assert(bytes <= records * (8L * k + 64), s"$bytes bytes in $records records")
    } finally {
      spark.conf.set("spark.graft.approxDistinct", "false")
      spark.conf.unset("spark.graft.approxDistinctK")
    }
  }

  test("kmv_distinct is callable from SQL via extensions") {
    (1 to 40).toDF("v").createOrReplaceTempView("kmv_in")
    // SQL callers pass the pre-hashed long column, mirroring the
    // Scala API's hash60 step
    val est = spark.sql(
      """SELECT kmv_distinct(
        |  CAST(conv(substring(md5(CAST(v AS STRING)), 1, 15), 16, 10) AS LONG),
        |  64) AS d
        |FROM kmv_in""".stripMargin).as[Long].head()
    assert(est == 40L)
  }

  test("misra-gries candidates contain every true heavy hitter under skew") {
    // 3 hot items (1000 each) drowned in 500 distinct tail items
    // (2 each): capacity 8 << 503 distinct forces constant decrements
    val hot = Seq("h1", "h2", "h3").flatMap(h => Seq.fill(1000)(h))
    val tail = (1 to 500).flatMap(i => Seq(s"t$i", s"t$i"))
    val df = scala.util.Random.shuffle(hot ++ tail).toDF("w")
    val cands = df.repartition(7)
      .agg(GraftFunctions.frequentItems(col("w"), 8).as("c"))
      .select(explode(col("c")).as("w")).as[String].collect().toSet
    // MG guarantee: anything with freq > n/(cap+1) = 4000/9 survives
    assert(Set("h1", "h2", "h3").subsetOf(cands), s"lost hot items: $cands")
    assert(cands.size <= 8)
  }

  test("misra-gries is lossless when capacity covers the domain") {
    val df = (1 to 300).map(i => s"w${i % 30}").toDF("w")
    val cands = df.agg(GraftFunctions.frequentItems(col("w"), 64).as("c"))
      .select(explode(col("c")).as("w")).as[String].collect()
    assert(cands.length == 30)
    assert(cands.sorted.sameElements(cands)) // deterministic sorted output
  }

  test("frequent_items is callable from SQL via extensions") {
    (1 to 90).map(i => s"w${i % 9}").toDF("w").createOrReplaceTempView("fi_in")
    val cands = spark.sql(
      "SELECT explode(frequent_items(w, 16)) AS w FROM fi_in")
      .as[String].collect()
    assert(cands.length == 9)
  }

  test("contract violations: nulls violate, rules count independently, dup keys surface") {
    import graft.ops.Contract
    val df = Seq(
      (Some(1L), Some("en"), 5),
      (Some(1L), Some("xx"), -1), // dup key + bad lang + bad range
      (None, None, 10)            // null key + null lang
    ).toDF("id", "lang", "n")
    val v = Contract.violations(df, Seq(
        "id_not_null" -> col("id").isNotNull,
        "lang_in_domain" -> col("lang").isin("en", "de"),
        "n_nonneg" -> (col("n") >= 0)))
      .union(Contract.keyDuplicates(df, "id"))
      .as[(String, Long)].collect().toMap
    // unique_id = rows(3) − distinct non-null keys(1) = 2: the true
    // dup pair contributes 1 and the null key contributes 1 (DISTINCT
    // ignores nulls in both engines — null keys surface as violations)
    assert(v == Map("id_not_null" -> 1L, "lang_in_domain" -> 2L,
      "n_nonneg" -> 1L, "unique_id" -> 2L))
  }

  test("collect_set_capped is SQL-registered and mirrors the Scala API") {
    spark.range(100)
      .selectExpr("id % 5 AS g", "id % 20 AS v")
      .createOrReplaceTempView("csc_in")
    val viaSql = spark.sql(
      "SELECT g, collect_set_capped(v, 10) AS ids FROM csc_in GROUP BY g ORDER BY g")
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)))
    // each g sees 4 distinct values of id%20 — all under the cap
    assert(viaSql.length == 5 && viaSql.forall(_._2.exists(_.size == 4)))
    val overCap = spark.sql(
      "SELECT collect_set_capped(id, 9) FROM range(100)").collect()
    assert(overCap.head.isNullAt(0)) // 100 distinct > cap 9 → null
  }

  test("contract violations: hostile rule names are data, empty input counts 0") {
    import graft.ops.Contract
    // names with quotes/backticks used to break the generated stack()
    // SQL; they must pass through as literal data now
    val hostile = "a'b`c\"; drop --"
    val df = Seq((1, "x")).toDF("n", "s")
    val v = Contract.violations(df, Seq(hostile -> (col("n") > 0)))
      .as[(String, Long)].collect().toMap
    assert(v == Map(hostile -> 0L))
    // empty input: sums would be NULL without coalesce; the contract
    // reports 0 violations per rule like a COUNT-based oracle
    val empty = Seq.empty[(Int, String)].toDF("n", "s")
    val ve = Contract.violations(empty, Seq(
        "n_pos" -> (col("n") > 0), "s_nonempty" -> (col("s") =!= "")))
      .as[(String, Long)].collect().toMap
    assert(ve == Map("n_pos" -> 0L, "s_nonempty" -> 0L))
  }

  test("kmv empty input returns 0, all-null input returns 0") {
    val empty = Seq.empty[Int].toDF("v")
    assert(empty.agg(GraftFunctions.kmvDistinct(col("v"), 64)).as[Long].head() == 0L)
    val nulls = Seq[Option[Int]](None, None).toDF("v")
    assert(nulls.agg(GraftFunctions.kmvDistinct(col("v"), 64)).as[Long].head() == 0L)
  }

  // --- Count–Min sketch ---------------------------------------------

  private def cmsEst(df: org.apache.spark.sql.DataFrame, term: String,
                     depth: Int, width: Int): Long = {
    val sk = df.agg(GraftFunctions.countMin(col("t"), depth, width).as("sk"))
    sk.select(GraftFunctions.countMinEstimate(col("sk"),
        GraftFunctions.hash60(lit(term)), depth, width))
      .as[Long].head()
  }

  test("count_min estimates are one-sided and exact with a wide sketch") {
    val items = (1 to 500).map(i => s"tok${i % 7}") // 7 tokens, skewed
    val df = items.toDF("t").repartition(4)
    val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // wide: 7 tokens into 4×1024 counters — collisions essentially nil
    exact.foreach { case (term, c) =>
      assert(cmsEst(df, term, 4, 1024) == c, s"wide sketch not exact for $term")
    }
    // narrow: 7 tokens into 4×2 counters — must still never undercount
    exact.foreach { case (term, c) =>
      assert(cmsEst(df, term, 4, 2) >= c, s"narrow sketch undercounts $term")
    }
  }

  test("count_min is callable from SQL via extensions") {
    (1 to 100).map(i => s"x${i % 5}").toDF("t").createOrReplaceTempView("cms_sql")
    val arr = spark.sql(
      """SELECT count_min(conv(substring(md5(t), 1, 15), 16, 10)::LONG, 4, 8)
        |FROM cms_sql""".stripMargin)
      .as[Seq[Long]].head()
    assert(arr.length == 32 && arr.slice(0, 8).sum == 100L)
  }

  test("count_min row sums equal the item count (merge across partitions)") {
    val df = (1 to 1000).map(i => s"w$i").toDF("t").repartition(8)
    val depth = 4; val width = 16
    val arr = df.agg(GraftFunctions.countMin(col("t"), depth, width).as("sk"))
      .as[Seq[Long]].head()
    assert(arr.length == depth * width)
    (0 until depth).foreach { j =>
      assert(arr.slice(j * width, (j + 1) * width).sum == 1000L,
        s"row $j mass mismatch")
    }
  }
}
