package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions._
import graft.ops.Stage.StagedFrame

/** Additional star-schema shapes (TPC-H Q4/Q6/Q8/Q12/Q14/Q19
  * adaptations over the driver's schema — the testdata lineitem has no
  * commitdate/shipmode columns, so those predicates are re-expressed on
  * the columns that exist; the plan shapes are the point):
  *
  *   - existential semi-join aggregation (Q4)
  *   - single-scan filter aggregate where every predicate reaches the
  *     parquet scan (Q6)
  *   - two-role dimension join feeding a global ratio (Q8)
  *   - conditional aggregation over a fact-fact join (Q12)
  *   - broadcast-dim ratio aggregate (Q14)
  *   - disjunctive OR-of-ANDs predicate pushdown (Q19)
  *
  * Ratios go through the decimal-quotient guard (cast DECIMAL(18,6),
  * divide, cast DECIMAL(18,8), round 6) so Spark and DuckDB round
  * identically — see ops/Cost and text_repetition.
  */
object StarQueries {

  private val sumRevenue =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  /** Exact per-row revenue term shared by the ratio queries. */
  private def revTerm = col("l_extendedprice").cast(DecimalType(18, 2)) *
    (lit(1) - col("l_discount")).cast(DecimalType(18, 2))

  def defs: Seq[QueryDef] = Seq(

    // Q4 shape — priority count of orders having at least one returned
    // line in a half-year window. The EXISTS becomes a left-semi join;
    // at scale the semi join shuffles once on orderkey and the
    // aggregation is a broadcast-size group (5 priorities).
    QueryDef("q4_priority_exists",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_returnflag") === "R").select(col("l_orderkey"))
        o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // Q6 shape — forecast-revenue delta: one scan, zero joins, zero
    // shuffles past the partial agg. All three predicates and the
    // two-column projection must reach the parquet reader
    // (PushedFilters + ReadSchema), which is what makes this query
    // ~free at 100 TB.
    QueryDef("q6_forecast_revenue",
      (s, dir) => {
        Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(dsumProduct(col("l_extendedprice"), col("l_discount")).as("revenue"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // Q8 shape — market share of one supplier nation inside one
    // customer region, by order year. Nation appears in two roles
    // (supplier side for the share label, customer side for the region
    // scope); every dimension broadcasts, lineitem⋈orders is the one
    // shuffle, and the year groups are tiny.
    QueryDef("q8_market_share",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        val p = Tables.load(s, dir, "part").where(col("p_type") === "ECONOMY")
        val c = Tables.load(s, dir, "customer")
        val su = Tables.load(s, dir, "supplier")
        val n1 = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
        val r = Tables.load(s, dir, "region").where(col("r_name") === "AMERICA")
        // only the bounded dims (nation 25, region 5) carry a broadcast
        // hint; part/supplier/customer grow with the corpus, so AQE
        // decides for them (it still broadcasts at test SF)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .join(broadcast(r), col("c_rk") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_6", revTerm)
              .otherwise(lit(0).cast(DecimalType(18, 2)))).as("nation_vol"),
            sum(revTerm).as("total_vol"))
          .select(col("o_year"),
            round((col("nation_vol").cast(DecimalType(18, 6)) / col("total_vol"))
              .cast(DecimalType(18, 8)), 6).cast("double").as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""WITH vol AS (
        |  SELECT year(o_orderdate)::INT AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(1 - l_discount AS DECIMAL(18,2)) AS v,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |   JOIN orders ON l_orderkey = o_orderkey
        |   JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey
        |   JOIN customer ON o_custkey = c_custkey
        |   JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |   JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |   JOIN region ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        |  CAST(round(CAST(
        |    CAST(SUM(CASE WHEN supp_nation = 'NATION_6' THEN v
        |             ELSE 0::DECIMAL(18,2) END) AS DECIMAL(18,6))
        |    / SUM(v) AS DECIMAL(18,8)), 6) AS DOUBLE) AS mkt_share
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // Q12 shape — conditional aggregation over the fact-fact join:
    // line counts by linestatus split into high/low order priority.
    // The CASE runs inside the same hash aggregate (one shuffle on
    // orderkey, then a 3-group agg) — no per-branch re-scan.
    QueryDef("q12_priority_lines",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        val o = Tables.load(s, dir, "orders")
        val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
            sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),

    // Q14 shape — promo revenue fraction: broadcast the part dim, one
    // scan of the fact side, both CASE branches inside one aggregate.
    QueryDef("q14_promo_revenue",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        val p = Tables.load(s, dir, "part")
        // part grows with the corpus — no forced broadcast (AQE decides)
        li.join(p, col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", revTerm)
              .otherwise(lit(0).cast(DecimalType(18, 2)))).as("promo_rev"),
            sum(revTerm).as("total_rev"))
          .select(
            round((col("promo_rev").cast(DecimalType(18, 6)) / col("total_rev"))
              .cast(DecimalType(18, 8)), 6).cast("double").as("promo_frac"),
            col("promo_rev").cast("double").as("promo_revenue"))
      },
      Some("""SELECT
        |  CAST(round(CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(1 - l_discount AS DECIMAL(18,2))
        |        ELSE 0::DECIMAL(18,2) END) AS DECIMAL(18,6))
        |    / SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |          * CAST(1 - l_discount AS DECIMAL(18,2)))
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS promo_frac,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(1 - l_discount AS DECIMAL(18,2))
        |        ELSE 0::DECIMAL(18,2) END) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-03-01'
        |  AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin)),

    // Q19 shape — disjunctive OR-of-ANDs across the join: each arm
    // pairs a part predicate with a lineitem predicate. The l_quantity
    // bounds (the union of the arms) should still push to the fact
    // scan; the per-arm conjunctions evaluate post-join.
    QueryDef("q19_disjunctive_revenue",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        val arms =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30))
        // part grows with the corpus — no forced broadcast (AQE decides)
        li.join(p, col("l_partkey") === col("p_partkey"))
          .where(arms)
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount"))
            .as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      Some(s"""SELECT $sumRevenue AS revenue, COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Skew-resistant salted join (ops/Relational.saltedJoin): events'
    // user_id is power-law, customer is join-only (too big to
    // broadcast at 100 TB). The salt spreads each hot user over 8
    // reducers; the aggregate proves the result is exactly the plain
    // inner join, which is also what the oracle runs.
    QueryDef("skew_join_salted",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val c = Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.ops.Relational.saltedJoin(ev, c, "user_id", "c_custkey",
            salts = 8, saltBy = Seq(col("event_id")))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // Z-order layout key (ops/Layout): Morton-interleave customer ×
    // order-day so a table written range-partitioned on zkey prunes
    // parquet files on BOTH predicates. The key itself is a pure
    // codegen projection — this query gates its bit math against the
    // oracle; writeZordered's layout effect is spec-asserted
    // (LayoutSpec).
    QueryDef("zorder_layout",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        // parquet loads the date as TIMESTAMP_NTZ; session tz is UTC so
        // the ltz cast is identity and matches DuckDB's epoch_us
        val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        val zk = graft.ops.Layout.zorderKey2(
          col("o_custkey").bitwiseAND(lit(65535L)),
          day.bitwiseAND(lit(65535L)), 16)
        o.select(col("o_orderkey"), col("o_custkey"),
            day.as("day"), zk.as("zkey"))
          .orderBy(col("zkey"), col("o_orderkey"))
          .limit(20)
      },
      Some(s"""SELECT o_orderkey, o_custkey,
        |  (epoch_us(o_orderdate) // 86400000000) AS day,
        |  ${graft.ops.Layout.zorderKey2Sql("o_custkey & 65535",
               "(epoch_us(o_orderdate) // 86400000000) & 65535", 16)} AS zkey
        |FROM orders
        |ORDER BY zkey, o_orderkey
        |LIMIT 20""".stripMargin)),

    // Min/max block-pruning census — measures what each physical
    // layout is WORTH: the same orders table cut into 256 equal-width
    // key-range blocks under three layouts (natural = insertion key,
    // bydate = time-sorted, zorder = Morton tiles), with per-block
    // min/max stats (exactly what parquet footers / Delta file stats
    // store) probed by a two-dimensional predicate (customer band AND
    // date band). n_scan_* counts the blocks/rows whose stat ranges
    // overlap BOTH bands — what a scan must actually read. The
    // expected physics, and what the gate pins: each single-column
    // sort prunes its own column and nothing else; z-order prunes on
    // both. No global sort anywhere — block ids are scan-local
    // key-range arithmetic (blocks ARE key ranges, the same contract
    // as range-partitioned files), so the census is one stats pass +
    // three narrow aggregates; at 100 TB it reads file footers, not
    // rows. Predicate bounds derive from the table's own min/max so
    // the census is scale-free.
    QueryDef("layout_pruning_census",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val nB = 256L
        val o = Tables.load(s, dir, "orders")
        val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        val keyed = o.select(
          col("o_orderkey").cast("long").as("okey"),
          col("o_custkey").cast("long").as("cust"), day.as("day"))
          .withColumn("zkey", graft.ops.Layout.zorderKey2(
            col("cust").bitwiseAND(lit(65535L)),
            col("day").bitwiseAND(lit(65535L)), 16))
        val st = keyed.agg(
          min("okey"), max("okey"), min("cust"), max("cust"),
          min("day"), max("day"), min("zkey"), max("zkey")).head()
        val Seq(mnO, mxO, _, mxC, mnD, mxD, mnZ, mxZ) =
          (0 until 8).map(st.getLong)
        val cLo = 1L
        val cHi = mxC / 10
        val dLo = mnD + 300
        val dHi = mnD + 500
        def census(layout: String, key: String, mn: Long, mx: Long) = {
          val blocks = keyed
            .withColumn("blk",
              expr(s"(($key - ${mn}L) * ${nB}L) div ${mx - mn + 1}L"))
            .groupBy(col("blk"))
            .agg(min("cust").as("minc"), max("cust").as("maxc"),
              min("day").as("mind"), max("day").as("maxd"),
              count(lit(1)).as("cnt"))
          val scanned = col("minc") <= cHi && col("maxc") >= cLo &&
            col("mind") <= dHi && col("maxd") >= dLo
          blocks.agg(
            count(lit(1)).as("n_blocks"),
            sum(when(scanned, 1L).otherwise(0L)).as("n_scan_blocks"),
            sum(col("cnt")).as("n_rows"),
            sum(when(scanned, col("cnt")).otherwise(0L)).as("n_scan_rows"))
            .select(lit(layout).as("layout"), col("n_blocks"),
              col("n_scan_blocks"), col("n_rows"), col("n_scan_rows"))
        }
        census("bydate", "day", mnD, mxD)
          .unionAll(census("natural", "okey", mnO, mxO))
          .unionAll(census("zorder", "zkey", mnZ, mxZ))
          .withColumn("scan_row_frac",
            round((col("n_scan_rows").cast("double") /
              col("n_rows").cast("double")).cast(dec), 6).cast("double"))
          .orderBy(col("layout"))
      },
      Some {
        val zsql = graft.ops.Layout.zorderKey2Sql("o_custkey & 65535",
          "(epoch_us(o_orderdate) // 86400000000) & 65535", 16)
        def census(layout: String, key: String, mn: String, mx: String) =
          s"""SELECT '$layout' AS layout, COUNT(*)::BIGINT AS n_blocks,
            |  SUM(CASE WHEN minc <= cHi AND maxc >= cLo
            |      AND mind <= dHi AND maxd >= dLo THEN 1 ELSE 0 END)::BIGINT
            |    AS n_scan_blocks,
            |  SUM(cnt)::BIGINT AS n_rows,
            |  SUM(CASE WHEN minc <= cHi AND maxc >= cLo
            |      AND mind <= dHi AND maxd >= dLo THEN cnt ELSE 0 END)::BIGINT
            |    AS n_scan_rows
            |FROM (
            |  SELECT (($key - $mn) * 256) // ($mx - $mn + 1) AS blk,
            |    min(cust) AS minc, max(cust) AS maxc,
            |    min(day) AS mind, max(day) AS maxd, count(*) AS cnt
            |  FROM k, st GROUP BY 1), sel""".stripMargin
        s"""WITH k AS (
          |  SELECT o_orderkey::BIGINT AS okey, o_custkey::BIGINT AS cust,
          |    (epoch_us(o_orderdate) // 86400000000) AS day,
          |    $zsql AS zkey
          |  FROM orders),
          |st AS (
          |  SELECT min(okey) AS mno, max(okey) AS mxo,
          |    max(cust) AS mxc, min(day) AS mnd, max(day) AS mxd,
          |    min(zkey) AS mnz, max(zkey) AS mxz FROM k),
          |sel AS (
          |  SELECT 1 AS cLo, mxc // 10 AS cHi,
          |    mnd + 300 AS dLo, mnd + 500 AS dHi FROM st)
          |SELECT layout, n_blocks, n_scan_blocks, n_rows, n_scan_rows,
          |  CAST(round(CAST(n_scan_rows::DOUBLE / n_rows::DOUBLE
          |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS scan_row_frac
          |FROM (
          |${census("bydate", "day", "mnd", "mxd")}
          |UNION ALL
          |${census("natural", "okey", "mno", "mxo")}
          |UNION ALL
          |${census("zorder", "zkey", "mnz", "mxz")})
          |ORDER BY layout""".stripMargin
      }),

    // Open-order backlog curve — the interval-concurrency sweep:
    // every order contributes +1 at its open date and −1 the day
    // after its last lineitem receipt; the running sum of the daily
    // net IS the number of simultaneously-open orders. The naive
    // encoding (per-day point-in-interval join, days × orders) is
    // quadratic; the sweep is one join to build intervals, one
    // aggregate to |days| net rows, and a cumulative window over the
    // BOUNDED day frame (~2.5k rows at any corpus size — the window
    // is calendar-bounded, not data-bounded). The same shape prices
    // concurrent sessions, open connections, or active leases at
    // 100 TB.
    QueryDef("orders_open_backlog_daily",
      (s, dir) => {
        val closes = Tables.load(s, dir, "lineitem")
          .groupBy(col("l_orderkey").as("ok"))
          .agg(max(to_date(col("l_shipdate"))).as("close_d"))
        val opens = Tables.load(s, dir, "orders")
          .select(col("o_orderkey").as("ok"),
            to_date(col("o_orderdate")).as("open_d"))
        val iv = opens.join(closes, "ok")
        val deltas = iv.select(col("open_d").as("day"), lit(1L).as("dl"))
          .unionByName(iv.select(date_add(col("close_d"), 1).as("day"),
            lit(-1L).as("dl")))
          .groupBy(col("day")).agg(sum(col("dl")).as("net"))
        // unpartitioned window safe: ≤ |calendar days| rows by
        // construction (the aggregation above collapsed the data)
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        deltas.withColumn("open_orders", sum(col("net")).over(w))
          .orderBy(col("day"))
      },
      Some("""WITH c AS (
        |  SELECT l_orderkey AS ok, max(l_shipdate::DATE) AS close_d
        |  FROM lineitem GROUP BY 1),
        |iv AS (
        |  SELECT o_orderdate::DATE AS open_d, close_d
        |  FROM orders JOIN c ON o_orderkey = c.ok),
        |d AS (
        |  SELECT open_d AS day, 1::BIGINT AS dl FROM iv
        |  UNION ALL
        |  SELECT close_d + 1, -1::BIGINT FROM iv),
        |n AS (SELECT day, SUM(dl)::BIGINT AS net FROM d GROUP BY 1)
        |SELECT day, net,
        |  CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS open_orders
        |FROM n ORDER BY day""".stripMargin)),

    // Market-basket pair lift — co-occurrence mining over order
    // baskets: support counts for part pairs bought together and
    // lift = P(both)/(P(a)·P(b)) against independence. The pair
    // generation is a self-equi-join on the ORDER key, so the blowup
    // per order is C(basket,2) with TPC-H baskets ≤ 7 lines — the
    // output stream is a small constant times lineitem, never
    // catalog² (the classic a-priori trap would be joining on part).
    // One distinct, one co-partitioned self-join, two aggregates,
    // TakeOrdered top-20; singles broadcast onto the pair counts.
    // Lift arithmetic is (n_both·N)/(n1·n2) in IEEE double with
    // pinned parenthesization, rounded through DECIMAL — bit-equal
    // cross-engine.
    QueryDef("basket_pairs_lift",
      (s, dir) => {
        // four consumers (count, singles, both join legs) — checkpoint
        // the distinct basket frame once or each re-runs scan+distinct
        // (the drift_js_sources multi-consumer lesson; plan census
        // showed 7 exchanges without it)
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .stageCheckpoint(true)
        val nOrders = li.select(countDistinct(col("ok"))).head().getLong(0)
        val singles = li.groupBy(col("pk")).agg(count(lit(1)).as("np"))
        val pairs = li.as("a")
          .join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
          .agg(count(lit(1)).as("n_both"))
          .where(col("n_both") >= 3)
        pairs
          .join(broadcast(singles.withColumnRenamed("pk", "p1")
            .withColumnRenamed("np", "np1")), "p1")
          .join(broadcast(singles.withColumnRenamed("pk", "p2")
            .withColumnRenamed("np", "np2")), "p2")
          .select(col("p1"), col("p2"), col("n_both"),
            col("np1"), col("np2"),
            round(((col("n_both").cast("double") * nOrders.toDouble) /
              (col("np1").cast("double") * col("np2").cast("double")))
              .cast(DecimalType(18, 8)), 6).cast("double").as("lift"))
          .orderBy(col("lift").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some("""WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT ok) AS total FROM li),
        |s AS (SELECT pk, COUNT(*) AS np FROM li GROUP BY 1),
        |p AS (
        |  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) >= 3)
        |SELECT p1, p2, n_both::BIGINT AS n_both,
        |  s1.np AS np1, s2.np AS np2,
        |  CAST(round(CAST((n_both::DOUBLE * (SELECT total FROM n)::DOUBLE) /
        |    (s1.np::DOUBLE * s2.np::DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS lift
        |FROM p
        |JOIN s s1 ON s1.pk = p.p1
        |JOIN s s2 ON s2.pk = p.p2
        |ORDER BY lift DESC, p1, p2 LIMIT 20""".stripMargin)),

    // RFM customer segmentation — the classic recency / frequency /
    // monetary bucketing behind lifecycle marketing reports. One
    // per-customer aggregate on the natural key (combiner-friendly),
    // scan-local bucket assignment against fixed edges (no ntile — a
    // global sort over customers would be the scale mistake), then a
    // tiny segment rollup. Monetary sums are decimal-exact.
    QueryDef("rfm_segments",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val per = o.groupBy(col("o_custkey"))
          .agg(max(to_date(col("o_orderdate"))).as("last_day"),
            count(lit(1)).as("freq"),
            dsum(col("o_totalprice")).as("monetary"))
        per.select(
            when(col("last_day") >= "2000-01-01", "active")
              .otherwise("lapsed").as("recency"),
            when(col("freq") >= 15, "frequent")
              .otherwise("occasional").as("frequency"),
            when(col("monetary") >= 1500000.0, "big")
              .otherwise("small").as("monetary_band"),
            col("monetary"))
          .groupBy(col("recency"), col("frequency"), col("monetary_band"))
          .agg(count(lit(1)).as("n_customers"),
            dsum(col("monetary")).as("total_spend"))
          .orderBy(col("recency"), col("frequency"), col("monetary_band"))
      },
      Some("""WITH per AS (
        |  SELECT o_custkey,
        |    MAX(o_orderdate::DATE) AS last_day,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT
        |    CASE WHEN last_day >= DATE '2000-01-01' THEN 'active'
        |         ELSE 'lapsed' END AS recency,
        |    CASE WHEN freq >= 15 THEN 'frequent'
        |         ELSE 'occasional' END AS frequency,
        |    CASE WHEN monetary >= 1500000.0 THEN 'big'
        |         ELSE 'small' END AS monetary_band,
        |    monetary
        |  FROM per)
        |SELECT recency, frequency, monetary_band,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM seg GROUP BY 1, 2, 3
        |ORDER BY recency, frequency, monetary_band""".stripMargin)),

    // Month-over-month revenue growth — the seasonality/trend report.
    // One month-grain aggregate (combiner-friendly, |months| output
    // rows), then a lag window over the tiny monthly frame; the pct
    // delta goes through the decimal-quotient guard. Raw orders
    // shuffle once.
    QueryDef("orders_monthly_growth",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val monthly = o
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("revenue"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("month")) // |months| rows only
        monthly
          .withColumn("prev_rev", lag(col("revenue"), 1).over(w))
          .withColumn("mom_pct",
            round(((col("revenue") - col("prev_rev"))
              .cast(DecimalType(18, 6)) / col("prev_rev"))
              .cast(DecimalType(18, 8)), 6).cast("double"))
          .select(col("month"), col("n_orders"), col("revenue"), col("mom_pct"))
          .orderBy(col("month"))
      },
      Some("""WITH m AS (
        |  SELECT date_trunc('month', o_orderdate)::DATE AS month,
        |    COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, n_orders, revenue,
        |  CAST(round(CAST(CAST(revenue - lag(revenue) OVER (ORDER BY month)
        |      AS DECIMAL(18,6)) / lag(revenue) OVER (ORDER BY month)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS mom_pct
        |FROM m ORDER BY month""".stripMargin)),

    // Cohort lifetime-value triangle — the acquisition-quality report
    // every subscription/commerce warehouse runs: customers grouped by
    // first-order month (cohort), revenue tracked by months-since
    // (age), with cumulative LTV per original cohort member. Scale
    // shape: one per-customer min() aggregate (combiner-friendly),
    // one join back keyed on the SAME custkey (co-partitioned — AQE
    // broadcasts the cohort side when small), one (cohort, age)
    // rollup, then bounded windows over the ≤ months² triangle.
    // Revenue stays DECIMAL through the cumulative window (a double
    // running sum would be engine/order-dependent); the per-customer
    // LTV is exact integer cents via floor division — no FP anywhere.
    // Kaplan–Meier retention — survival analysis of "days until the
    // next order", censoring included: a customer's gap after their
    // LAST order is censored at the corpus horizon (max order date),
    // the estimator every retention/churn readout should use instead
    // of naive averages (which silently drop or bias censored
    // customers). S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over event times.
    //
    // Cross-engine product: each factor's ln is ROUNDED TO 6dp and
    // the running sum runs in DECIMAL (exact, order-independent) —
    // the Page–Hinkley re-quantization trick — then one exp at the
    // end; a raw running double product would drift in the last ulp
    // between engines. Scale shape: one lead window per customer
    // (shuffle on custkey), then the KM table is bounded by the
    // DURATION DOMAIN (≤ date-span days), so the two single-partition
    // windows (reverse at-risk cumsum, survival cumsum) run over a
    // bounded histogram — the token-budget discipline, never over
    // corpus rows. The d = n edge (everyone at risk dies) floors the
    // factor at 1e-12 identically on both engines → survival rounds
    // to 0.
    QueryDef("orders_survival_km",
      (s, dir) => {
        val dec6 = DecimalType(18, 6)
        val dec8 = DecimalType(18, 8)
        val o = Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"),
            col("o_orderkey"))
        import org.apache.spark.sql.expressions.Window
        val wCust = Window.partitionBy(col("o_custkey"))
          .orderBy(col("d"), col("o_orderkey"))
        val horizon = o.agg(max(col("d")).as("h"))
        val gaps = o
          .withColumn("nxt", lead(col("d"), 1).over(wCust))
          .crossJoin(broadcast(horizon))
          .select(
            when(col("nxt").isNotNull, datediff(col("nxt"), col("d")))
              .otherwise(datediff(col("h"), col("d"))).cast("long").as("t"),
            when(col("nxt").isNotNull, 1L).otherwise(0L).as("event"))
        val tbl = gaps.groupBy(col("t"))
          .agg(sum(col("event")).as("n_event"),
            sum(lit(1L) - col("event")).as("n_censored"))
        val wT = Window.orderBy(col("t"))
        val nRisk = sum(col("n_event") + col("n_censored"))
          .over(wT.rowsBetween(0, Window.unboundedFollowing))
        val term = when(col("n_event") > 0,
          round(log(greatest(lit(1.0) -
            col("n_event").cast("double") / col("n_risk").cast("double"),
            lit(1e-12))), 6).cast(dec6))
          .otherwise(lit(0).cast(dec6))
        tbl.withColumn("n_risk", nRisk)
          .withColumn("__term", term)
          .withColumn("__cum", sum(col("__term"))
            .over(wT.rowsBetween(Window.unboundedPreceding, 0)))
          .where(col("n_event") > 0)
          .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
            round(exp(col("__cum").cast("double")).cast(dec8), 6)
              .cast("double").as("survival"))
          .orderBy(col("t"))
      },
      Some("""WITH o AS (
        |  SELECT o_custkey, o_orderdate::DATE AS d, o_orderkey FROM orders),
        |h AS (SELECT max(d) AS hd FROM o),
        |g AS (
        |  SELECT CASE WHEN nxt IS NOT NULL THEN date_diff('day', d, nxt)
        |              ELSE date_diff('day', d, (SELECT hd FROM h))
        |         END::BIGINT AS t,
        |         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS event
        |  FROM (SELECT d, lead(d) OVER (PARTITION BY o_custkey
        |          ORDER BY d, o_orderkey) AS nxt FROM o)),
        |tbl AS (SELECT t, SUM(event)::BIGINT AS n_event,
        |          SUM(1 - event)::BIGINT AS n_censored
        |        FROM g GROUP BY t),
        |r AS (SELECT *,
        |        SUM(n_event + n_censored) OVER (ORDER BY t
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)::BIGINT
        |          AS n_risk
        |      FROM tbl),
        |s AS (SELECT *,
        |        SUM(CASE WHEN n_event > 0 THEN
        |          CAST(round(ln(greatest(
        |            1.0 - n_event::DOUBLE / n_risk::DOUBLE, 1e-12)), 6)
        |            AS DECIMAL(18,6))
        |          ELSE CAST(0 AS DECIMAL(18,6)) END)
        |          OVER (ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM r)
        |SELECT t, n_risk, n_event, n_censored,
        |  CAST(round(CAST(exp(cum::DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS survival
        |FROM s WHERE n_event > 0 ORDER BY t""".stripMargin)),

    QueryDef("orders_cohort_ltv",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        val withM = o.select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("m"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        val firstM = withM.groupBy(col("o_custkey"))
          .agg(min(col("m")).as("cohort_m"))
        val g = withM.join(firstM, "o_custkey")
          .withColumn("age", col("m") - col("cohort_m"))
          .groupBy(col("cohort_m"), col("age"))
          .agg(countDistinct(col("o_custkey")).as("n_active"),
            count(lit(1)).as("n_orders"),
            sum(col("price")).as("rev_dec"))
        val byCohort = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cohort_m")) // ≤ |months| rows per cohort
        val cumW = byCohort.orderBy(col("age"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        g.withColumn("cohort_size",
            max(when(col("age") === 0, col("n_active"))).over(byCohort))
          .withColumn("cum_rev", sum(col("rev_dec")).over(cumW))
          .select(
            make_date((col("cohort_m") / 12).cast("int"),
              pmod(col("cohort_m"), lit(12)).cast("int") + 1, lit(1))
              .as("cohort_month"),
            col("age").as("age_months"),
            col("n_active"), col("n_orders"),
            col("rev_dec").cast("double").as("revenue"),
            // exact integer cents: a decimal/double division rounded
            // to 6 landed on a half-ulp boundary at sf0.01 (the
            // classic cross-engine .XXXXX50 edge) — floor-divided
            // cents are bit-identical everywhere
            expr("CAST(cum_rev * 100 AS BIGINT) div cohort_size")
              .as("ltv_cents_per_customer"))
          .orderBy(col("cohort_month"), col("age_months"))
      },
      Some("""WITH o2 AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT AS m,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort_m FROM o2 GROUP BY 1),
        |g AS (
        |  SELECT cohort_m, o2.m - cohort_m AS age,
        |    COUNT(DISTINCT o2.o_custkey)::BIGINT AS n_active,
        |    COUNT(*) AS n_orders, SUM(price) AS rev_dec
        |  FROM o2 JOIN f USING (o_custkey) GROUP BY 1, 2),
        |w AS (
        |  SELECT *,
        |    max(CASE WHEN age = 0 THEN n_active END)
        |      OVER (PARTITION BY cohort_m) AS cohort_size,
        |    SUM(rev_dec) OVER (PARTITION BY cohort_m ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM g)
        |SELECT make_date((cohort_m // 12)::INT, (cohort_m % 12 + 1)::INT, 1)
        |    AS cohort_month,
        |  age AS age_months, n_active, n_orders,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  (CAST(cum_rev * 100 AS BIGINT) // cohort_size)
        |    AS ltv_cents_per_customer
        |FROM w ORDER BY cohort_month, age_months""".stripMargin)),

    // Q13 shape — customer order-count distribution: LEFT join so
    // zero-order customers land in the c_count=0 bucket, then a
    // distribution over the counts. Two aggregations, each one
    // shuffle: per-customer (natural key, combiner-friendly) and the
    // tiny count-of-counts rollup.
    QueryDef("q13_order_distribution",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer").select(col("c_custkey"))
        val o = Tables.load(s, dir, "orders")
          .where(col("o_orderpriority") =!= "1-URGENT")
          .select(col("o_custkey"), col("o_orderkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q15 shape — top supplier(s) by quarterly revenue: the revenue
    // "view" is one shuffle on suppkey; the scalar max comes back as a
    // broadcast (a one-row frame), so selecting the argmax adds no
    // second wide exchange. Revenue sums as DECIMAL, so the max and
    // the equality filter agree across engines and partitionings.
    QueryDef("q15_top_supplier",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
        val rev = li.groupBy(col("l_suppkey"))
          .agg(sum(revTerm).as("__rev"))
        val top = rev.agg(max(col("__rev")).as("__top"))
        val su = Tables.load(s, dir, "supplier")
        rev.join(broadcast(top), col("__rev") === col("__top"))
          .join(su, col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("__rev").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        CAST(1 - l_discount AS DECIMAL(18,2))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |  CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // Q17 shape — small-quantity revenue for one brand, against a
    // correlated per-part average. The correlation becomes a
    // self-aggregate + rejoin on partkey: brand-filtered parts prune
    // BOTH scans before any shuffle (the avg only needs lines of the
    // brand's parts), and the per-part avg is decimal-exact so the
    // 0.2·avg threshold compares identically in both engines.
    QueryDef("q17_small_quantity_revenue",
      (s, dir) => {
        val p = Tables.load(s, dir, "part")
          .where(col("p_brand") === "Brand#23").select(col("p_partkey"))
        val li = Tables.load(s, dir, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
        val avgQ = li.groupBy(col("l_partkey").as("__pk"))
          .agg((sum(col("l_quantity").cast(DecimalType(18, 2)))
            / count(lit(1))).cast("double").as("__avg"))
        li.join(avgQ, col("l_partkey") === col("__pk"))
          .where(col("l_quantity") < lit(0.2) * col("__avg"))
          .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
            count(lit(1)).as("n_lines"))
      },
      Some("""WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |li AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |       WHERE l_partkey IN (SELECT p_partkey FROM pk)),
        |a AS (SELECT l_partkey AS pk,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE) AS avg_q
        |      FROM li GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  COUNT(*) AS n_lines
        |FROM li JOIN a ON l_partkey = pk
        |WHERE l_quantity < 0.2 * avg_q""".stripMargin)),

    // Q22 adaptation (no c_phone in this schema → grouped by nation;
    // every customer here has SOME order, so dormancy = no order
    // since 2000-01-01): high-balance customers gone quiet. The
    // three-piece shape: a broadcast scalar threshold (one row), a
    // left-anti join against the fact's (filtered) key column only —
    // the date predicate pushes to the orders scan and the anti-join
    // shuffle ships custkeys, not orders — and a broadcast dim
    // rollup. Decimal average and sums for cross-engine exactness.
    QueryDef("q22_sales_opportunity",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders")
        val n = Tables.load(s, dir, "nation")
        val avgBal = c.where(col("c_acctbal") > 0)
          .agg((sum(col("c_acctbal").cast(DecimalType(18, 2)))
            / count(lit(1))).cast("double").as("__ab"))
        val recent = o.where(col("o_orderdate") >= lit("2000-01-01"))
          .select(col("o_custkey"))
        c.crossJoin(broadcast(avgBal))
          .where(col("c_acctbal") > col("__ab"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_custs"),
            dsum(col("c_acctbal")).as("total_bal"))
          .orderBy(col("n_name"))
      },
      Some("""WITH ab AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) / COUNT(*)
        |    AS DOUBLE) AS ab
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, COUNT(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |CROSS JOIN ab
        |WHERE c_acctbal > ab
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // Q2 shape — correlated-min subquery: for each part, the
    // region-restricted supplier(s) whose offer price equals the
    // part's minimum. The testdata has no partsupp table, so "supply
    // cost" is derived from lineitem: min l_extendedprice per (part,
    // supplier). The correlated `WHERE cost = (SELECT min ...)` is
    // decorrelated Spark-first: aggregate once per (part, supplier),
    // re-aggregate per part, equi-join back on (partkey, cost) — an
    // aggregate + back-join, never a per-row subquery or cartesian.
    // At 100 TB both aggregates and the back-join hash-partition on
    // partkey (the second agg reuses the first's output, far smaller
    // than lineitem); the region dimension (supplier⋈nation⋈region)
    // broadcasts into the fact scan. min() over doubles is
    // order-independent, so cost equality is bit-exact cross-engine;
    // the sort adds (p_partkey, s_name) after s_acctbal to pin tie
    // order.
    QueryDef("q2_min_cost_supplier",
      (s, dir) => {
        val eu = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.load(s, dir, "region")
              .where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            col("n_name"))
        val cost = Tables.load(s, dir, "lineitem")
          .join(broadcast(eu.select(col("s_suppkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("l_extendedprice")).as("min_cost"))
        val mc = cost.groupBy(col("l_partkey"))
          .agg(min(col("min_cost")).as("__mc"))
        cost.join(mc.withColumnRenamed("l_partkey", "__pk"),
            col("l_partkey") === col("__pk") && col("min_cost") === col("__mc"))
          .join(Tables.load(s, dir, "part").where(col("p_size") <= 20),
            col("p_partkey") === col("l_partkey"))
          .join(broadcast(eu), col("s_suppkey") === col("l_suppkey"))
          .select(col("p_partkey"), col("p_brand"), col("s_name"),
            col("n_name"), col("s_acctbal"), col("min_cost"))
          .orderBy(desc("s_acctbal"), col("p_partkey"), col("s_name"))
      },
      Some("""WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_cost
        |  FROM lineitem JOIN eu ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS pk, min(min_cost) AS m FROM cost GROUP BY 1)
        |SELECT p.p_partkey, p.p_brand, e.s_name, e.n_name, e.s_acctbal,
        |       c.min_cost
        |FROM cost c
        |JOIN mc ON c.l_partkey = mc.pk AND c.min_cost = mc.m
        |JOIN part p ON p.p_partkey = c.l_partkey
        |JOIN eu e ON e.s_suppkey = c.l_suppkey
        |WHERE p.p_size <= 20
        |ORDER BY e.s_acctbal DESC, p.p_partkey, e.s_name""".stripMargin)),

    // Q11 shape — global-fraction HAVING: parts whose Europe-supplied
    // value exceeds 0.1 % of ALL Europe-supplied value. The correlated
    // scalar (the global sum) is a one-row aggregate broadcast into
    // the per-part HAVING filter — at 100 TB the fact scan feeds both
    // aggregates and the only extra cost of the threshold is a 1-row
    // broadcast, never a second pass. Sums go through the decimal
    // guard (dsum) so the threshold compare is bit-exact cross-engine;
    // 0.001 × total multiplies identically in IEEE double.
    QueryDef("q11_important_parts",
      (s, dir) => {
        val eu = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.load(s, dir, "region")
              .where(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"))
        val li = Tables.load(s, dir, "lineitem")
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
        val pv = li.groupBy(col("l_partkey"))
          .agg(dsum(col("l_extendedprice")).as("part_value"))
        val tot = li.agg(dsum(col("l_extendedprice")).as("__t"))
        pv.crossJoin(broadcast(tot))
          .where(col("part_value") > col("__t") * 0.001)
          .select(col("l_partkey"), col("part_value"))
          .orderBy(desc("part_value"), col("l_partkey"))
      },
      Some("""WITH eu AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |li AS (SELECT l_partkey, l_extendedprice
        |       FROM lineitem JOIN eu ON l_suppkey = s_suppkey),
        |pv AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS part_value
        |  FROM li GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS t FROM li)
        |SELECT l_partkey, part_value
        |FROM pv CROSS JOIN t
        |WHERE part_value > t * 0.001
        |ORDER BY part_value DESC, l_partkey""".stripMargin)),

    // Q20 shape — existential over a correlated aggregate: suppliers
    // that dominate some part, shipping more than 2× the part's mean
    // per-supplier volume (a FIXED share like "half the total" decays
    // to an empty answer as supplier count grows with scale; the
    // mean-relative threshold stays live at every SF). Decorrelated
    // the same way as Q2: per-(part, supplier) and per-part
    // aggregates, equi-join, threshold, then the supplier roll-up —
    // the EXISTS never evaluates per row. The threshold arithmetic is
    // one double divide + an exact power-of-two multiply on
    // decimal-exact sums, bit-identical cross-engine. At 100 TB both
    // aggregates hash-partition on partkey; supplier names broadcast.
    // ONE fact scan: the per-part totals re-aggregate the per-(part,
    // supplier) frame — qty is exact to 2 decimals, so re-summing it
    // as DECIMAL(18,2) equals summing the raw column, and ns is a
    // plain count (ps is distinct on the key by construction), not a
    // COUNT(DISTINCT) over lineitem. Halves the fact shuffle volume.
    QueryDef("q20_dominant_suppliers",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val ps = li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(dsum(col("l_quantity")).as("qty"))
        val pt = ps.groupBy(col("l_partkey"))
          .agg(dsum(col("qty")).as("__tq"), count(lit(1)).as("__ns"))
          .withColumnRenamed("l_partkey", "__pk")
        val sup = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        ps.join(pt, col("l_partkey") === col("__pk"))
          .where(col("qty") > col("__tq") * 2 / col("__ns"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_dominated_parts"))
          .join(broadcast(sup), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_name"), col("n_name"), col("n_dominated_parts"))
          .orderBy(desc("n_dominated_parts"), col("s_name"))
      },
      Some("""WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |pt AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS tq,
        |    COUNT(*) AS ns
        |  FROM ps GROUP BY 1),
        |dom AS (
        |  SELECT ps.l_suppkey, COUNT(*) AS n_dominated_parts
        |  FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
        |  WHERE ps.qty > pt.tq * 2 / ns
        |  GROUP BY 1)
        |SELECT s_name, n_name, n_dominated_parts
        |FROM dom
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_dominated_parts DESC, s_name""".stripMargin)),

    // Q9 shape — product-profit rollup: profit per (supplier nation,
    // order year) over the full star (fact ⋈ orders ⋈ supplier ⋈
    // nation ⋈ part). No partsupp in this schema, so supply cost is
    // p_retailprice × quantity — the measure SHAPE (a two-term
    // decimal-exact difference aggregated over a 4-dimension join) is
    // the point. All dims broadcast; the fact shuffles once into the
    // (nation, year) aggregate; both product terms go through
    // DECIMAL(18,2) so the profit sum is bit-exact cross-engine.
    QueryDef("q9_product_profit",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
        val sn = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name"))
        val p = Tables.load(s, dir, "part")
          .where(col("p_name").like("%a%"))
          .select(col("p_partkey"), col("p_retailprice"))
        val profit = revTerm -
          col("p_retailprice").cast(DecimalType(18, 2)) *
            col("l_quantity").cast(DecimalType(18, 2))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("n_name"), col("yr"))
          .agg(sum(profit).cast("double").as("profit"))
          .orderBy(col("n_name"), desc("yr"))
      },
      Some("""SELECT n_name, year(o_orderdate)::INT AS yr,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * CAST(1 - l_discount AS DECIMAL(18,2))
        |           - CAST(p_retailprice AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE '%a%'
        |GROUP BY 1, 2
        |ORDER BY n_name, yr DESC""".stripMargin)),

    // Q16 shape — attribute-bucketed supplier diversity with an
    // exclusion subquery: distinct suppliers per (brand, type, size)
    // for selected sizes, EXCLUDING a supplier denylist (adapted to
    // s_acctbal < 0 — no comment field exists). The NOT IN becomes a
    // broadcast anti join on the fact before aggregation;
    // COUNT(DISTINCT) runs as Spark's two-phase distinct aggregate —
    // partials dedup (key, supplier) map-side, so the wide shuffle
    // carries distinct pairs, not raw fact rows.
    QueryDef("q16_supplier_diversity",
      (s, dir) => {
        val sizes = Seq(1, 5, 9, 13, 17, 21, 25, 29)
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
          .where(col("p_size").isin(sizes: _*))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        val bad = Tables.load(s, dir, "supplier")
          .where(col("s_acctbal") < 0).select(col("s_suppkey"))
        li.join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q21 shape — double correlation (EXISTS + NOT EXISTS on the same
    // fact): suppliers solely to blame for a multi-supplier order's
    // returns (some OTHER supplier exists on the order; no OTHER
    // supplier has returned lines). Both correlations decorrelate to
    // per-order aggregates on the same orderkey partitioning —
    // "≥2 distinct suppliers" and "exactly 1 blamed supplier" are
    // HAVING filters, the blame identity rides along as min() of the
    // single survivor, and the order-level frames semi-join on
    // orderkey. Nothing evaluates per (row × subquery); at 100 TB
    // this is two hash aggregates and one equi-join sharing one
    // shuffle key, with supplier names broadcast at the end.
    // ONE fact scan: a single distinct-(order, supplier) aggregate
    // carries a "did this supplier return anything on this order"
    // flag; both correlations ("≥2 suppliers", "exactly 1 blamed")
    // then re-aggregate that frame per order — the fact is scanned
    // and shuffled once, and both HAVING filters ride the same
    // orderkey partitioning.
    QueryDef("q21_sole_blame_suppliers",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val os = li.groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
            .as("__r"))
        val orders = os.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("__ns"),
            sum(col("__r")).as("__nb"),
            min(when(col("__r") === 1, col("l_suppkey"))).as("blamed"))
          .where(col("__ns") >= 2 && col("__nb") === 1)
        val sup = Tables.load(s, dir, "supplier")
          .join(broadcast(Tables.load(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        orders
          .groupBy(col("blamed"))
          .agg(count(lit(1)).as("n_orders"))
          .join(broadcast(sup), col("s_suppkey") === col("blamed"))
          .select(col("s_name"), col("n_name"), col("n_orders"))
          .orderBy(desc("n_orders"), col("s_name"))
          .limit(20)
      },
      Some("""WITH os AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |sole AS (
        |  SELECT l_orderkey,
        |    MIN(CASE WHEN r = 1 THEN l_suppkey END) AS blamed
        |  FROM os GROUP BY 1
        |  HAVING COUNT(*) >= 2 AND SUM(r) = 1)
        |SELECT s_name, n_name, COUNT(*) AS n_orders
        |FROM sole
        |JOIN supplier ON s_suppkey = blamed
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, s_name
        |LIMIT 20""".stripMargin))
  )
}
