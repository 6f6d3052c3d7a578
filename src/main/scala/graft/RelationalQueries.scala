package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions._
import graft.ops.Relational
import graft.ops.Stage.StagedFrame

/** Relational / ETL query registry (SURVEY §2.2–§2.5) over the
  * TPC-H-ish tables. Each query is the declarative plan you'd want at
  * 100 TB: filters/projections reach the scan, small dimensions are
  * broadcast, aggregates get map-side partials, top-k is
  * TakeOrderedAndProject (no global sort shuffle).
  */
object RelationalQueries {

  /** Monetary sums go through DECIMAL(18,2) so the distributed sum is
    * exact and order-independent — see GraftFunctions.dsum.
    */
  private val sumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  private val sumPrice = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
  private val sumRevenue =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  def defs: Seq[QueryDef] = Seq(

    // A1/A5-shape — TPC-H Q1-style pricing summary: scan one table,
    // filter pushed to parquet, hash agg with map-side partials.
    QueryDef("q1_pricing_summary",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        | $sumQty AS sum_qty,
        | $sumPrice AS sum_base_price,
        | $sumRevenue AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // J — fact⋈fact join + group + top-k. orders side is filtered before
    // the join; final top-10 runs as TakeOrderedAndProject.
    QueryDef("q3_topk_revenue",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        val o = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
          .orderBy(desc("revenue"), col("o_custkey"))
          .limit(10)
      },
      Some(s"""SELECT o_custkey, $sumRevenue AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > TIMESTAMP '1998-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey
        |LIMIT 10""".stripMargin)),

    // J — multi-way star join (TPC-H Q5 shape): local-supplier revenue
    // by nation for one region+year. nation/region/supplier/customer are
    // broadcast dims; only lineitem⋈orders shuffles.
    QueryDef("q5_local_supplier_revenue",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val c = Tables.load(s, dir, "customer")
        val su = Tables.load(s, dir, "supplier")
        val n = Tables.load(s, dir, "nation")
        val r = Tables.load(s, dir, "region").where(col("r_name") === "ASIA")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
          .orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name, $sumRevenue AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin)),

    // J — two-role dimension join (TPC-H Q7 shape): shipping volume
    // between two nations, with the nation table joined twice under
    // different roles (supplier side, customer side). Both roles are
    // broadcast; the fact-side join is the only shuffle.
    QueryDef("q7_volume_shipping",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val su = Tables.load(s, dir, "supplier")
        val n1 = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.load(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .where(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate)::INT AS l_year, $sumRevenue AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name < n2.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // J+topk — returned-items report (TPC-H Q10 shape).
    QueryDef("q10_returned_items",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem").where(col("l_returnflag") === "R")
        val o = Tables.load(s, dir, "orders")
        val c = Tables.load(s, dir, "customer")
        val n = Tables.load(s, dir, "nation")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"))
          .orderBy(desc("revenue"), col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name, n_name, $sumRevenue AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    // A+having — large-order customers (TPC-H Q18 shape): aggregate,
    // HAVING filter, then join back for the report.
    QueryDef("q18_large_orders",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val big = li.groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("sum_qty"))
          .where(col("sum_qty") > 150)
        o.join(big, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("sum_qty"))
          .orderBy(desc("sum_qty"), col("o_orderkey"))
          .limit(20)
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_orderdate, sum_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, $sumQty AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING $sumQty > 150) b ON o_orderkey = b.l_orderkey
        |ORDER BY sum_qty DESC, o_orderkey
        |LIMIT 20""".stripMargin)),

    // J3 — anti join: customers with no orders, by segment.
    QueryDef("anti_join_no_orders",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        val o = Tables.load(s, dir, "orders").select(col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)),

    // J3 — semi join: nations having at least one >N-acctbal supplier.
    QueryDef("semi_join_supplier_nations",
      (s, dir) => {
        val n = Tables.load(s, dir, "nation")
        val su = Tables.load(s, dir, "supplier").where(col("s_acctbal") > 5000)
        n.join(su, col("n_nationkey") === col("s_nationkey"), "left_semi")
          .select(col("n_nationkey"), col("n_name"))
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey, n_name
        |FROM nation
        |WHERE EXISTS (SELECT 1 FROM supplier
        |              WHERE s_nationkey = n_nationkey AND s_acctbal > 5000)
        |ORDER BY n_nationkey""".stripMargin)),

    // J+A — revenue by part brand (exercises the part dimension):
    // broadcast part, aggregate on the fact side, top-10.
    QueryDef("part_brand_revenue",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val p = Tables.load(s, dir, "part")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(dsumProduct(col("l_extendedprice"), lit(1) - col("l_discount")).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(desc("revenue"), col("p_brand"))
          .limit(10)
      },
      Some(s"""SELECT p_brand, $sumRevenue AS revenue, COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand
        |LIMIT 10""".stripMargin)),

    // A2 — first-per-group dedup with explicit deterministic order
    // (reference keeps first-in-file; etl_sampling_by_key.py:42-53).
    QueryDef("dedup_first_order_per_customer",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        Relational.dedupFirst(o, Seq("o_custkey"),
            Seq(col("o_orderdate"), col("o_orderkey")))
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin)),

    // O1 — per-group capped sample, deterministic hash order
    // (etl_sampling_by_key.py:56-80).
    QueryDef("group_sample_lineitem",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        Relational.groupSample(li, Seq("l_suppkey"), 5,
            Seq(col("l_orderkey"), col("l_linenumber")))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some(s"""SELECT l_suppkey, l_orderkey, l_linenumber
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |          ORDER BY ${detHashSql(1000003L, Seq("l_orderkey", "l_linenumber"))},
        |                   l_orderkey, l_linenumber) AS rn
        |      FROM lineitem)
        |WHERE rn <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // O2 — group-wise train/val/test split, no key leakage
    // (etl_split_data_by_key.py:27-55). Verified via split sizes.
    QueryDef("group_split_customers",
      (s, dir) => {
        val c = Tables.load(s, dir, "customer")
        Relational.groupSplit(c, "c_custkey", 80, 10)
          .groupBy(col("split")).agg(count(lit(1)).as("n"))
          .orderBy(col("split"))
      },
      Some(s"""SELECT split, COUNT(*) AS n
        |FROM (SELECT CASE
        |        WHEN ${detHashSql(100L, Seq("c_custkey"))} < 80 THEN 'train'
        |        WHEN ${detHashSql(100L, Seq("c_custkey"))} < 90 THEN 'val'
        |        ELSE 'test' END AS split
        |      FROM customer)
        |GROUP BY split
        |ORDER BY split""".stripMargin)),

    // A4 — group-size distribution, descending
    // (etl_sampling_by_key.py:83-90).
    QueryDef("distribution_orders_by_priority",
      (s, dir) => Relational.distribution(
        Tables.load(s, dir, "orders"), "o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY cnt DESC, o_orderpriority""".stripMargin)),

    // Hierarchical rollup report: (priority, status) -> priority
    // subtotals -> grand total in one pass (Spark Expand feeds a
    // single hash aggregate — no re-scan per level, the shape that
    // matters when the fact table is 100 TB). Rollup nulls coalesce
    // to 'ALL' so ordering needs no cross-engine NULLS FIRST/LAST
    // gymnastics.
    QueryDef("orders_rollup",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        o.rollup(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .select(
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            col("n_orders"), col("sum_price"))
          .orderBy(col("priority"), col("status"))
      },
      Some("""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin)),

    // P5 — low-length filter (etl_slimpajama_dc_proc.py:140-144).
    QueryDef("length_filter_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Relational.lengthFilter(d, "text", 60)
          .select(col("doc_id"), wordCount(col("text")).as("n_words"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, len(string_split(text, ' '))::INT AS n_words
        |FROM documents
        |WHERE len(string_split(text, ' ')) >= 60
        |ORDER BY doc_id""".stripMargin)),

    // O3/O4 — deterministic global shuffle + head-n (reference
    // shuffles with a fixed seed then slices; the hash order is the
    // partitioning-independent equivalent). Runs as top-k, not a full
    // sort.
    QueryDef("shuffle_limit_orders",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        Relational.shuffleLimit(o, Seq(col("o_orderkey")), 20)
          .select(col("o_orderkey"), col("o_custkey"))
      },
      Some(s"""SELECT o_orderkey, o_custkey
        |FROM orders
        |ORDER BY ${detHashSql(1000003L, Seq("o_orderkey"))}, o_orderkey
        |LIMIT 20""".stripMargin)),

    // P1+P4 — scope projection with invalid-value filtering
    // (instructions_runners.py:42-61).
    QueryDef("scope_project_documents",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        Relational.scopeProjectValid(d, Seq("doc_id", "text", "lang"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang
        |FROM documents
        |WHERE (doc_id IS NOT NULL)
        |   OR (text IS NOT NULL
        |       AND text NOT IN ('', ' ', '   ', chr(10), 'NA', 'N/A'))
        |   OR (lang IS NOT NULL
        |       AND lang NOT IN ('', ' ', '   ', chr(10), 'NA', 'N/A'))
        |ORDER BY doc_id""".stripMargin)),

    // Join dry-run (Relational.joinSizeProbe): exact output
    // cardinality + hottest-key contribution of lineitem ⋈ orders,
    // from two key-count aggregates — never the join itself. The gate
    // also runs the REAL join once (affordable at test scale) and
    // cross-joins its count in, so the oracle proves est_rows ==
    // actual_rows: the probe is exact, not an estimate. At 100 TB
    // only the probe runs — it is the go/no-go (and
    // plain-vs-saltedJoin) decision for the join it predicts. Probe
    // arithmetic is DECIMAL(38,0) INTERNALLY (mirrored here) so the
    // exploding-regime sum can't wrap, but the report columns are
    // BIGINT behind an in-range check (overflow → NULL, loud) — a
    // decimal OUTPUT column hash-breaks the cross-engine compare
    // (DuckDB renders DECIMAL(38,0) as float64 in pandas/arrow).
    QueryDef("join_size_probe",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val o = Tables.load(s, dir, "orders")
        val probe = Relational.joinSizeProbe(li, o, "l_orderkey", "o_orderkey")
        val actual = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("actual_rows"))
        probe.crossJoin(broadcast(actual))
      },
      Some("""WITH ca AS (
        |  SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1),
        |cb AS (
        |  SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1),
        |p AS (SELECT ca.ca::DECIMAL(19,0) * cb.cb::DECIMAL(19,0) AS p
        |  FROM ca JOIN cb ON ca.k = cb.k),
        |probe AS (
        |  SELECT SUM(p) AS est, COUNT(*) AS n_join_keys, MAX(p) AS mx
        |  FROM p),
        |actual AS (
        |  SELECT COUNT(*) AS actual_rows
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT
        |  CASE WHEN n_join_keys = 0 THEN 0
        |       WHEN est <= 9223372036854775807::DECIMAL(38,0)
        |       THEN est::BIGINT END AS est_rows,
        |  n_join_keys,
        |  CASE WHEN n_join_keys = 0 THEN 0
        |       WHEN mx <= 9223372036854775807::DECIMAL(38,0)
        |       THEN mx::BIGINT END AS max_key_rows,
        |  actual_rows
        |FROM probe CROSS JOIN actual""".stripMargin)),

    // Key-skew diagnostics (Relational.skewReport) on the customer
    // key of orders — the "should I salt this shuffle" probe. All
    // columns derive from per-key counts; the p99 walk runs over
    // counts-of-counts (≤ √(2n) rows). DuckDB sums BIGINT into
    // HUGEINT, so the oracle casts n_rows back explicitly.
    QueryDef("skew_report",
      (s, dir) => {
        val o = Tables.load(s, dir, "orders")
        Relational.skewReport(o, "o_custkey")
      },
      Some("""WITH c AS (
        |  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |st AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys, max(c) AS max_cnt FROM c),
        |hot AS (SELECT min(k) AS hot_key FROM c, st WHERE c = max_cnt),
        |cc AS (SELECT c, count(*) AS nk FROM c GROUP BY 1),
        |w AS (SELECT c, sum(nk) OVER (ORDER BY c) AS cum FROM cc),
        |p AS (SELECT min(CASE WHEN cum >= greatest(1,
        |    CAST(ceil(0.99 * n_keys) AS BIGINT)) THEN c END) AS p99_cnt
        |  FROM w, st)
        |SELECT n_rows, n_keys, max_cnt, hot_key, p99_cnt,
        |  CAST(round(CAST(max_cnt::DOUBLE * n_keys::DOUBLE / n_rows::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS skew_ratio
        |FROM st, hot, p""".stripMargin)),

    // Pareto / ABC revenue concentration: customers bucketed into
    // revenue deciles and the cumulative share curve (decile 0 = top
    // spenders; cum_rev_frac at decile 1 answers "do 20% of customers
    // carry 80% of revenue"). Scale shape: NO global rank window —
    // decile boundaries come from the exact-quantile two-pass
    // bracketing (driver state = O(quantiles), only bucket counts
    // move), bucket assignment is 9 broadcast-literal comparisons at
    // scan time, and the cumulative window runs over exactly 10 rows.
    // The oracle reproduces the same type-1 boundary rule
    // (rank = max(1, ceil(p·n))) with a brute-force row_number.
    QueryDef("orders_pareto_deciles",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val d2 = DecimalType(18, 2)
        val o = Tables.load(s, dir, "orders")
        // localCheckpoint: the bracketing rounds + the report both read
        // the per-customer rollup; without it every quantile round
        // re-aggregates the fact table. |customers| ≪ |orders| at any
        // scale, executor-local blocks, freed with the session cache.
        val rev = o.groupBy(col("o_custkey"))
          .agg(dsum(col("o_totalprice")).as("rev"))
          .stageCheckpoint(true)
        val (_, bounds) = graft.ops.Quantile.exactQuantiles(rev, "rev",
          (1 to 9).map(_ / 10.0))
        val dAsc = bounds.map(b => when(col("rev") > lit(b), 1).otherwise(0))
          .reduce(_ + _)
        val tot = rev.agg(sum(col("rev").cast(d2)).as("__tr"))
        val per = rev.withColumn("decile", (lit(9) - dAsc).cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rev").cast(d2)).as("drev"))
        val wc = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        per.crossJoin(broadcast(tot))
          .select(col("decile"), col("n_customers"),
            col("drev").cast("double").as("revenue"),
            round((col("drev").cast("double") / col("__tr").cast("double"))
              .cast(dec), 6).cast("double").as("rev_frac"),
            round((sum(col("drev")).over(wc).cast("double") /
              col("__tr").cast("double")).cast(dec), 6).cast("double")
              .as("cum_rev_frac"))
          .orderBy(col("decile"))
      },
      Some {
        val bDefs = (1 to 9).map(p =>
          s"max(CASE WHEN rn = greatest(1, CAST(ceil(0.$p * n) AS BIGINT)) " +
          s"THEN rev END) AS b$p").mkString(",\n|  ")
        val dAsc = (1 to 9).map(p =>
          s"(CASE WHEN r.rev > b.b$p THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT rev, row_number() OVER (ORDER BY rev) AS rn,
        |    count(*) OVER () AS n
        |  FROM rev),
        |b AS (SELECT
        |  $bDefs
        |  FROM s),
        |dc AS (
        |  SELECT r.rev, 9 - ($dAsc) AS decile
        |  FROM rev r, b),
        |tot AS (SELECT SUM(CAST(rev AS DECIMAL(18,2))) AS tr FROM rev),
        |per AS (
        |  SELECT decile, count(*) AS n_customers,
        |    SUM(CAST(rev AS DECIMAL(18,2))) AS drev
        |  FROM dc GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        |  CAST(drev AS DOUBLE) AS revenue,
        |  CAST(round(CAST(CAST(drev AS DOUBLE) / CAST(tot.tr AS DOUBLE)
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS rev_frac,
        |  CAST(round(CAST(CAST(sum(drev) OVER (ORDER BY decile) AS DOUBLE)
        |    / CAST(tot.tr AS DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS cum_rev_frac
        |FROM per, tot
        |ORDER BY decile""".stripMargin
      })
  )
}
