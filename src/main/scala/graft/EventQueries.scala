package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.GraftFunctions._
import graft.ops.Stage.StagedFrame

/** Event-stream analytics over the `events` table (batch mirror of the
  * streaming operators in graft.streaming): tumbling/sliding windows,
  * gap-based sessionization, funnel analysis, JSON property
  * extraction. Each runs as one shuffle on its natural key; the
  * window assignment itself is a scan-time expression.
  */
object EventQueries {

  /** quantile_sample_error: hash-sample modulus (1/16 sample). */
  private val QSampleDiv = 16L

  private val SessionGapUs = 1800L * 1000000L // 30 min in microseconds
  private val EpisodeHorizon = 12 // truncated-return steps; γ = 0.1

  /** events_anomaly_dow flag threshold: |z| above this flags the day.
    * 1.5 (not the textbook 2/3) because the synthetic daily volumes
    * are near-uniform — max observed |z| ≈ 1.62 at every SF — and an
    * always-empty screen gates nothing; the threshold is the caller's
    * dial in production.
    */
  private val AnomalyDowZ = 1.5
  // modified-z cutoff 3.5 × normal consistency 1.4826, pre-folded to
  // one decimal literal both engines parse to the same double (a
  // runtime product could associate/round differently per engine)
  private val MadK = 5.1891

  def defs: Seq[QueryDef] = Seq(

    // Tumbling event-time window via the real window() operator
    // (streaming-identical semantics in batch).
    QueryDef("events_hourly_window",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").as("hour"), col("event_type"),
            col("n"), col("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Sliding window (2h length, 1h slide): each event lands in two
    // windows; Spark's window() generates them at scan time.
    QueryDef("events_sliding_window",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n"))
          .orderBy(col("win_start"))
      },
      Some("""WITH w AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
        |  FROM events)
        |SELECT win_start, COUNT(*) AS n
        |FROM w GROUP BY win_start ORDER BY win_start""".stripMargin)),

    // Gap-based sessionization: a new session starts after >30 min of
    // user inactivity. lag + running sum over the per-user window —
    // one shuffle on user_id. Microsecond epochs keep the gap test
    // exact in both engines.
    QueryDef("events_sessionize",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSession = when(
          unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(byUser)) > SessionGapUs, 1)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1)
          .otherwise(0)
        val sessions = e
          .withColumn("__new", newSession)
          .withColumn("session_seq",
            sum(col("__new")).over(
              byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sessions.groupBy(col("user_id"))
          .agg(max(col("session_seq")).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
        |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM g)
        |SELECT user_id, MAX(session_seq)::BIGINT AS n_sessions, COUNT(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Top session paths — lightweight sequential-pattern mining: the
    // most frequent 3-step event-type sequences WITHIN a session
    // (sessionized by the same 30-min gap rule as events_sessionize).
    // The naive encoding collects per-session type arrays and explodes
    // n-grams (array state = session length — a hot user's month-long
    // session OOMs the aggregate); instead two lead() columns over the
    // SAME user-ordered window turn each row into its own trigram, so
    // state per row is O(1) and the session boundary is a scan-local
    // equality on the session counter. One window shuffle keyed on
    // user, one path rollup, TakeOrdered 10.
    QueryDef("events_top_paths",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSession = when(
          unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(byUser)) > SessionGapUs, 1)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1)
          .otherwise(0)
        val s2 = e.withColumn("__new", newSession)
          .withColumn("sess", sum(col("__new")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val withLeads = s2
          .withColumn("t1", lead(col("event_type"), 1).over(byUser))
          .withColumn("s1", lead(col("sess"), 1).over(byUser))
          .withColumn("t2", lead(col("event_type"), 2).over(byUser))
          .withColumn("s2", lead(col("sess"), 2).over(byUser))
        withLeads
          .where(col("s1") === col("sess") && col("s2") === col("sess"))
          .select(concat_ws(">", col("event_type"), col("t1"), col("t2"))
            .as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(10)
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
        |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g),
        |l AS (
        |  SELECT event_type, sess,
        |    lead(event_type, 1) OVER w2 AS t1, lead(sess, 1) OVER w2 AS s1,
        |    lead(event_type, 2) OVER w2 AS t2, lead(sess, 2) OVER w2 AS s2
        |  FROM s
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || t1 || '>' || t2 AS path, COUNT(*) AS n
        |FROM l WHERE s1 = sess AND s2 = sess
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin)),

    // Funnel: users whose first signup precedes their first purchase.
    QueryDef("events_funnel",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val perUser = e
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
            min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        perUser.agg(
          count(col("first_signup")).as("n_signup_users"),
          count(when(col("first_signup") < col("first_purchase"), 1))
            .as("n_converted"))
      },
      Some("""WITH u AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(first_signup) AS n_signup_users,
        |       COUNT(CASE WHEN first_signup < first_purchase THEN 1 END) AS n_converted
        |FROM u""".stripMargin)),

    // P8/F5 — JSON property extraction from the string props column,
    // aggregated: the extraction is a scan-time expression (pushed
    // next to the parquet read, no UDF).
    QueryDef("events_props_histogram",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.select((get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"))
          .groupBy(col("k_mod")).agg(count(lit(1)).as("n"))
          .orderBy(col("k_mod"))
      },
      // json_valid guard: Spark's get_json_object is permissive
      // (malformed JSON → NULL) while DuckDB's json_extract_string
      // ERRORS on it — the fuzz corpus carries '{', '', 'not json'
      // props, and the oracle must mirror the NULL
      Some("""SELECT (CASE WHEN json_valid(props)
        |   THEN json_extract_string(props, '$.k') END)::BIGINT % 10 AS k_mod,
        | COUNT(*) AS n
        |FROM events GROUP BY 1
        |ORDER BY k_mod NULLS FIRST""".stripMargin)),

    // A1 (JSON-key variant) — group by canonical JSON of a composite
    // key (reference serializes non-string group keys to JSON,
    // etl_sampling_by_key.py:17-32).
    QueryDef("events_group_json_key",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        graft.ops.Relational.groupByJsonKey(e, Seq("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("json_key"))
      },
      Some("""SELECT to_json(struct_pack(event_type := event_type)) AS json_key,
        | COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY json_key""".stripMargin)),

    // F5 — structured JSON parsing: from_json into a typed struct at
    // scan time (vs the path-extraction variant above).
    QueryDef("events_props_struct",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.select(from_json(col("props"), lit("k INT")).getField("k").as("k"))
          .groupBy(col("k") > 50).agg(count(lit(1)).as("n"))
          .select(col("(k > 50)").as("k_over_50"), col("n"))
          .orderBy(col("k_over_50"))
      },
      // json_valid + integer-type guard: from_json('k INT') yields
      // NULL both for malformed JSON and for a QUOTED number (no
      // string→int coercion), while json_extract_string would coerce
      // — the type filter mirrors Spark's strictness
      Some("""SELECT (CASE WHEN json_valid(props)
        |   AND json_type(props, '$.k') IN ('UBIGINT', 'BIGINT')
        |   THEN json_extract(props, '$.k')::INT END) > 50 AS k_over_50,
        | COUNT(*) AS n
        |FROM events GROUP BY 1
        |ORDER BY k_over_50 NULLS FIRST""".stripMargin)),

    // Running aggregate: per-user cumulative value over event time.
    QueryDef("events_running_sum",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.select(col("user_id"), col("event_id"),
            sum(col("value").cast("decimal(18,2)")).over(w)
              .cast("double").as("running_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // 7-day moving average per event type over the daily rollup — the
    // smoothing window every metric dashboard draws. Two stages, both
    // tiny after the first aggregate: the (day, type) rollup shuffles
    // once on its natural key, the sliding frame then runs over
    // days × types rows. Decimal sum over the frame ÷ exact frame
    // count keeps the average engine-exact; at the series head the
    // frame is shorter, so the divisor is count() over the SAME
    // frame, not the constant 7.
    QueryDef("events_moving_avg_7d",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("day"))
          .rowsBetween(-6, Window.currentRow)
        daily.select(col("day"), col("event_type"), col("n"),
            round((sum(col("n").cast(DecimalType(18, 4))).over(w) /
              count(lit(1)).over(w)).cast(DecimalType(18, 4)), 2)
              .cast("double").as("ma7"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""WITH daily AS (
        |  SELECT ts::DATE AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        |  CAST(round(CAST(
        |    SUM(n::DECIMAL(18,4)) OVER w / COUNT(*) OVER w
        |    AS DECIMAL(18,4)), 2) AS DOUBLE) AS ma7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day, event_type""".stripMargin)),

    // Exact Pearson correlation (value vs hour-of-day, per type) —
    // built from five DECIMAL-exact moment sums rather than corr(),
    // whose double accumulation is partitioning- and engine-ordered.
    // The final formula runs in IEEE doubles from identical decimal
    // inputs, so both engines produce the same bits; one scan, one
    // |types|-row aggregate.
    QueryDef("events_corr_value_hour",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("event_type"),
            hour(col("ts")).cast(DecimalType(18, 6)).as("x"),
            col("value").cast(DecimalType(18, 6)).as("y"))
        val m = e.groupBy(col("event_type")).agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        m.select(col("event_type"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr"))
          .orderBy(col("event_type"))
      },
      Some("""WITH m AS (
        |  SELECT event_type,
        |    COUNT(*)::DOUBLE AS n,
        |    SUM(hour(ts)::DECIMAL(18,6))::DOUBLE AS sx,
        |    SUM(value::DECIMAL(18,6))::DOUBLE AS sy,
        |    SUM(hour(ts)::DECIMAL(18,6) * hour(ts)::DECIMAL(18,6))::DOUBLE AS sxx,
        |    SUM(value::DECIMAL(18,6) * value::DECIMAL(18,6))::DOUBLE AS syy,
        |    SUM(hour(ts)::DECIMAL(18,6) * value::DECIMAL(18,6))::DOUBLE AS sxy
        |  FROM events GROUP BY 1)
        |SELECT event_type,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
        |FROM m ORDER BY event_type""".stripMargin)),

    // Per-type linear trend over DAILY volume: closed-form OLS
    // (slope per day + intercept) from five decimal-exact moment
    // sums — the monitoring question "is this stream growing or
    // decaying, and how fast" answered with the same exact-moments
    // recipe as events_corr_value_hour (built-in regr_slope has the
    // same double-accumulation order-dependence as corr()). Day
    // numbers and daily totals are exact DECIMALs; the final
    // formula is one fixed IEEE shape on both engines. Single-day
    // groups have no slope (den = 0) and report NULL on both sides.
    QueryDef("events_trend_ols",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(col("event_type"),
            to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)).as("y"))
          .select(col("event_type"),
            datediff(col("day"), lit("1970-01-01").cast("date"))
              .cast(DecimalType(10, 0)).as("x"),
            col("y"))
        val m = daily.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_days"),
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
        m.select(col("event_type"), col("n_days"),
            when(den === 0.0, lit(null).cast("double"))
              .otherwise(round(slope, 6)).as("slope_per_day"),
            when(den === 0.0, lit(null).cast("double"))
              .otherwise(round((col("sy") - slope * col("sx")) / col("n"), 6))
              .as("intercept"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS day,
        |    SUM(value::DECIMAL(18,6))::DECIMAL(18,6) AS y
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', day)::DECIMAL(10,0) AS x, y
        |  FROM daily),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n_days, COUNT(*)::DOUBLE AS n,
        |    SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
        |    SUM(x * x)::DOUBLE AS sxx, SUM(x * y)::DOUBLE AS sxy
        |  FROM d2 GROUP BY 1)
        |SELECT event_type, n_days,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |  END AS slope_per_day,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
        |      * sx) / n, 6)
        |  END AS intercept
        |FROM m ORDER BY event_type""".stripMargin)),

    // Lag-1 autocorrelation of daily event volume — the "is this
    // stream periodic/sticky or white noise" screen that decides
    // whether yesterday predicts today (feeds anomaly thresholds and
    // forecast sanity checks). Same exact-moments recipe as
    // events_corr_value_hour, applied to consecutive-day pairs: the
    // lead() runs over the DAILY aggregate (bounded: one row per
    // day), all six moments are exact decimal sums, the final Pearson
    // shape is one fixed IEEE expression on both engines.
    QueryDef("events_autocorr_daily",
      (s, dir) => {
        val dec38 = DecimalType(38, 0)
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        // unpartitioned window is bounded: one row per distinct day
        val w = Window.orderBy(col("day"))
        val pairs = daily.withColumn("y", lead(col("x"), 1).over(w))
          .where(col("y").isNotNull)
        // counts are exact BIGINT; squares/products go through
        // DECIMAL(38,0) — daily volumes square past int64 at scale
        val m = pairs.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x").cast(dec38) * col("x").cast(dec38))
            .cast("double").as("sxx"),
          sum(col("y").cast(dec38) * col("y").cast(dec38))
            .cast("double").as("syy"),
          sum(col("x").cast(dec38) * col("y").cast(dec38))
            .cast("double").as("sxy"))
        m.select(col("n").cast("long").as("n_pairs"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("autocorr_lag1"))
      },
      Some("""WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS x
        |  FROM events GROUP BY 1),
        |p AS (SELECT x, lead(x) OVER (ORDER BY day) AS y FROM daily),
        |m AS (SELECT COUNT(*)::DOUBLE AS n,
        |    SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))::DOUBLE AS sxx,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))::DOUBLE AS syy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))::DOUBLE AS sxy
        |  FROM p WHERE y IS NOT NULL)
        |SELECT CAST(n AS BIGINT) AS n_pairs,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |    AS autocorr_lag1
        |FROM m""".stripMargin)),

    // Incremental rollup maintenance: the stored historical aggregate
    // plus the new partition's partial aggregate, COMBINED, must equal
    // a full recompute — which is exactly what the oracle asserts
    // (it aggregates the whole table from scratch). This works only
    // because the partials stay algebraic: counts add, and sums stay
    // DECIMAL until the final cast (double partials would make the
    // merged total order-dependent). At 100 TB this is the nightly
    // pattern: the history side is a stored table read, never a
    // rescan; only the delta touches raw events.
    QueryDef("incremental_agg_update",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("day", to_date(col("ts")))
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(18, 2))).as("sv"))
        val hist = partial(e.where(col("day") < "2024-01-25")) // stored rollup
        val delta = partial(e.where(col("day") >= "2024-01-25")) // new data
        hist.union(delta)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"),
            sum(col("sv")).cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Per-user activity profile.
    QueryDef("events_user_stats",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            dsum(col("value")).as("sum_value"),
            countDistinct(col("event_type")).as("n_types"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // As-of join (event attribution): each purchase is matched to the
    // same user's most recent STRICTLY PRIOR click — the classic
    // point-in-time lookup Spark lacks as a built-in operator,
    // expressed as one ignore-nulls last() over a RANGE window on the
    // integer-micros axis (no range join, no pair blow-up: one
    // shuffle on user_id, linear scan per user). The range frame ends
    // at ts−1µs, so a click at the purchase's exact timestamp is
    // never attributed regardless of event-id order — strictly prior
    // means strictly prior in TIME. lat_us is exact integer micros.
    QueryDef("events_asof_attribution",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"))
          .rangeBetween(Window.unboundedPreceding, -1)
        e.withColumn("prev_us",
            last(when(col("event_type") === "click", col("ts_us")),
              ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase" &&
            col("prev_us").isNotNull)
          .select(col("event_id"), col("user_id"),
            (col("ts_us") - col("prev_us")).as("lat_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH a AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |        IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us
        |  FROM events)
        |SELECT event_id, user_id, (ts_us - prev_us) AS lat_us
        |FROM a
        |WHERE event_type = 'purchase' AND prev_us IS NOT NULL
        |ORDER BY event_id""".stripMargin)),

    // Generalized two-table as-of join via Relational.asofJoin — the
    // feature-store / trade-enrichment shape: LEFT-outer with a
    // 24 h staleness tolerance, so the gate exercises all three
    // outcomes (fresh match with exact integer staleness, stale match
    // nulled by tolerance, user with no prior click at all). Right
    // side is pre-aggregated to one row per (user, ts) — the
    // operator's determinism contract. Oracle is DuckDB's native
    // ASOF LEFT JOIN with the tolerance as a post-CASE: matching an
    // independent built-in implementation (not a window re-derivation)
    // is the strongest cross-check the as-of semantics can get.
    //
    // This is THE window-form parity anchor (r10): the other as-of
    // call sites route through the native AsofJoinExec/BroadcastExec;
    // this one deliberately keeps the union-timeline window form so
    // both implementations stay pinned to the same DuckDB built-in
    // every round (it carries the richest contract — LEFT-outer +
    // tolerance — hence anchors here rather than at the inner gate).
    QueryDef("events_asof_enrich",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val clicks = e.where(col("event_type") === "click")
          .groupBy(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        graft.ops.Relational.asofJoin(purchases, clicks,
            "user_id", "c_uid", "ts_us", "c_us", Seq("click_id"),
            toleranceUs = Some(86400L * 1000000L))
          .select(col("event_id"), col("user_id"), col("click_id"),
            (col("ts_us") - col("asof_time_us")).as("staleness_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (
        |  SELECT user_id AS c_uid, epoch_us(ts) AS c_us,
        |    max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN l.ts_us - r.c_us <= 86400000000 THEN r.click_id END
        |    AS click_id,
        |  CASE WHEN l.ts_us - r.c_us <= 86400000000 THEN l.ts_us - r.c_us END
        |    AS staleness_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.c_uid AND l.ts_us >= r.c_us
        |ORDER BY l.event_id""".stripMargin)),

    // The inner + tolerance contract knobs, pinned by their own hash
    // gate (events_asof_enrich gates the LEFT-outer carry): purchases
    // whose freshest prior click is within 1 h survive with exact
    // integer staleness; stale-match and no-match purchases are
    // DROPPED, not nulled. Oracle is DuckDB's native inner ASOF JOIN
    // (drops unmatched) plus the tolerance as a WHERE on the matched
    // staleness — an independent built-in implementation.
    //
    // r10: routed through the NATIVE exec with broadcastRight = None —
    // unlike events_asof_native_inner (which PINS sort-merge), this
    // gate exercises the size-based auto selection between the
    // broadcast and merge physical forms, the path production callers
    // hit by default; the window form stayed at events_asof_enrich.
    QueryDef("events_asof_inner",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val clicks = e.where(col("event_type") === "click")
          .groupBy(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        graft.ops.Relational.asofJoinNative(purchases, clicks,
            "user_id", "c_uid", "ts_us", "c_us", Seq("click_id"),
            toleranceUs = Some(3600L * 1000000L), inner = true)
          .select(col("event_id"), col("user_id"), col("click_id"),
            (col("ts_us") - col("asof_time_us")).as("staleness_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (
        |  SELECT user_id AS c_uid, epoch_us(ts) AS c_us,
        |    max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, r.click_id,
        |  l.ts_us - r.c_us AS staleness_us
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.c_uid AND l.ts_us >= r.c_us
        |WHERE l.ts_us - r.c_us <= 3600000000
        |ORDER BY l.event_id""".stripMargin)),

    // The same two as-of contracts through the NATIVE sort-merge
    // physical operator (graft.plans.AsofJoinExec — custom LogicalPlan
    // + planner strategy + SparkPlan, injected by GraftExtensions)
    // instead of the union-timeline window. Each side shuffles at its
    // own width and the merge is one O(1)-state forward pass; see the
    // AsofJoinPlan scaladoc for the cost model. Hash-gating BOTH
    // implementations against DuckDB's built-in ASOF JOIN pins them to
    // the same semantics from two independent engine shapes.
    QueryDef("events_asof_native",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val clicks = e.where(col("event_type") === "click")
          .groupBy(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        graft.ops.Relational.asofJoinNative(purchases, clicks,
            "user_id", "c_uid", "ts_us", "c_us", Seq("click_id"),
            toleranceUs = Some(86400L * 1000000L),
            broadcastRight = Some(false)) // pin sort-merge: this gate tests THAT exec
          .select(col("event_id"), col("user_id"), col("click_id"),
            (col("ts_us") - col("asof_time_us")).as("staleness_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (
        |  SELECT user_id AS c_uid, epoch_us(ts) AS c_us,
        |    max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN l.ts_us - r.c_us <= 86400000000 THEN r.click_id END
        |    AS click_id,
        |  CASE WHEN l.ts_us - r.c_us <= 86400000000 THEN l.ts_us - r.c_us END
        |    AS staleness_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.c_uid AND l.ts_us >= r.c_us
        |ORDER BY l.event_id""".stripMargin)),

    QueryDef("events_asof_native_inner",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val clicks = e.where(col("event_type") === "click")
          .groupBy(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
          .agg(max(col("event_id")).as("click_id"))
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        graft.ops.Relational.asofJoinNative(purchases, clicks,
            "user_id", "c_uid", "ts_us", "c_us", Seq("click_id"),
            toleranceUs = Some(3600L * 1000000L), inner = true,
            broadcastRight = Some(false)) // pin sort-merge: this gate tests THAT exec
          .select(col("event_id"), col("user_id"), col("click_id"),
            (col("ts_us") - col("asof_time_us")).as("staleness_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (
        |  SELECT user_id AS c_uid, epoch_us(ts) AS c_us,
        |    max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, r.click_id,
        |  l.ts_us - r.c_us AS staleness_us
        |FROM l ASOF JOIN r
        |  ON l.user_id = r.c_uid AND l.ts_us >= r.c_us
        |WHERE l.ts_us - r.c_us <= 3600000000
        |ORDER BY l.event_id""".stripMargin)),

    // The BROADCAST physical form of the native as-of join: the right
    // side (per-user signup timeline — dimension-sized at any SF) is
    // collected + broadcast, and the fact side is enriched in place
    // with ZERO shuffles and ZERO sorts of its own (AsofBroadcastExec;
    // AsofBroadcastSpec asserts the no-exchange plan shape). At 100 TB
    // this is the difference between shuffling the event log and
    // shuffling nothing. Same DuckDB ASOF oracle as the merge form —
    // three independent implementations pinned to one semantics.
    QueryDef("events_asof_broadcast",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val signups = e.where(col("event_type") === "signup")
          .groupBy(col("user_id").as("s_uid"), col("ts_us").as("s_us"))
          .agg(max(col("event_id")).as("signup_id"))
        val facts = e.where(col("event_type") =!= "signup")
          .select(col("event_id"), col("user_id"), col("ts_us"))
        graft.ops.Relational.asofJoinNative(facts, signups,
            "user_id", "s_uid", "ts_us", "s_us", Seq("signup_id"),
            broadcastRight = Some(true))
          .select(col("event_id"), col("user_id"), col("signup_id"),
            (col("ts_us") - col("asof_time_us")).as("account_age_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH r AS (
        |  SELECT user_id AS s_uid, epoch_us(ts) AS s_us,
        |    max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |l AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type <> 'signup')
        |SELECT l.event_id, l.user_id, r.signup_id,
        |  l.ts_us - r.s_us AS account_age_us
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.s_uid AND l.ts_us >= r.s_us
        |ORDER BY l.event_id""".stripMargin)),

    // Time-spine resample with forward fill: hourly grid × event_type,
    // each slot carrying the last observed `value` at or before the
    // slot (null before the first observation — the LEFT as-of carry).
    // This is the gap-fill step in front of any fixed-frequency
    // time-series model over irregular event data. The spine is
    // metadata-sized (hours in the observed range × |types| — a few
    // thousand rows at ANY data scale, from one 1-row min/max
    // aggregate), so the only data-sized work is the per-(type, ts)
    // dedup aggregate and the as-of merge — one shuffle each, keyed
    // on event_type. Oracle: DuckDB generate_series + native ASOF
    // LEFT JOIN — an independent built-in implementation.
    //
    // r10: routed through the native AsofJoinExec with sort-merge
    // PINNED — here the RIGHT side is the data-sized one (the
    // per-(type, ts) timeline), so the broadcast form must never be
    // auto-picked on a stats misestimate: collecting the corpus
    // timeline to the driver is exactly the 100 TB failure mode. The
    // merge form shuffles each side at its own width instead of the
    // union-timeline's padded rows (the window form measured 3.1× its
    // oracle at sf0.1).
    QueryDef("events_resample_ffill",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        // deterministic last-at-ts: among equal (type, ts) the value
        // of the max event_id wins
        val byTs = e.groupBy(col("event_type").as("r_type"),
            unix_micros(col("ts")).as("r_us"))
          .agg(max_by(col("value"), col("event_id")).as("fill_value"))
        val st = e.agg(date_trunc("hour", min(col("ts"))).as("h0"),
          max(col("ts")).as("h1"))
        val spine = st.select(explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
        val grid = spine.crossJoin(
            broadcast(e.select(col("event_type")).distinct()))
          .withColumn("hour_us", unix_micros(col("hour")))
        graft.ops.Relational.asofJoinNative(grid, byTs,
            "event_type", "r_type", "hour_us", "r_us", Seq("fill_value"),
            broadcastRight = Some(false))
          .select(col("hour"), col("event_type"), col("fill_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""WITH r AS (
        |  SELECT event_type AS r_type, epoch_us(ts) AS r_us,
        |    max_by(value, event_id) AS fill_value
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT date_trunc('hour', min(ts)) AS h0, max(ts) AS h1
        |  FROM events),
        |spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
        |  AS hour FROM st),
        |grid AS (SELECT hour, event_type
        |  FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM events))
        |SELECT g.hour, g.event_type, r.fill_value
        |FROM grid g ASOF LEFT JOIN r
        |  ON g.event_type = r.r_type AND epoch_us(g.hour) >= r.r_us
        |ORDER BY hour, event_type""".stripMargin)),

    // Binned range join: clicks in the 10 minutes before each error,
    // per user — the "what led up to this" correlation query. The
    // naive same-key range join is per-user quadratic (every
    // click × error pair post-filtered); Relational.rangeJoinBinned
    // equi-joins on (user, time-bucket) with two bucket votes per
    // error, so the shuffle key bounds each reducer by per-window
    // traffic. Errors with no preceding click drop out (inner join),
    // matching the oracle's correlated count.
    QueryDef("events_range_join_binned",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .withColumn("ts_us", unix_micros(col("ts")))
        val errors = e.where(col("event_type") === "error")
          .select(col("event_id"), col("user_id").as("e_uid"),
            col("ts_us").as("e_us"))
        val clicks = e.where(col("event_type") === "click")
          .select(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
        graft.ops.Relational.rangeJoinBinned(errors, clicks,
            "e_uid", "c_uid", "e_us", "c_us", windowUs = 600000000L)
          .groupBy(col("event_id"))
          .agg(count(lit(1)).as("n_prior_clicks"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, COUNT(*) AS n_prior_clicks
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id
        | AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(e.ts) - 600000000
        | AND epoch_us(c.ts) < epoch_us(e.ts)
        |WHERE e.event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact value percentiles per event type (p50/p90/p99) — Spark's
    // percentile == DuckDB's quantile_cont (both linear-interpolate
    // over the sorted values; exact, not a sketch). At 100 TB switch
    // to approx_percentile per partition-tree merge; the exact form
    // is the oracle-checkable contract.
    QueryDef("events_percentiles",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        // decimal-guard the interpolated double before rounding
        // (Spark rounds the shortest string, DuckDB the binary value;
        // an 8-digit decimal cast first makes both engines round the
        // same decimal — the repo-wide quotient-rounding pattern)
        def pct(q: Double, name: String) =
          round(expr(s"percentile(value, $q)").cast(DecimalType(18, 8)), 6)
            .cast("double").as(name)
        e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(round(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,8)), 6) AS DOUBLE) AS p50,
        | CAST(round(CAST(quantile_cont(value, 0.9) AS DECIMAL(18,8)), 6) AS DOUBLE) AS p90,
        | CAST(round(CAST(quantile_cont(value, 0.99) AS DECIMAL(18,8)), 6) AS DOUBLE) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // The 100 TB path the events_percentiles comment promises:
    // ops/Quantile's iterative histogram bracketing — O(buckets)
    // aggregation state per pass instead of Spark percentile()'s
    // all-values-in-one-buffer, and the answer is an actual ELEMENT of
    // the dataset (discrete quantile, k = ceil(q·n)), so it
    // cross-checks bit-exact against the oracle's row_number selection
    // with no rounding discipline at all. Ranks and dtypes: n BIGINT,
    // values raw DOUBLE.
    QueryDef("quantile_exact_twopass",
      (s, dir) => {
        import s.implicits._
        val e = Tables.load(s, dir, "events")
        val (n, vals) = graft.ops.Quantile.exactQuantiles(e, "value",
          Seq(0.5, 0.9, 0.99))
        Seq((n, vals(0), vals(1), vals(2))).toDF("n", "p50", "p90", "p99")
      },
      Some("""WITH s AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |SELECT max(n) AS n,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |      THEN value END) AS p50,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        |      THEN value END) AS p90,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
        |      THEN value END) AS p99
        |FROM s""".stripMargin)),

    // Sampled-quantile error report: the same p50/p90/p99 computed
    // exactly over the full column AND over a deterministic 1/16
    // hash-sample, with the absolute error per quantile — the scale
    // dial made measurable. At 100 TB the exact two-pass bracketing
    // still works (it moves only bucket counts), but a hash-sample
    // estimate costs one 1/16th scan; this report is the evidence for
    // when that trade is safe (error ≪ the decision threshold) and
    // the canary for when it isn't (heavy tails inflate p99 error).
    // detHash sampling is partitioning-independent, so the estimate —
    // and therefore the whole report — is deterministic on both
    // engines, unlike rand()-sampled quantiles.
    QueryDef("quantile_sample_error",
      (s, dir) => {
        import s.implicits._
        val e = Tables.load(s, dir, "events")
        val qs = Seq(0.5, 0.9, 0.99)
        val (nFull, exact) = graft.ops.Quantile.exactQuantiles(e, "value", qs)
        val samp = e.where(detHash(QSampleDiv, col("event_id")) === 0L)
        val (nSamp, est) = graft.ops.Quantile.exactQuantiles(samp, "value", qs)
        qs.indices.map(i => (qs(i), nFull, nSamp, exact(i), est(i)))
          .toDF("q", "n_full", "n_sample", "exact", "estimate")
          .withColumn("abs_error",
            round(abs(col("estimate") - col("exact")), 6))
          .orderBy(col("q"))
      },
      Some(s"""WITH f AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |sm AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |    AND ${detHashSql(QSampleDiv, Seq("event_id"))} = 0),
        |fx AS (
        |  SELECT max(n) AS n_full,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |        THEN value END) AS e50,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        |        THEN value END) AS e90,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
        |        THEN value END) AS e99
        |  FROM f),
        |sx AS (
        |  SELECT max(n) AS n_sample,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |        THEN value END) AS s50,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        |        THEN value END) AS s90,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
        |        THEN value END) AS s99
        |  FROM sm)
        |SELECT q, n_full, n_sample, exact, estimate,
        |  round(abs(estimate - exact), 6) AS abs_error
        |FROM (
        |  SELECT 0.50::DOUBLE AS q, n_full, n_sample,
        |    e50 AS exact, s50 AS estimate FROM fx, sx
        |  UNION ALL SELECT 0.90::DOUBLE, n_full, n_sample, e90, s90 FROM fx, sx
        |  UNION ALL SELECT 0.99::DOUBLE, n_full, n_sample, e99, s99 FROM fx, sx)
        |ORDER BY q""".stripMargin)),

    // One-pass mergeable quantile sketch (expressions.KllQuantileAgg)
    // graded against the exact two-pass answer. The sketch's estimate
    // depends on Spark's nondeterministic partial-merge order, so the
    // gate hashes the DETERMINISTIC guarantee instead: the true rank
    // of each estimate must land within the sketch's own accumulated
    // err_bound of the target rank (a hard invariant of the even-index
    // compactor, any merge order) — the oracle asserts the same rows
    // with within_bound literally TRUE, so a broken envelope flips the
    // boolean and fails the hash. exact_v rides along from the
    // bracketing two-pass (driver state = O(buckets), same as
    // quantile_exact_twopass). At 100 TB the sketch is the one-pass
    // groupBy-friendly form; the rank-check pass here is eval-only
    // telemetry.
    QueryDef("sketch_quantile_kll",
      (s, dir) => {
        import s.implicits._
        val qs = Seq(0.5, 0.9, 0.99)
        val labels = Seq("p50", "p90", "p99")
        val e = Tables.load(s, dir, "events")
          .select(col("value").cast("double").as("v"))
          .where(col("v").isNotNull && !isnan(col("v")))
        val sk = e.agg(kllQuantiles(col("v"), 256, qs).as("s"))
          .select(col("s.n"), col("s.err_bound"), col("s.est")).head()
        val n = sk.getLong(0)
        val err = sk.getLong(1)
        val est = sk.getSeq[Double](2)
        val (_, exact) = graft.ops.Quantile.exactQuantiles(e, "v", qs)
        val rankAggs = qs.indices.flatMap(i => Seq(
          sum(when(col("v") < est(i), 1L).otherwise(0L)).as(s"lt$i"),
          sum(when(col("v") <= est(i), 1L).otherwise(0L)).as(s"le$i")))
        val ranks = e.agg(rankAggs.head, rankAggs.tail: _*).head()
        qs.indices.map { i =>
          val target = math.max(1L, math.ceil(qs(i) * n).toLong)
          val lt = ranks.getLong(2 * i)
          val le = ranks.getLong(2 * i + 1)
          val within = le >= target - err && lt < target + err
          (labels(i), n, target, exact(i), within)
        }.toDF("q_label", "n", "k_target", "exact_v", "within_bound")
          .orderBy(col("q_label"))
      },
      Some("""WITH s AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS rn,
        |    count(*) OVER () AS n
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |x AS (
        |  SELECT max(n) AS n,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |        THEN value END) AS e50,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        |        THEN value END) AS e90,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
        |        THEN value END) AS e99
        |  FROM s)
        |SELECT q_label, n,
        |  greatest(1, CAST(ceil(q * n) AS BIGINT)) AS k_target,
        |  exact_v, TRUE AS within_bound
        |FROM (
        |  SELECT 'p50' AS q_label, 0.50 AS q, n, e50 AS exact_v FROM x
        |  UNION ALL SELECT 'p90', 0.90, n, e90 FROM x
        |  UNION ALL SELECT 'p99', 0.99, n, e99 FROM x)
        |ORDER BY q_label""".stripMargin)),

    // Per-group KLL envelope gate on a duplicate-heavy discrete column
    // (l_quantity ∈ {1..50} — the tie-pileup stress case for any
    // compactor). One groupBy aggregate builds an independent sketch
    // per return-flag group; one follow-up conditional-sum pass
    // computes each estimate's TRUE per-group rank; the gate hashes
    // n plus the per-(group, q) envelope booleans (the estimates
    // themselves are merge-order-dependent and stay out of the hash,
    // same contract as sketch_quantile_kll). This is the sketch the
    // 100 TB monitoring path actually ships: per-group state is
    // O(k·log(n/k)) and the shuffle carries one sketch per (group,
    // partition), not raw values.
    QueryDef("group_quantiles_sketch",
      (s, dir) => {
        import s.implicits._
        val qs = Seq(0.5, 0.9, 0.99)
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_quantity").cast("double").as("v"))
          .where(col("v").isNotNull && !isnan(col("v")))
        val sk = li.groupBy(col("flag"))
          .agg(kllQuantiles(col("v"), 128, qs).as("s"))
          .select(col("flag"), col("s.n"), col("s.err_bound"), col("s.est"))
          .collect().sortBy(_.getString(0))
        val aggs = sk.toSeq.flatMap { r =>
          val flag = r.getString(0)
          val est = r.getSeq[Double](3)
          qs.indices.flatMap(i => Seq(
            sum(when(col("flag") === flag && col("v") < est(i), 1L)
              .otherwise(0L)).as(s"lt_${flag}_$i"),
            sum(when(col("flag") === flag && col("v") <= est(i), 1L)
              .otherwise(0L)).as(s"le_${flag}_$i")))
        }
        val ranks = li.agg(aggs.head, aggs.tail: _*).head()
        sk.toSeq.zipWithIndex.map { case (r, gi) =>
          val n = r.getLong(1)
          val err = r.getLong(2)
          val within = qs.indices.map { i =>
            val target = math.max(1L, math.ceil(qs(i) * n).toLong)
            val lt = ranks.getLong(gi * 6 + 2 * i)
            val le = ranks.getLong(gi * 6 + 2 * i + 1)
            le >= target - err && lt < target + err
          }
          (r.getString(0), n, within(0), within(1), within(2))
        }.toDF("flag", "n", "within_p50", "within_p90", "within_p99")
          .orderBy(col("flag"))
      },
      Some("""SELECT l_returnflag AS flag, COUNT(l_quantity) AS n,
        |  TRUE AS within_p50, TRUE AS within_p90, TRUE AS within_p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Multi-q tail report over a BIGGER, duplicate-heavy column
    // (lineitem.l_extendedprice — ~30× the events row count at any
    // sf, prices repeat across rows so bracket rounds hit duplicate
    // pileups): p50/p95/p99/p999 from ONE exactQuantiles call. The
    // rank-dedup inside exactQuantiles means equal ranks (e.g. p99
    // vs p999 on small n) cost one selection, not two. Same
    // row_number oracle convention, k = max(1, ceil(q*n)).
    QueryDef("quantile_multi_report",
      (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val (n, vals) = graft.ops.Quantile.exactQuantiles(
          li, "l_extendedprice", Seq(0.5, 0.95, 0.99, 0.999))
        Seq((n, vals(0), vals(1), vals(2), vals(3)))
          .toDF("n", "p50", "p95", "p99", "p999")
      },
      Some("""WITH s AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(l_extendedprice AS DOUBLE))
        |      AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT max(n) AS n,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.500 * n) AS BIGINT))
        |      THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.950 * n) AS BIGINT))
        |      THEN v END) AS p95,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.990 * n) AS BIGINT))
        |      THEN v END) AS p99,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.999 * n) AS BIGINT))
        |      THEN v END) AS p999
        |FROM s""".stripMargin)),

    // Per-group exact quantiles (Quantile.groupQuantiles): the
    // per-segment latency/price report shape. Unlike the global
    // bracketing loop, this is ONE job: compress to (group, value,
    // count), then a per-group cumulative window over DISTINCT values
    // picks each k-th. Oracle uses the independent row_number-per-
    // group formulation of the same lower-quantile convention.
    // Per-type inter-arrival cadence: exact p50/p90 of the gap (whole
    // seconds) between a user's consecutive events of the same type —
    // the "how often does this signal fire" telemetry behind alert
    // tuning and session-gap selection. The lag window keys on
    // (user_id, event_type) — high-cardinality, so no hot reducer (a
    // per-type-only window would put the corpus on |types| cores);
    // the quantile pass then compresses to (type, distinct gap)
    // before its bounded per-type cumulative window, the
    // groupQuantiles contract. Integer seconds ⇒ heavy duplication ⇒
    // the compressed frame is tiny at any scale.
    QueryDef("events_interarrival_quantiles",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = e.withColumn("gap_s",
            ((unix_micros(col("ts")) -
              unix_micros(lag(col("ts"), 1).over(byUserType)))
              / lit(1000000L)).cast("long"))
          .where(col("gap_s").isNotNull)
        graft.ops.Quantile.groupQuantiles(gaps, "event_type", "gap_s",
          Seq("p50" -> 0.5, "p90" -> 0.9))
      },
      Some("""WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts, event_id)))
        |      // 1000000 AS gap_s
        |  FROM events),
        |s AS (
        |  SELECT event_type AS g, gap_s::DOUBLE AS v,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY gap_s::DOUBLE) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT g AS event_type, max(n) AS n,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |      THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
        |      THEN v END) AS p90
        |FROM s GROUP BY g ORDER BY event_type""".stripMargin)),

    QueryDef("group_quantiles_exact",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        graft.ops.Quantile.groupQuantiles(li, "l_returnflag",
          "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))
      },
      Some("""WITH s AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT g AS l_returnflag, max(n) AS n,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |      THEN v END) AS p50,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |      THEN v END) AS p95,
        |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
        |      THEN v END) AS p99
        |FROM s GROUP BY g ORDER BY l_returnflag""".stripMargin)),

    // Weighted median (Quantile.groupWeightedQuantile): quantity-
    // weighted price point per returnflag — the "half the VOLUME is
    // below this price" statistic, not half the line items. Weights
    // sum as DECIMAL so the threshold compare is exact on any
    // partitioning; the oracle mirrors the same decimal cumsum.
    QueryDef("group_weighted_median",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        graft.ops.Quantile.groupWeightedQuantile(li, "l_returnflag",
          "l_extendedprice", "l_quantity", 0.5)
      },
      Some("""WITH g AS (
        |  SELECT l_returnflag AS gk, CAST(l_extendedprice AS DOUBLE) AS v,
        |    sum(CAST(l_quantity AS DECIMAL(28,8))) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT gk, v,
        |    sum(w) OVER (PARTITION BY gk ORDER BY v) AS cw,
        |    sum(w) OVER (PARTITION BY gk) AS tw
        |  FROM g)
        |SELECT gk AS l_returnflag, min(v) AS w_quantile,
        |  CAST(max(tw) AS DOUBLE) AS total_weight
        |FROM c WHERE cw >= 0.5 * tw
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // Robust anomaly screen (Quantile.robustOutliers): per event
    // type, exact median, MAD, and the modified-z outlier count at
    // the published 3.5 cutoff (pre-folded with the 1.4826 normal
    // consistency constant into ONE literal both engines parse from
    // the same decimal string). The zscore report's skew-immune
    // sibling — one extreme value can drag a mean/σ threshold past
    // every real anomaly; the median/MAD pair doesn't move. No
    // rounding convention anywhere: medians are exact data values
    // and the threshold compare is a fixed-shape IEEE product.
    QueryDef("events_anomaly_mad",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        graft.ops.Quantile.robustOutliers(e, "event_type", "value", MadK)
      },
      Some(s"""WITH s AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |c AS (SELECT g, v, count(*) AS c FROM s GROUP BY 1, 2),
        |cm AS (SELECT g, v, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM c),
        |med AS (SELECT g, max(n)::BIGINT AS n,
        |    min(CASE WHEN cum >= greatest(1, ceil(0.5 * n)::BIGINT)
        |        THEN v END) AS med
        |  FROM cm GROUP BY g),
        |d AS (SELECT c.g, abs(c.v - m.med) AS dv, sum(c.c)::BIGINT AS c
        |  FROM c JOIN med m ON m.g = c.g GROUP BY 1, 2),
        |dm AS (SELECT g, dv, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY dv
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM d),
        |mad AS (SELECT g,
        |    min(CASE WHEN cum >= greatest(1, ceil(0.5 * n)::BIGINT)
        |        THEN dv END) AS mad
        |  FROM dm GROUP BY g),
        |o AS (SELECT c.g,
        |    sum(CASE WHEN md.mad > 0 AND abs(c.v - m.med) > $MadK * md.mad
        |        THEN c.c ELSE 0 END)::BIGINT AS n_outliers
        |  FROM c JOIN med m ON m.g = c.g JOIN mad md ON md.g = c.g
        |  GROUP BY 1)
        |SELECT m.g AS event_type, m.n, m.med, md.mad, o.n_outliers
        |FROM med m JOIN mad md ON md.g = m.g JOIN o ON o.g = m.g
        |ORDER BY event_type""".stripMargin)),

    // Winsorized robust moments (Quantile.winsorizedStats): clip at
    // the exact per-group [p05, p95] then report mean/std — the
    // outlier-proof summary. Σv / Σv² ride DECIMAL(38,10) so the
    // report is identical on any partitioning; the oracle repeats
    // the same fixed-shape IEEE arithmetic over the same exact sums.
    QueryDef("stats_winsorized",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        graft.ops.Quantile.winsorizedStats(li, "l_returnflag",
          "l_extendedprice", 0.05, 0.95)
      },
      Some {
        val meanSql = "CAST(sum(CAST(cv AS DECIMAL(38,10))) AS DOUBLE)" +
          " / CAST(count(*) AS DOUBLE)"
        val varSql = "CAST(sum(CAST(cv * cv AS DECIMAL(38,10))) AS DOUBLE)" +
          s" / CAST(count(*) AS DOUBLE) - ($meanSql) * ($meanSql)"
        def r6(x: String) =
          s"CAST(round(CAST($x AS DECIMAL(18,8)), 6) AS DOUBLE)"
        s"""WITH s AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_extendedprice AS DOUBLE)) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (
        |  SELECT g,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
        |        THEN v END) AS lo,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |        THEN v END) AS hi
        |  FROM s GROUP BY g),
        |j AS (
        |  SELECT s.g, s.v, b.lo, b.hi,
        |    least(greatest(s.v, b.lo), b.hi) AS cv
        |  FROM s JOIN b ON b.g = s.g)
        |SELECT g AS l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(v < lo OR v > hi AS INT)) AS BIGINT) AS n_clipped,
        |  min(lo) AS lo, min(hi) AS hi,
        |  ${r6(meanSql)} AS w_mean,
        |  ${r6(s"sqrt(greatest(0.0, $varSql))")} AS w_std
        |FROM j GROUP BY g ORDER BY l_returnflag""".stripMargin
      }),

    // Equi-depth feature binning: quartile edges from the exact
    // quantile machinery, then bin assignment as a scan-time CASE —
    // the discretization step in front of categorical models and
    // drift monitors. The edges are 3 driver-side doubles (bounded
    // metadata, same pattern as the bracketing loop); the binning
    // pass is one aggregate over the scan. Bin populations are NOT
    // equal when edge values repeat (ties all fall in the lower bin)
    // — the oracle pins that tie convention too.
    QueryDef("feature_quantile_bins",
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val (_, edges) = graft.ops.Quantile.exactQuantiles(
          d, "n_chars", Seq(0.25, 0.5, 0.75))
        val v = col("n_chars").cast("double")
        val bin = when(v <= edges(0), 0L).when(v <= edges(1), 1L)
          .when(v <= edges(2), 2L).otherwise(3L)
        d.where(col("n_chars").isNotNull)
          .groupBy(bin.as("bin"))
          .agg(count(lit(1)).as("n"), min(v).as("lo"), max(v).as("hi"))
          .orderBy(col("bin"))
      },
      Some("""WITH s AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE)) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |e AS (
        |  SELECT
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
        |        THEN v END) AS e1,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
        |        THEN v END) AS e2,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
        |        THEN v END) AS e3
        |  FROM s)
        |SELECT CAST(CASE WHEN v <= e1 THEN 0 WHEN v <= e2 THEN 1
        |    WHEN v <= e3 THEN 2 ELSE 3 END AS BIGINT) AS bin,
        |  count(*) AS n, min(v) AS lo, max(v) AS hi
        |FROM s, e GROUP BY 1 ORDER BY bin""".stripMargin)),

    // SCD2 compaction (Relational.scd2Compact): the event stream as a
    // slowly-changing dimension — consecutive re-emissions of the
    // same event_type per user collapse, survivors carry
    // [valid_from, valid_to) version intervals (valid_to NULL = the
    // current version). Paired with asofJoin this is full
    // point-in-time dimension reconstruction. One shuffle on user_id
    // serves the change-mark, the filter, and the lead().
    QueryDef("scd2_compact_events",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"))
        graft.ops.Relational.scd2Compact(e, Seq("user_id"), "ts_us",
            Seq("event_id"), Seq("event_type"))
          .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      },
      Some("""WITH a AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, event_type
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, t, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS rn,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS pv
        |  FROM a),
        |k AS (
        |  SELECT user_id, event_id, t, event_type FROM m
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM pv)
        |SELECT user_id, event_id, t AS valid_from,
        |  lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |    AS valid_to,
        |  event_type
        |FROM k ORDER BY user_id, valid_from, event_id""".stripMargin)),

    // Spark's BUILT-IN session_window operator (the same operator the
    // streaming path uses with a watermark), oracle-pinned against the
    // classic lag+cumsum islands SQL: window.start = first event,
    // window.end = last event + gap, sessions merge transitively. The
    // batch/streaming operator identity is what makes lambda-free
    // reprocessing safe — this gate pins the batch half; the
    // streaming half is spec-pinned in StreamingSpec.
    QueryDef("events_session_window",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some("""WITH a AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |b AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
        |      OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |        > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM a),
        |c AS (
        |  SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id, min(t) AS session_start_us,
        |  max(t) + 1800000000 AS session_end_us, count(*) AS n
        |FROM c GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)),

    // Distribution-drift tripwire (ops/Drift.psiReport): PSI between a
    // reference half and a current half of the corpus (deterministic
    // even/odd event_id split stands in for last-week/this-week), 10
    // equal-width bins over the combined value range. The plan is
    // 100 TB-flat: one union scan with a scan-time bin expression over
    // a broadcast 1-row min/max, one O(bins) aggregation, one
    // broadcast totals join — no row ever shuffles on a data key. The
    // oracle replays bins and the floored ln term; the per-bin term is
    // decimal-rounded to 6 so the report hashes identically.
    QueryDef("drift_psi_events",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val ref = e.where(col("event_id") % 2 === 0)
        val cur = e.where(col("event_id") % 2 === 1)
        graft.ops.Drift.psiReport(ref, cur, "value", bins = 10)
      },
      Some("""WITH u AS (
        |  SELECT value AS v, event_id % 2 AS side FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |st AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
        |b AS (
        |  SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(9, greatest(0, CAST(floor((v - mn) / (mx - mn) * 10)
        |      AS BIGINT))) END AS bin, side
        |  FROM u, st),
        |c AS (
        |  SELECT bin, count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
        |    count(CASE WHEN side = 1 THEN 1 END) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |  CAST(sum(n_cur) AS BIGINT) AS tc FROM c)
        |SELECT bin, n_ref, n_cur,
        |  CAST(round(CAST(
        |    (greatest(n_cur::DOUBLE / tc::DOUBLE, 1e-6)
        |      - greatest(n_ref::DOUBLE / tr::DOUBLE, 1e-6))
        |    * ln(greatest(n_cur::DOUBLE / tc::DOUBLE, 1e-6)
        |      / greatest(n_ref::DOUBLE / tr::DOUBLE, 1e-6))
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS psi_term
        |FROM c, t ORDER BY bin""".stripMargin)),

    // Binned two-sample KS over the same even/odd split as the PSI
    // gate: d_term = |CDF_ref − CDF_cur| at each bin edge, KS =
    // max(d_term). The oracle re-derives the CDFs with its own window
    // arithmetic over the mirrored bin expression.
    QueryDef("drift_ks_binned",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val ref = e.where(col("event_id") % 2 === 0)
        val cur = e.where(col("event_id") % 2 === 1)
        graft.ops.Drift.ksReport(ref, cur, "value", bins = 10)
      },
      Some("""WITH u AS (
        |  SELECT value AS v, event_id % 2 AS side FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |st AS (SELECT min(v) AS mn, max(v) AS mx FROM u),
        |b AS (
        |  SELECT CASE WHEN mx = mn THEN 0
        |    ELSE least(9, greatest(0, CAST(floor((v - mn) / (mx - mn) * 10)
        |      AS BIGINT))) END AS bin, side
        |  FROM u, st),
        |c AS (
        |  SELECT bin, count(CASE WHEN side = 0 THEN 1 END) AS n_ref,
        |    count(CASE WHEN side = 1 THEN 1 END) AS n_cur
        |  FROM b GROUP BY 1),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |  CAST(sum(n_cur) AS BIGINT) AS tc FROM c),
        |w AS (
        |  SELECT bin, n_ref, n_cur,
        |    sum(n_ref) OVER (ORDER BY bin) AS cr,
        |    sum(n_cur) OVER (ORDER BY bin) AS cc
        |  FROM c)
        |SELECT bin, n_ref, n_cur,
        |  CAST(round(CAST(abs(cr::DOUBLE / tr::DOUBLE
        |    - cc::DOUBLE / tc::DOUBLE) AS DECIMAL(18,8)), 6) AS DOUBLE)
        |    AS d_term
        |FROM w, t ORDER BY bin""".stripMargin)),

    // Daily event-type matrix via the pivot operator (fixed pivot
    // domain keeps the schema deterministic and avoids the
    // distinct-scan pivot() otherwise runs; missing cells coalesce to
    // 0 to match the oracle's FILTER counts).
    QueryDef("events_pivot_daily",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = e.select(to_date(col("ts")).as("day"), col("event_type"))
          .groupBy(col("day")).pivot("event_type", types).count()
        p.select(col("day") +:
            types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy(col("day"))
      },
      Some("""SELECT ts::DATE AS day,
        | COUNT(*) FILTER (event_type = 'click') AS click,
        | COUNT(*) FILTER (event_type = 'error') AS error,
        | COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        | COUNT(*) FILTER (event_type = 'signup') AS signup,
        | COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cohort retention matrix: users grouped by first-seen day, counted
    // per day-offset of return. The first-seen frame is one row per
    // DISTINCT user — billions of rows at 100 TB, so no broadcast hint:
    // both sides hash-partition on user_id (the first-seen agg already
    // shuffled on it), the join is one co-located exchange, and AQE
    // demotes it to broadcast at runtime when the frame really is small.
    QueryDef("events_retention",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val days = e.select(col("user_id"), to_date(col("ts")).as("day"))
        val first = days.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        days.join(first, "user_id")
          .groupBy(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH d AS (SELECT user_id, ts::DATE AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT cohort_day, (day - cohort_day)::INT AS day_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM d JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // DAU / WAU engagement: daily actives plus the 7-day rolling
    // distinct-user count. Rolling DISTINCT cannot ride a window
    // frame (frames aggregate rows, not sets), so each (day, user)
    // contributes itself to the 7 window-end days and the per-day
    // distinct collapses the overlap — shuffle carries
    // distinct-(day,user) × 7 rows, never raw events. Head days have
    // partial windows by construction (both engines agree).
    QueryDef("events_dau_wau",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val du = e.select(to_date(col("ts")).as("day"), col("user_id"))
          .distinct()
        val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val wau = du
          .select(explode(sequence(col("day"), date_add(col("day"), 6)))
            .as("day_w"), col("user_id"))
          .groupBy(col("day_w"))
          .agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, col("day") === col("day_w"))
          .select(col("day"), col("dau"), col("wau"))
          .orderBy(col("day"))
      },
      Some("""WITH du AS (
        |  SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (
        |  SELECT day + i::INT AS day_w, COUNT(DISTINCT user_id) AS wau
        |  FROM du, range(0, 7) t(i) GROUP BY 1)
        |SELECT day, dau, wau
        |FROM dau JOIN wau ON day = day_w
        |ORDER BY day""".stripMargin)),

    // Co-usage Jaccard between event types — "which features share an
    // audience". The intersection counts come from the repo's
    // group-then-pair pattern: each user's (small, ≤|types|) distinct
    // type set explodes to ordered pairs, so the shuffle carries
    // users × pairs-per-user rows and NO type⋈type join of user sets
    // ever forms (the oracle, free to be naive at sf, uses the plain
    // self-join — same semantics, different shape, which is the
    // point). Union sizes by inclusion-exclusion from the broadcast
    // per-type distinct counts; decimal-quotient round for the ratio.
    QueryDef("events_type_overlap",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val ut = e.select(col("user_id"), col("event_type")).distinct()
        val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
        val pairs = ut.groupBy(col("user_id"))
          .agg(sort_array(collect_set(col("event_type"))).as("arr"))
          .select(explode(expr(
            """flatten(transform(arr, (x, i) ->
              |  transform(slice(arr, i + 2, size(arr)),
              |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
          .select(col("p.a").as("t_a"), col("p.b").as("t_b"))
          .groupBy(col("t_a"), col("t_b")).agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(perType.select(col("event_type").as("t_a"),
            col("nu").as("nu_a"))), "t_a")
          .join(broadcast(perType.select(col("event_type").as("t_b"),
            col("nu").as("nu_b"))), "t_b")
          .select(col("t_a"), col("t_b"), col("n_both"),
            round((col("n_both").cast(DecimalType(18, 8)) /
              (col("nu_a") + col("nu_b") - col("n_both")))
              .cast(DecimalType(18, 8)), 6).cast("double").as("jaccard"))
          .orderBy(col("t_a"), col("t_b"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |nt AS (SELECT event_type, count(*) AS nu FROM ut GROUP BY 1),
        |p AS (SELECT a.event_type AS t_a, b.event_type AS t_b,
        |        count(*) AS n_both
        |      FROM ut a JOIN ut b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT t_a, t_b, n_both,
        |  CAST(round(CAST(n_both::DECIMAL(18,8) /
        |    (na.nu + nb.nu - n_both) AS DECIMAL(18,8)), 6) AS DOUBLE) AS jaccard
        |FROM p
        |JOIN nt na ON na.event_type = t_a
        |JOIN nt nb ON nb.event_type = t_b
        |ORDER BY t_a, t_b""".stripMargin)),

    // Event-transition (Markov) matrix: counts of consecutive
    // event-type pairs within each user's timeline — the "what do
    // users do next" table behind journey analysis and funnel
    // hypothesis mining. One lag window per user (one shuffle on
    // user_id), then a tiny types² aggregate; (ts, event_id) ordering
    // makes same-timestamp sequences deterministic.
    QueryDef("events_transition_counts",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        e.withColumn("prev", lag(col("event_type"), 1).over(w))
          .where(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("prev"), col("event_type"))
      },
      Some("""WITH t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type, COUNT(*) AS n
        |FROM t WHERE prev IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n DESC, prev, event_type""".stripMargin)),

    // Daily trending: top-3 event types per day by volume — the
    // rank-within-window report every activity dashboard runs. One
    // (day, type) hash aggregate, then a rank window on day that
    // WindowGroupLimit prunes to 3 rows per day BEFORE the sort
    // materializes; group cardinality is days × types, so the window
    // shuffle is tiny no matter the event volume.
    QueryDef("events_trending_daily",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val counts = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("day"))
          .orderBy(col("n").desc, col("event_type"))
        counts.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .orderBy(col("day"), col("rk"))
      },
      Some("""WITH c AS (
        |  SELECT ts::DATE AS day, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, n,
        |        row_number() OVER (PARTITION BY day
        |                           ORDER BY n DESC, event_type) AS rk
        |      FROM c)
        |SELECT day, event_type, n, rk::INT AS rk FROM r WHERE rk <= 3
        |ORDER BY day, rk""".stripMargin)),

    // Z-score anomaly detection per event type — the monitoring pass
    // over a metric stream. Two scans, both aggregating to |types|
    // rows broadcast back (never a per-row shuffle): pass 1 the
    // decimal-exact mean, pass 2 the decimal-exact variance around
    // that broadcast mean; the flag itself is a scan-local predicate.
    // Deviations are IEEE-double identical in both engines because
    // they derive from the same rounded mean; sums cross engines via
    // DECIMAL. n>1 guard keeps the (n-1) divisor safe under ANSI.
    QueryDef("events_anomaly_zscore",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val v = col("value").cast(DecimalType(18, 6))
        val stats = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round((sum(v) / count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("mean"))
          .where(col("n") > 1)
        val dev = e.join(broadcast(stats), "event_type")
          .withColumn("dev", col("value") - col("mean"))
        val vars = dev.groupBy(col("event_type"))
          .agg(round((sum((col("dev") * col("dev")).cast(DecimalType(28, 10))) /
            (count(lit(1)) - 1)).cast(DecimalType(28, 10)), 6)
            .cast("double").as("variance"))
        dev.join(broadcast(vars), "event_type")
          .withColumn("z", round(col("dev") / sqrt(col("variance")), 3))
          .where(abs(col("z")) > 3)
          .select(col("event_id"), col("event_type"), col("value"), col("z"))
          .orderBy(col("event_id"))
      },
      Some("""WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(round(CAST(SUM(value::DECIMAL(18,6)) / COUNT(*)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS mean
        |  FROM events GROUP BY 1 HAVING COUNT(*) > 1),
        |d AS (
        |  SELECT e.event_id, e.event_type, e.value,
        |    e.value - m.mean AS dev
        |  FROM events e JOIN m USING (event_type)),
        |v AS (
        |  SELECT event_type,
        |    CAST(round(CAST(SUM((dev * dev)::DECIMAL(28,10)) / (COUNT(*) - 1)
        |      AS DECIMAL(28,10)), 6) AS DOUBLE) AS variance
        |  FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value,
        |  round(d.dev / sqrt(v.variance), 3) AS z
        |FROM d JOIN v USING (event_type)
        |WHERE abs(round(d.dev / sqrt(v.variance), 3)) > 3
        |ORDER BY d.event_id""".stripMargin)),

    // KMV distinct-count sketch vs the exact count, per event type.
    // COUNT(DISTINCT) at 100 TB shuffles every raw key; the sketch is
    // one pass with O(k) mergeable state and map-side partials (see
    // expressions.KmvDistinct). k=64 ⇒ exact below 64 distinct users
    // (the sf0.001 regime), ~12.5 % error above — and the estimator is
    // pure IEEE-double arithmetic, so DuckDB reproduces it bit-exactly.
    QueryDef("sketch_distinct_kmv",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        e.groupBy(col("event_type"))
          .agg(
            kmvDistinct(col("user_id"), 64).as("kmv_users"),
            countDistinct(col("user_id")).as("exact_users"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nd
        |  FROM h),
        |k AS (
        |  SELECT event_type, max(nd) AS nd,
        |    max(CASE WHEN rn = 64 THEN h END) AS h64
        |  FROM r GROUP BY event_type)
        |SELECT k.event_type,
        |  CASE WHEN k.nd < 64 THEN k.nd
        |       ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |                       / k.h64::DOUBLE) AS BIGINT)
        |  END AS kmv_users,
        |  x.exact_users
        |FROM k JOIN (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
        |  FROM events GROUP BY 1) x USING (event_type)
        |ORDER BY event_type""".stripMargin)),

    // A/B experiment readout — deterministic 50/50 user split (detHash
    // on user_id, the partitioning-independent assignment every
    // experiment platform needs so a re-run or a re-shard never
    // reassigns anyone), per-arm visitors and purchase conversion,
    // and the pooled two-proportion z statistic. One per-user
    // aggregate (combiner-friendly) + one 2-row rollup; counts stay
    // exact BIGINT and the z formula runs once per arm-pair in IEEE
    // double over decimal-rounded rates — bit-stable cross-engine.
    // At 100 TB the per-user aggregate is the only data-sized stage.
    QueryDef("ab_test_report",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val e = Tables.load(s, dir, "events")
        val perUser = e.groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150.0, 1L).otherwise(0L)).as("converted"))
          .withColumn("arm", detHash(2L, col("user_id")))
        val arms = perUser.groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("converted")).as("n_converted"))
          .withColumn("rate",
            round((col("n_converted").cast("double") /
              col("n_users").cast("double")).cast(dec), 6).cast("double"))
        // two bounded rows: self-join arm 0 × arm 1 for the z stat
        val a = arms.where(col("arm") === 0L)
          .select(col("n_users").as("n0"), col("n_converted").as("c0"),
            col("rate").as("rate0"))
        val b = arms.where(col("arm") === 1L)
          .select(col("n_users").as("n1"), col("n_converted").as("c1"),
            col("rate").as("rate1"))
        a.crossJoin(b)
          .withColumn("p_pool",
            round(((col("c0") + col("c1")).cast("double") /
              (col("n0") + col("n1")).cast("double")).cast(dec), 6)
              .cast("double"))
          // degenerate experiment (everyone or no one converts, e.g.
          // the tiny sf0.001 slice) has zero pooled variance — the z
          // statistic is undefined, not infinite; NULL on both engines
          .withColumn("z",
            when(col("p_pool") > 0.0 && col("p_pool") < 1.0,
              round(((col("rate0") - col("rate1")) /
                sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                  (lit(1.0) / col("n0").cast("double") +
                    lit(1.0) / col("n1").cast("double"))))
                .cast(dec), 6).cast("double")))
          .withColumn("significant_95", abs(col("z")) > 1.96)
      },
      Some(s"""WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' AND value > 150.0
        |      THEN 1 ELSE 0 END)::BIGINT AS converted,
        |    ${detHashSql(2L, Seq("user_id"))} AS arm
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT arm, COUNT(*) AS n_users,
        |    SUM(converted)::BIGINT AS n_converted,
        |    CAST(round(CAST(SUM(converted)::DOUBLE / COUNT(*)::DOUBLE
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS rate
        |  FROM u GROUP BY arm),
        |x AS (
        |  SELECT a.n_users AS n0, a.n_converted AS c0, a.rate AS rate0,
        |    b.n_users AS n1, b.n_converted AS c1, b.rate AS rate1,
        |    CAST(round(CAST((a.n_converted + b.n_converted)::DOUBLE /
        |      (a.n_users + b.n_users)::DOUBLE AS DECIMAL(18,8)), 6)
        |      AS DOUBLE) AS p_pool
        |  FROM (SELECT * FROM arms WHERE arm = 0) a,
        |    (SELECT * FROM arms WHERE arm = 1) b)
        |SELECT n0, c0, rate0, n1, c1, rate1, p_pool,
        |  CASE WHEN p_pool > 0.0 AND p_pool < 1.0 THEN
        |    CAST(round(CAST((rate0 - rate1) /
        |      sqrt(p_pool * (1.0 - p_pool) *
        |        (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE))
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) END AS z,
        |  abs(CASE WHEN p_pool > 0.0 AND p_pool < 1.0 THEN
        |    CAST(round(CAST((rate0 - rate1) /
        |      sqrt(p_pool * (1.0 - p_pool) *
        |        (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE))
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) END) > 1.96 AS significant_95
        |FROM x""".stripMargin)),

    // Incremental sketch maintenance — the nightly-ingest pattern for
    // mergeable state: the KMV distinct sketch's state is the k
    // smallest DISTINCT hashes, a pure function of the value SET, so
    // (stored state over the old snapshot) ∪ (delta batch) re-trimmed
    // to k EQUALS a full-corpus rebuild — bit-exact, not
    // approximately (the same algebra incremental_agg_update proves
    // for counts/sums, here for a sketch). The stored state is ≤ k
    // rows per group (window-ranked), the delta pass touches only the
    // delta, and the gate hashes both estimates plus their equality.
    QueryDef("incremental_sketch_merge",
      (s, dir) => {
        val k = 64
        val M = 1152921504606846976d // 2^60
        val d = Tables.load(s, dir, "documents")
        val hashed = d.select(col("source"),
          hash60(col("text").cast("string")).as("h"))
        val oldState = hashed.where(col("h") % 10 =!= 0)
        val delta = hashed.where(col("h") % 10 === 0)
        val wRank = Window.partitionBy(col("source")).orderBy(col("h"))
        // stored state: k smallest distinct hashes per group
        val stored = oldState.distinct()
          .withColumn("rn", row_number().over(wRank))
          .where(col("rn") <= k).drop("rn")
        def estimate(df: org.apache.spark.sql.DataFrame) =
          df.distinct()
            .withColumn("rn", row_number().over(wRank))
            .where(col("rn") <= k)
            .groupBy(col("source"))
            .agg(count(lit(1)).as("nd"),
              max(when(col("rn") === k, col("h"))).as("hk"))
            .select(col("source"),
              when(col("nd") < k, col("nd"))
                .otherwise(floor(lit((k - 1).toDouble) * lit(M) /
                  col("hk").cast("double")).cast("long")).as("est"))
        val inc = estimate(stored.unionByName(delta))
          .withColumnRenamed("est", "est_incremental")
        val full = d.groupBy(col("source"))
          .agg(kmvDistinct(col("text"), k).as("est_full"))
        inc.join(full, "source")
          .withColumn("merge_equals_rebuild",
            col("est_incremental") === col("est_full"))
          .orderBy(col("source"))
      },
      Some(s"""WITH hsh AS (
        |  SELECT source,
        |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |stored AS (
        |  SELECT source, h FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source
        |      ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT source, h FROM hsh WHERE h % 10 <> 0))
        |  WHERE rn <= 64),
        |merged AS (
        |  SELECT source, h FROM stored
        |  UNION
        |  SELECT source, h FROM hsh WHERE h % 10 = 0),
        |incr AS (
        |  SELECT source,
        |    CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |         ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |           / max(CASE WHEN rn = 64 THEN h END)::DOUBLE) AS BIGINT)
        |    END AS est_incremental
        |  FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source
        |      ORDER BY h) AS rn FROM merged)
        |  WHERE rn <= 64 GROUP BY source),
        |f AS (
        |  SELECT source,
        |    CASE WHEN COUNT(*) < 64 THEN COUNT(*)
        |         ELSE CAST(floor(63::DOUBLE * 1152921504606846976::DOUBLE
        |           / max(CASE WHEN rn = 64 THEN h END)::DOUBLE) AS BIGINT)
        |    END AS est_full
        |  FROM (
        |    SELECT source, h, row_number() OVER (PARTITION BY source
        |      ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT source, h FROM hsh))
        |  WHERE rn <= 64 GROUP BY source)
        |SELECT source, est_incremental, est_full,
        |  est_incremental = est_full AS merge_equals_rebuild
        |FROM incr JOIN f USING (source) ORDER BY source""".stripMargin)),

    // CMS width → error curve: the join-size estimator's additive
    // error is Θ(nA·nB/w) — this report MEASURES the law on real
    // tables (w ∈ {64, 256, 1024}: each 4× width cuts the overcount
    // ~4×), which is the sizing evidence a planner integration needs
    // (pick w so the error is below the broadcast-threshold decision
    // margin). Six one-pass aggregates + one small exact join shared
    // across points; the gate pins estimate arithmetic at every
    // width plus the one-sided invariant.
    QueryDef("join_estimate_width_curve",
      (s, dir) => {
        import s.implicits._
        val d = 4
        val widths = Seq(64, 256, 1024)
        val a = Tables.load(s, dir, "events")
          .select(col("user_id").cast("long").as("k"))
        val b = Tables.load(s, dir, "orders")
          .select(col("o_custkey").cast("long").as("k"))
        val ca = a.groupBy(col("k")).agg(count(lit(1)).as("na"))
          .stageCheckpoint(true) // shared by exact + every width point
        val cb = b.groupBy(col("k")).agg(count(lit(1)).as("nb"))
          .stageCheckpoint(true)
        val exact = ca.join(cb, "k")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)))
          .head().getLong(0)
        widths.map { w =>
          val skA = a.agg(countMin(col("k"), d, w).as("sk"))
            .head().getSeq[Long](0)
          val skB = b.agg(countMin(col("k"), d, w).as("sk"))
            .head().getSeq[Long](0)
          val est = (0 until d).map { j =>
            var s2 = 0L
            var i = 0
            while (i < w) { s2 += skA(j * w + i) * skB(j * w + i); i += 1 }
            s2
          }.min
          (w.toLong, exact, est, est - exact, est >= exact)
        }.toDF("width", "exact_join_size", "cms_estimate", "overcount",
          "never_under")
          .orderBy(col("width"))
      },
      Some {
        def point(w: Int) = {
          val rowEsts = (0 until 4).map { j =>
            s"""(SELECT CAST(COALESCE(SUM(x.c * y.c), 0) AS BIGINT) FROM
              |    (SELECT ${cmsBucketSql("h", j, w)} AS b, SUM(c)::BIGINT AS c FROM ca GROUP BY 1) x
              |    JOIN
              |    (SELECT ${cmsBucketSql("h", j, w)} AS b, SUM(c)::BIGINT AS c FROM cb GROUP BY 1) y
              |    USING (b))""".stripMargin
          }.mkString(",\n|    ")
          s"""SELECT ${w}::BIGINT AS width,
            |  (SELECT x FROM ex) AS exact_join_size,
            |  least(
            |    $rowEsts) AS cms_estimate""".stripMargin
        }
        s"""WITH ca AS (
          |  SELECT k, count(*) AS c,
          |    ('0x' || substring(md5(k::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM (SELECT user_id::BIGINT AS k FROM events) GROUP BY k),
          |cb AS (
          |  SELECT k, count(*) AS c,
          |    ('0x' || substring(md5(k::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM (SELECT o_custkey::BIGINT AS k FROM orders) GROUP BY k),
          |ex AS (
          |  SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS x
          |  FROM ca JOIN cb USING (k))
          |SELECT width, exact_join_size, cms_estimate,
          |  cms_estimate - exact_join_size AS overcount,
          |  cms_estimate >= exact_join_size AS never_under
          |FROM (
          |${point(64)}
          |UNION ALL
          |${point(256)}
          |UNION ALL
          |${point(1024)})
          |ORDER BY width""".stripMargin
      }),

    // Sketch-based join-cardinality estimation — the query-planning
    // use of Count–Min: |A ⋈ B| on a key is the inner product of the
    // two key-frequency vectors, and min over the sketch's d rows of
    // the bucketed inner product estimates it WITHOUT ever joining —
    // two one-pass aggregates whose shuffled state is d·w counters
    // per side, vs a real (or sampled) join. The estimate provably
    // never underestimates (bucket collisions only ADD cross terms),
    // which is exactly the property a planner wants for a
    // broadcast-threshold decision — both engines compute estimate
    // AND exact, so the gate pins the estimator's arithmetic and its
    // one-sided-error invariant together.
    QueryDef("join_size_estimate_cms",
      (s, dir) => {
        import s.implicits._
        val d = 4
        val w = 256
        val a = Tables.load(s, dir, "events")
          .select(col("user_id").cast("long").as("k"))
        val b = Tables.load(s, dir, "orders")
          .select(col("o_custkey").cast("long").as("k"))
        val skA = a.agg(countMin(col("k"), d, w).as("sk"))
          .head().getSeq[Long](0)
        val skB = b.agg(countMin(col("k"), d, w).as("sk"))
          .head().getSeq[Long](0)
        val est = (0 until d).map { j =>
          var s2 = 0L
          var i = 0
          while (i < w) { s2 += skA(j * w + i) * skB(j * w + i); i += 1 }
          s2
        }.min
        val ca = a.groupBy(col("k")).agg(count(lit(1)).as("na"))
        val cb = b.groupBy(col("k")).agg(count(lit(1)).as("nb"))
        val row = ca.join(cb, "k")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("x"))
          .head()
        val exact = row.getLong(0)
        Seq((a.count(), b.count(), exact, est))
          .toDF("n_left", "n_right", "exact_join_size", "cms_estimate")
          .withColumn("overcount",
            col("cms_estimate") - col("exact_join_size"))
          .withColumn("never_under",
            col("cms_estimate") >= col("exact_join_size"))
      },
      Some {
        val rowEsts = (0 until 4).map { j =>
          s"""(SELECT CAST(COALESCE(SUM(x.c * y.c), 0) AS BIGINT) FROM
            |  (SELECT ${cmsBucketSql("h", j, 256)} AS b, SUM(c)::BIGINT AS c FROM ca GROUP BY 1) x
            |  JOIN
            |  (SELECT ${cmsBucketSql("h", j, 256)} AS b, SUM(c)::BIGINT AS c FROM cb GROUP BY 1) y
            |  USING (b))""".stripMargin
        }.mkString(",\n|  ")
        s"""WITH ca AS (
          |  SELECT k, count(*) AS c,
          |    ('0x' || substring(md5(k::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM (SELECT user_id::BIGINT AS k FROM events) GROUP BY k),
          |cb AS (
          |  SELECT k, count(*) AS c,
          |    ('0x' || substring(md5(k::VARCHAR), 1, 15))::BIGINT AS h
          |  FROM (SELECT o_custkey::BIGINT AS k FROM orders) GROUP BY k),
          |est AS (SELECT least(
          |  $rowEsts) AS cms_estimate),
          |ex AS (
          |  SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS exact_join_size
          |  FROM ca JOIN cb USING (k))
          |SELECT (SELECT COUNT(*) FROM events) AS n_left,
          |  (SELECT COUNT(*) FROM orders) AS n_right,
          |  ex.exact_join_size, est.cms_estimate,
          |  est.cms_estimate - ex.exact_join_size AS overcount,
          |  est.cms_estimate >= ex.exact_join_size AS never_under
          |FROM ex, est""".stripMargin
      }),

    // Day-of-week-adjusted volume anomaly screen: daily event counts
    // scored against their own weekday's mean/std (the seasonal
    // baseline that keeps every Saturday from flagging as an anomaly
    // against a weekday-dominated global mean). Same two-pass
    // DECIMAL-exact moment recipe as events_anomaly_zscore; variance=0
    // weekdays are filtered BEFORE the z division (ANSI throws on
    // double division by zero — the r8 Heaps lesson). Bounded frames
    // everywhere: days × 1 row daily rollup, 7-row DOW stats.
    QueryDef("events_anomaly_dow",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
          .withColumn("dow", dayofweek(col("day")))
        val m = daily.groupBy(col("dow"))
          .agg(count(lit(1)).as("nd"),
            round((sum(col("n_events").cast(DecimalType(18, 6))) /
              count(lit(1))).cast(DecimalType(18, 8)), 6)
              .cast("double").as("dow_mean"))
          .where(col("nd") > 1)
        val dev = daily.join(broadcast(m), "dow")
          .withColumn("dev", col("n_events") - col("dow_mean"))
        val v = dev.groupBy(col("dow"))
          .agg(round((sum((col("dev") * col("dev")).cast(DecimalType(28, 10))) /
            (count(lit(1)) - 1)).cast(DecimalType(28, 10)), 6)
            .cast("double").as("variance"))
        dev.join(broadcast(v), "dow")
          .where(col("variance") > 0)
          .withColumn("z", round(col("dev") / sqrt(col("variance")), 3))
          .where(abs(col("z")) > AnomalyDowZ)
          .select(col("day"), col("dow").cast("long").as("dow"),
            col("n_events"), col("dow_mean"), col("z"))
          .orderBy(col("day"))
      },
      Some(s"""WITH daily AS (
        |  SELECT ts::DATE AS day, COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |dw AS (SELECT day, n_events, dayofweek(day) + 1 AS dow FROM daily),
        |m AS (
        |  SELECT dow, COUNT(*) AS nd,
        |    CAST(round(CAST(SUM(n_events::DECIMAL(18,6)) / COUNT(*)
        |      AS DECIMAL(18,8)), 6) AS DOUBLE) AS dow_mean
        |  FROM dw GROUP BY 1 HAVING COUNT(*) > 1),
        |d AS (
        |  SELECT dw.day, dw.dow, dw.n_events, dw.n_events - m.dow_mean AS dev,
        |    m.dow_mean
        |  FROM dw JOIN m USING (dow)),
        |v AS (
        |  SELECT dow,
        |    CAST(round(CAST(SUM((dev * dev)::DECIMAL(28,10)) / (COUNT(*) - 1)
        |      AS DECIMAL(28,10)), 6) AS DOUBLE) AS variance
        |  FROM d GROUP BY 1)
        |SELECT d.day, d.dow::BIGINT AS dow, d.n_events, d.dow_mean,
        |  round(d.dev / sqrt(v.variance), 3) AS z
        |FROM d JOIN v USING (dow)
        |WHERE v.variance > 0
        |  AND abs(round(d.dev / sqrt(v.variance), 3)) > $AnomalyDowZ
        |ORDER BY day""".stripMargin)),

    // Temporal train/test split with entity-leakage census: cutoff at
    // 4/5 of the observed time range (pure integer micros arithmetic
    // against a broadcast min/max), then per split the event/user
    // counts plus how many users appear on BOTH sides — the number a
    // per-user model must see before trusting the holdout (user
    // overlap across a time split is fine for forecasting, leakage
    // for user-level classification; the census makes the choice
    // explicit instead of silent).
    QueryDef("temporal_split_events",
      (s, dir) => {
        val dec = DecimalType(18, 8)
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
        val bounds = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        val lab = e.crossJoin(broadcast(bounds))
          .withColumn("split",
            when(col("us") < col("mn") + expr("((mx - mn) * 4) div 5"),
              "train").otherwise("test"))
        val per = lab.groupBy(col("split"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
        val ov = lab.select(col("split"), col("user_id")).distinct()
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .where(col("c") === 2)
          .agg(count(lit(1)).as("user_overlap"))
        per.crossJoin(broadcast(ov))
          .select(col("split"), col("n_events"), col("n_users"),
            col("user_overlap"),
            round((col("user_overlap").cast("double") /
              col("n_users").cast("double")).cast(dec), 6).cast("double")
              .as("overlap_frac"))
          .orderBy(col("split"))
      },
      Some("""WITH b AS (
        |  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
        |  FROM events),
        |lab AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) < b.mn + ((b.mx - b.mn) * 4) // 5
        |         THEN 'train' ELSE 'test' END AS split
        |  FROM events, b),
        |per AS (
        |  SELECT split, count(*) AS n_events,
        |    count(DISTINCT user_id) AS n_users
        |  FROM lab GROUP BY split),
        |ov AS (
        |  SELECT count(*) AS user_overlap FROM (
        |    SELECT user_id FROM (SELECT DISTINCT split, user_id FROM lab) d
        |    GROUP BY user_id HAVING count(*) = 2) q)
        |SELECT per.split, per.n_events, per.n_users, ov.user_overlap,
        |  CAST(round(CAST(ov.user_overlap::DOUBLE / per.n_users::DOUBLE
        |    AS DECIMAL(18,8)), 6) AS DOUBLE) AS overlap_frac
        |FROM per CROSS JOIN ov
        |ORDER BY split""".stripMargin)),

    // Discounted episode returns — the RL view of the event log: each
    // (user, session) is an episode, each event's value a step
    // reward, and the report is the truncated discounted return
    // G = Σ_{k≤H} γᵏ·r_k with γ = 0.1, H = 12. γ = 1/10 is chosen so
    // γᵏ is EXACT in scaled-integer arithmetic: each term is the
    // ×10⁶-scaled reward times 10^(H−k) — a BIGINT — summed as
    // DECIMAL(38,0), so the return is bit-identical across engines
    // and partitionings (a double Σγᵏr_k would be addition-order-
    // dependent); γ and H are dials in real use. Plan: the session
    // counter and the step index come from the SAME per-user window
    // (step = row_number − running max of session-start row_number —
    // no second exchange), then one rollup on (user, session) and the
    // output sort. Horizon pruning (k ≤ H) happens before the rollup,
    // so a hot user's month-long session contributes ≤ H+1 rows.
    QueryDef("events_episode_returns",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val run = byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val newSession = when(
          unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(byUser)) > SessionGapUs, 1)
          .when(lag(col("ts"), 1).over(byUser).isNull, 1)
          .otherwise(0)
        val stepped = e
          .withColumn("__new", newSession)
          .withColumn("session_seq", sum(col("__new")).over(run))
          .withColumn("__rn", row_number().over(byUser).cast("long"))
          .withColumn("__k", col("__rn") -
            max(when(col("__new") === 1, col("__rn"))).over(run))
          .where(col("__k") <= EpisodeHorizon)
          .withColumn("__v6",
            round(round(col("value"), 6) * lit(1e6), 0).cast("long"))
          .withColumn("__term",
            col("__v6").cast(DecimalType(20, 0)) *
              pow(lit(10.0), lit(EpisodeHorizon) - col("__k"))
                .cast(DecimalType(13, 0)))
        stepped.groupBy(col("user_id"), col("session_seq"))
          .agg(count(lit(1)).as("n_steps"),
            round(sum(col("__term")).cast("double")
              / lit(math.pow(10.0, 6 + EpisodeHorizon)), 6).as("ret"))
          .orderBy(col("user_id"), col("session_seq"))
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > $SessionGapUs
        |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (
        |  SELECT user_id, value,
        |    SUM(new_session) OVER w2 AS session_seq,
        |    rn - max(CASE WHEN new_session = 1 THEN rn END) OVER w2 AS k
        |  FROM g
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (
        |  SELECT user_id, session_seq,
        |    CAST(round(round(value, 6) * 1e6, 0) AS HUGEINT)
        |      * CAST(10 ** ($EpisodeHorizon - k) AS HUGEINT) AS term
        |  FROM st WHERE k <= $EpisodeHorizon)
        |SELECT user_id, session_seq::BIGINT AS session_seq,
        |  count(*) AS n_steps,
        |  round(CAST(sum(term) AS DOUBLE) / 1e${6 + EpisodeHorizon}, 6) AS ret
        |FROM t GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)),

    // CUSUM changepoint per event type: the day where the cumulative
    // deviation of the daily-total series from its mean peaks — the
    // classic single-changepoint location statistic, and the offline
    // mirror of a drift monitor's "WHEN did this stream shift"
    // (drift_psi_events answers "did it shift", this answers "where").
    // Scale shape: one aggregate to days × types, then windows over
    // that tiny frame — the raw event scan never sorts. Exactness:
    // the mean-free statistic is computed cleared of division —
    // n·S_t − t·S_n in DECIMAL (days and daily totals exact) — so the
    // argmax and its earliest-day tiebreak are deterministic on both
    // engines; only the reported normalized peak divides, in one
    // rounded double.
    QueryDef("events_cusum_changepoint",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(24, 6)).as("y"))
        val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val wAll = Window.partitionBy(col("event_type"))
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val scored = daily
          .withColumn("t", row_number().over(wOrd).cast(DecimalType(8, 0)))
          .withColumn("cum", sum(col("y")).over(wOrd).cast(DecimalType(24, 6)))
          .withColumn("tot", sum(col("y")).over(wAll).cast(DecimalType(24, 6)))
          .withColumn("nd", count(lit(1)).over(wAll).cast(DecimalType(8, 0)))
          .withColumn("stat", col("nd") * col("cum") - col("t") * col("tot"))
        val pick = Window.partitionBy(col("event_type"))
          .orderBy(abs(col("stat")).desc, col("day"))
        scored.withColumn("rn", row_number().over(pick))
          .where(col("rn") === 1)
          .select(col("event_type"), col("day").as("cp_day"),
            col("nd").cast("long").as("n_days"),
            round(col("stat").cast("double") / col("nd").cast("double"), 6)
              .as("cusum"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (
        |  SELECT event_type, ts::DATE AS day,
        |    SUM(value::DECIMAL(18,6))::DECIMAL(24,6) AS y
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day,
        |    (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day))
        |      ::DECIMAL(8,0) AS t,
        |    (SUM(y) OVER (PARTITION BY event_type ORDER BY day))
        |      ::DECIMAL(24,6) AS cum,
        |    (SUM(y) OVER (PARTITION BY event_type))::DECIMAL(24,6) AS tot,
        |    (COUNT(*) OVER (PARTITION BY event_type))::DECIMAL(8,0) AS nd
        |  FROM daily),
        |sc AS (SELECT *, nd*cum - t*tot AS stat FROM w),
        |p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY abs(stat) DESC, day) AS rn
        |      FROM sc)
        |SELECT event_type, day AS cp_day, nd::BIGINT AS n_days,
        |  round(stat::DOUBLE / nd::DOUBLE, 6) AS cusum
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Watermark-lateness audit: how out-of-order is each event stream,
    // measured as event-time regression against the running maximum in
    // arrival order (event_id — the per-shard arrival sequence, the
    // order a Kafka partition would deliver) — the data-driven answer
    // to "what watermark delay keeps loss under x%" BEFORE wiring a
    // streaming job (every withWatermark in graft.streaming takes this
    // number on faith; this query measures it). Per event_type =
    // per shard, so the arrival-order window partitions — no global
    // sort. p95 is an integer-rank order statistic (ceil(0.95n) =
    // (19n+19) div 20), not an interpolated percentile — exact on
    // both engines.
    QueryDef("events_watermark_audit",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val wArr = Window.partitionBy(col("event_type"))
          .orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val late = e.select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("late_us", max(col("us")).over(wArr) - col("us"))
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("late_us"), col("event_id"))
        val ranked = late.withColumn("rn", row_number().over(wRank))
        val agg = late.groupBy(col("event_type")).agg(
          count(lit(1)).as("n_events"),
          (max(col("late_us")) / lit(1000000L)).cast("long").as("max_late_s"),
          sum(when(col("late_us") > 60L * 1000000L, 1L).otherwise(0L))
            .as("c1m"),
          sum(when(col("late_us") > 600L * 1000000L, 1L).otherwise(0L))
            .as("c10m"),
          sum(when(col("late_us") > 3600L * 1000000L, 1L).otherwise(0L))
            .as("c1h"))
        val aggK = agg.withColumn("k95",
          expr("(n_events * 19 + 19) DIV 20"))
        aggK.join(ranked.select(col("event_type").as("et2"),
            col("rn").cast("long").as("rn2"),
            (col("late_us") / lit(1000000L)).cast("long").as("p95_late_s")),
            col("rn2") === col("k95") && col("et2") === col("event_type"))
          .select(col("event_type"), col("n_events"), col("max_late_s"),
            col("p95_late_s"),
            round(col("c1m").cast("double") / col("n_events").cast("double"), 6)
              .as("pct_late_1m"),
            round(col("c10m").cast("double") / col("n_events").cast("double"), 6)
              .as("pct_late_10m"),
            round(col("c1h").cast("double") / col("n_events").cast("double"), 6)
              .as("pct_late_1h"))
          .orderBy(col("event_type"))
      },
      Some("""WITH l AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY event_id ROWS UNBOUNDED PRECEDING) - epoch_us(ts)
        |      AS late_us
        |  FROM events),
        |r AS (
        |  SELECT event_type, late_us,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY late_us, event_id) AS rn
        |  FROM l),
        |a AS (
        |  SELECT event_type, COUNT(*) AS n_events,
        |    (MAX(late_us) // 1000000)::BIGINT AS max_late_s,
        |    SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)::BIGINT AS c1m,
        |    SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)::BIGINT
        |      AS c10m,
        |    SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)::BIGINT
        |      AS c1h
        |  FROM l GROUP BY 1)
        |SELECT a.event_type, a.n_events, a.max_late_s,
        |  (r.late_us // 1000000)::BIGINT AS p95_late_s,
        |  round(a.c1m::DOUBLE / a.n_events::DOUBLE, 6) AS pct_late_1m,
        |  round(a.c10m::DOUBLE / a.n_events::DOUBLE, 6) AS pct_late_10m,
        |  round(a.c1h::DOUBLE / a.n_events::DOUBLE, 6) AS pct_late_1h
        |FROM a JOIN r ON r.event_type = a.event_type
        |  AND r.rn = (a.n_events * 19 + 19) // 20
        |ORDER BY a.event_type""".stripMargin)),

    // Theil–Sen robust daily trend per event type: the median of all
    // pairwise day-to-day slopes — the outlier-immune complement to
    // events_trend_ols (one anomalous day, the kind events_anomaly_mad
    // flags, can drag OLS arbitrarily; it moves the pairwise-slope
    // median by at most one rank). Scale shape: the raw scan reduces
    // to the daily frame first; the O(days²) pair join and the rank
    // window run on THAT bounded frame (days × types rows — never the
    // events), so corpus size only enters through the one daily
    // aggregate. Exactness: each slope is ONE IEEE division of
    // exact-decimal differences, identical on both engines; the
    // median is an integer-rank order statistic (lower median,
    // (n+1) div 2) with a (slope, xa, xb) total order — no
    // interpolation, no ties ambiguity.
    QueryDef("events_theil_sen",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)).as("y"))
          .select(col("event_type"),
            datediff(col("day"), lit("1970-01-01").cast("date"))
              .cast(DecimalType(10, 0)).as("x"),
            col("y"))
          // pairs + n_days both read it; the daily frame is bounded
          .stageCheckpoint(true)
        val b = daily.select(col("event_type").as("et_b"),
          col("x").as("xb"), col("y").as("yb"))
        val pairs = daily
          .join(b, col("event_type") === col("et_b") && col("x") < col("xb"))
          .select(col("event_type"), col("x").as("xa"), col("xb"),
            ((col("yb") - col("y")).cast("double") /
              (col("xb") - col("x")).cast("double")).as("slope"))
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("slope"), col("xa"), col("xb"))
        val wN = Window.partitionBy(col("event_type"))
        val nd = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"))
        pairs.withColumn("rn", row_number().over(wRank))
          .withColumn("np", count(lit(1)).over(wN))
          .where(col("rn") === expr("(np + 1) DIV 2"))
          .join(broadcast(nd), "event_type")
          .select(col("event_type"), col("n_days"),
            col("np").as("n_pairs"),
            round(col("slope").cast(DecimalType(28, 8)), 6)
              .cast("double").as("ts_slope"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS MATERIALIZED (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', ts::DATE)::DECIMAL(10,0)
        |      AS x,
        |    SUM(value::DECIMAL(18,6))::DECIMAL(18,6) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type, a.x AS xa, b.x AS xb,
        |    (b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.x < b.x),
        |r AS (
        |  SELECT event_type, slope,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope, xa, xb) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM p),
        |nd AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1)
        |SELECT r.event_type, nd.n_days, r.np AS n_pairs,
        |  CAST(round(slope::DECIMAL(28,8), 6) AS DOUBLE) AS ts_slope
        |FROM r JOIN nd ON nd.event_type = r.event_type
        |WHERE rn = (np + 1) // 2
        |ORDER BY r.event_type""".stripMargin)),

    // Page–Hinkley online drift series per event type (ops/Drift
    // .pageHinkley): PH_t = m_t − min m over the prefix, where
    // m_t = Σ round6(y_i − prefix-mean_i) — the ONLINE "has this
    // metric drifted upward" monitor whose whole recursion fits in
    // four numbers of per-group state, which is exactly why
    // streaming/PageHinkleyStream can replay this identical series
    // over an unbounded stream (parity spec-pinned). Offline
    // complement: events_cusum_changepoint locates a shift with the
    // GLOBAL mean in hand; PH only ever sees the prefix. Scale shape:
    // one aggregate to the daily frame, then one sorted window pass
    // per group over it. λ = 2000 against daily totals ~3.4k flags
    // sustained upward drift but not single-day noise.
    QueryDef("events_page_hinkley",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)).as("y"))
        graft.ops.Drift.pageHinkley(daily, "event_type", "day", "y",
            lambda = PageHinkleyLambda)
          .orderBy(col("event_type"), col("day"))
      },
      Some(s"""WITH daily AS (
        |  SELECT event_type, ts::DATE AS day,
        |    SUM(value::DECIMAL(18,6))::DECIMAL(18,6) AS y
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day, y,
        |    (ROW_NUMBER() OVER w)::BIGINT AS i,
        |    (SUM(y) OVER w)::DECIMAL(28,6) AS s
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |t AS (
        |  SELECT event_type, day, i,
        |    CAST(round((y::DOUBLE - s::DOUBLE / i::DOUBLE)
        |      ::DECIMAL(18,8), 6) AS DECIMAL(18,6)) AS term
        |  FROM b),
        |m AS (
        |  SELECT event_type, day, i,
        |    (SUM(term) OVER w)::DECIMAL(28,6) AS m
        |  FROM t WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING)),
        |p AS (
        |  SELECT event_type, day, i,
        |    (m - MIN(m) OVER w)::DECIMAL(28,6) AS ph
        |  FROM m WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, day, i, ph::DOUBLE AS ph,
        |  ph::DOUBLE > $PageHinkleyLambda AS alarm
        |FROM p ORDER BY event_type, day""".stripMargin)),

    // Adjusted, span-capped EWMA of the daily metric (the pandas
    // `ewm(adjusted=True)` convention truncated at 8 lags):
    // l_t = Σⱼ βʲ·y_{t−j} / Σⱼ βʲ over the OBSERVED days present in
    // the window, β = 0.7 (the dropped tail beyond lag 7 carries
    // < 6 % of the mass). The truncation is what makes the recursion
    // a FIXED lag chain instead of an unbounded one: both engines
    // evaluate the same 8-term left-associated numerator/denominator
    // over round-6 daily totals — one IEEE shape, no recursive state
    // to re-quantize (the events_page_hinkley trick is unnecessary
    // here because the kernel is finite). Scale shape: one aggregate
    // to the days × types frame, then one sorted window pass with 8
    // lags — O(1) per-row state, the same contract as
    // events_moving_avg_7d but with recency weighting.
    QueryDef("events_ewma_daily",
      (s, dir) => {
        val e = Tables.load(s, dir, "events")
        val daily = e.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(round(sum(col("value").cast(DecimalType(18, 6)))
            .cast(DecimalType(18, 6)), 6).cast("double").as("y"))
        graft.ops.Smooth.ewmaAdjusted(daily, "event_type", "day", "y")
          .orderBy(col("event_type"), col("day"))
      },
      Some {
        def lagJ(j: Int) = if (j == 0) "y" else s"lag(y, $j) OVER w"
        val num = (0 until EwmaLags)
          .map(j => s"${EwmaWeights(j)} * coalesce(${lagJ(j)}, 0.0)")
          .mkString(" + ")
        val den = (0 until EwmaLags)
          .map(j => s"(CASE WHEN ${lagJ(j)} IS NULL THEN 0.0" +
            s" ELSE ${EwmaWeights(j)} END)")
          .mkString(" + ")
        val nl = (0 until EwmaLags)
          .map(j => s"(CASE WHEN ${lagJ(j)} IS NULL THEN 0 ELSE 1 END)")
          .mkString(" + ")
        s"""WITH daily AS (
        |  SELECT event_type, ts::DATE AS day,
        |    CAST(round(SUM(value::DECIMAL(18,6))::DECIMAL(18,6), 6)
        |      AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, y,
        |  ($nl)::BIGINT AS n_lags,
        |  CAST(round((($num) / ($den))::DECIMAL(18,8), 6) AS DOUBLE)
        |    AS ewma
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |ORDER BY event_type, day""".stripMargin
      })
  )

  /** events_ewma_daily constants (shared with the batch operator and
    * streaming twin via ops/Smooth): β = 0.7, 8-lag span cap.
    * Weights interpolate into the oracle as shortest-round-trip
    * literals (Java Double.toString ↔ DuckDB literal parse are both
    * nearest-double, so the same 64 bits land on both engines).
    */
  private def EwmaLags = graft.ops.Smooth.EwmaLags
  private def EwmaWeights = graft.ops.Smooth.EwmaWeights

  /** Page–Hinkley alarm threshold, shared by the query and its oracle
    * (daily totals at this corpus run ~3.4k ± 0.8k; 2000 of cumulative
    * positive deviation is sustained drift, not one noisy day).
    */
  private val PageHinkleyLambda = 2000.0
}
