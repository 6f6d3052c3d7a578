package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.ops.Stage.StagedFrame

/** The reference's classical (non-LLM) ETL operators, re-expressed as
  * declarative DataFrame transforms so Catalyst can prune/push/reorder.
  *
  * Scale notes (100 TB): every per-group operator here is a single
  * hash-partitioned window or aggregation — one shuffle on the group
  * key, map-side partial aggregation where applicable, no driver-side
  * collection, no skew-fragile cross joins.
  */
object Relational {

  /** P1 — scope projection: per-instruction column pruning; keep only
    * `scope` columns (reference: instructions_runners.py:42-61).
    * Expressed as select so parquet reads only the scoped columns.
    */
  def scopeProject(df: DataFrame, scope: Seq[String]): DataFrame =
    df.select(scope.map(col): _*)

  /** P1b — scope projection with invalid-value row filter: drop rows
    * where every scoped value is invalid (reference returns None for
    * empty results, instructions_runners.py:56-61).
    */
  def scopeProjectValid(df: DataFrame, scope: Seq[String]): DataFrame =
    df.select(scope.map(col): _*)
      .where(scope.map(c => valid(col(c))).reduce(_ || _))

  /** P5 — low-length filter: drop rows whose text has < k
    * whitespace-split words (reference: etl_slimpajama_dc_proc.py:140-144).
    */
  def lengthFilter(df: DataFrame, textCol: String, minWords: Int): DataFrame =
    df.where(wordCount(col(textCol)) >= minWords)

  /** A2 — first-per-group dedup. The reference keeps the first row in
    * file order (etl_sampling_by_key.py:42-53); file order is not a
    * distributed concept, so the order is made explicit via
    * `orderCols` — deterministic at any parallelism.
    */
  def dedupFirst(df: DataFrame, key: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** O1 — per-group capped sample (reference: etl_sampling_by_key.py:56-80
    * uses Python's seeded random.sample). Reproduced with a
    * deterministic per-row hash order: stable across partitionings and
    * cluster sizes, unlike rand(seed), and oracle-checkable. One
    * shuffle on the group key.
    */
  def groupSample(df: DataFrame, key: Seq[String], maxGroupSize: Int,
                  hashCols: Seq[Column]): DataFrame = {
    val h = detHash(1000003L, hashCols: _*)
    val w = Window.partitionBy(key.map(col): _*).orderBy((h +: hashCols): _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxGroupSize)
      .drop("__rn")
  }

  /** O1-chain — multi-key chained sampling (reference `multi_sampling`,
    * etl_sampling_by_key.py:72-80): each pass re-groups the previous
    * pass's output.
    */
  def multiGroupSample(df: DataFrame, keys: Seq[Seq[String]], maxGroupSize: Int,
                       hashCols: Seq[Column]): DataFrame =
    keys.foldLeft(df)((d, k) => groupSample(d, k, maxGroupSize, hashCols))

  /** O2 — group-wise train/val/test split with no key leakage across
    * splits (reference: etl_split_data_by_key.py:27-55 shuffles the
    * distinct keys). Every row of a key lands in exactly one split.
    * Implemented as a pure expression on the key (no extra shuffle or
    * join at all — the reference's shuffle-the-keys is equivalent to a
    * deterministic hash assignment for ratio purposes).
    */
  def groupSplit(df: DataFrame, keyCol: String,
                 trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = detHash(100L, col(keyCol))
    df.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** A4 — group distribution report: histogram of group sizes,
    * descending (reference: etl_sampling_by_key.py:83-90).
    */
  def distribution(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col(key))

  /** O3 — deterministic global shuffle (reference random.shuffle with
    * seed=2 before inference, apps/training/inf.py:119-120). A seeded
    * rand() order is partitioning-dependent in Spark, so the shuffle
    * order is a hash of the key columns instead: same permutation at
    * any parallelism, oracle-checkable.
    */
  def globalShuffle(df: DataFrame, keyCols: Seq[Column]): DataFrame =
    df.orderBy((detHash(1000003L, keyCols: _*) +: keyCols): _*)

  /** O4 — shuffle + head-n (reference dataset.shuffle(seed).select(
    * range(n)), apps/training/sft.py:94-108). Executes as a top-k
    * (TakeOrderedAndProject), not a full sort, for small n.
    */
  def shuffleLimit(df: DataFrame, keyCols: Seq[Column], n: Int): DataFrame =
    globalShuffle(df, keyCols).limit(n)

  /** A1 (JSON-key variant) — group by the canonical JSON serialization
    * of composite/nested key columns (reference `grouping` serializes
    * non-string keys to JSON, etl_sampling_by_key.py:17-32).
    */
  def groupByJsonKey(df: DataFrame, keyCols: Seq[String]): org.apache.spark.sql.RelationalGroupedDataset =
    df.groupBy(to_json(struct(keyCols.map(col): _*)).as("json_key"))

  /** ST3 — observed metrics on a batch/stream (reference per-row
    * progress ratio, etl_slimpajama_dc_proc.py:162-166): attach named
    * count/sum observers; read them from QueryExecutionListener /
    * StreamingQueryProgress instead of driver-side loops.
    */
  def observeCounts(df: DataFrame, name: String, metrics: (String, Column)*): DataFrame =
    df.observe(name, metrics.map { case (n, c) => c.as(n) }.head,
      metrics.tail.map { case (n, c) => c.as(n) }: _*)

  /** observeCounts variant over an Observation handle, for batch jobs
    * that want to read the metrics directly after the action instead
    * of wiring a QueryExecutionListener.
    */
  def observeWith(df: DataFrame, obs: org.apache.spark.sql.Observation,
                  metrics: (String, Column)*): DataFrame =
    df.observe(obs, metrics.map { case (n, c) => c.as(n) }.head,
      metrics.tail.map { case (n, c) => c.as(n) }: _*)

  /** Equi-join dry-run: the EXACT output cardinality and the hottest
    * key of `left ⋈ right` on `leftKey = rightKey`, computed WITHOUT
    * running the join — |A ⋈ B| = Σ_k cA(k)·cB(k) over per-side key
    * counts, so the cost is two key aggregates plus a join of two
    * key-count frames (each ≤ |distinct keys| rows) instead of
    * materializing a possibly-exploding result. The production guard
    * before any large fact-fact join at 100 TB: a power-law key that
    * would multiply two millions-row groups shows up here as
    * max_key_rows ≈ 10¹², for the price of a count. Returns one row:
    * est_rows (exact), n_join_keys (keys present on both sides),
    * max_key_rows (the hottest key's contribution — the skew signal
    * that decides between a plain join, saltedJoin, or AQE skew
    * handling).
    *
    * INTERNAL arithmetic is DECIMAL(38,0), not LongType, ON PURPOSE:
    * the probe exists for the exploding-join regime, where per-key
    * products reach ~10¹² and their sum can exceed Long.MaxValue —
    * exactly the case where a Long sum would silently wrap (non-ANSI)
    * to a small or negative estimate and the guard would wave the job
    * through. Two (19,0) counts multiply into (38,0) with headroom to
    * ~10³⁸. The REPORT columns, though, are BIGINT: a decimal output
    * column round-trips differently across engines (DuckDB renders
    * DECIMAL(38,0) as float64 in arrow/pandas, Spark writes exact
    * decimal — a dtype/render break, not a math one), and every
    * caller compares est_rows against Long row counts anyway. The
    * BIGINT cast sits behind an explicit in-range check: a sum past
    * Long.MaxValue surfaces as NULL — loudly distinguishable from the
    * empty-join 0, because the 0 default is gated on n_join_keys = 0
    * (a NULL est with keys present can ONLY mean overflow).
    */
  def joinSizeProbe(left: DataFrame, right: DataFrame,
                    leftKey: String, rightKey: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val ca = left.groupBy(col(leftKey).as("__k"))
      .agg(count(lit(1)).cast(dec).as("__ca"))
    val cb = right.groupBy(col(rightKey).as("__k"))
      .agg(count(lit(1)).cast(dec).as("__cb"))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // NULL → 0 only for the genuinely-empty aggregate; overflow NULLs
    // (decimal sum past (38,0) can't happen below 10³⁸, but the
    // BIGINT emit below can) must stay NULL.
    def emitLong(c: Column, nKeys: Column): Column =
      when(nKeys === 0, lit(0L))
        .otherwise(when(c <= lit(Long.MaxValue).cast(dec38), c.cast("long")))
    val agg = ca.join(cb, "__k")
      .select((col("__ca") * col("__cb")).cast(dec38).as("__p"))
      .agg(sum(col("__p")).as("__est"), count(lit(1)).as("n_join_keys"),
        max(col("__p")).as("__max"))
    agg.select(
      emitLong(col("__est"), col("n_join_keys")).as("est_rows"),
      col("n_join_keys"),
      emitLong(col("__max"), col("n_join_keys")).as("max_key_rows"))
  }

  /** Key-distribution skew diagnostics — the companion to
    * [[joinSizeProbe]]: before committing a shuffle strategy (plain
    * vs salted vs broadcast), measure HOW skewed the key actually is.
    * One row: total rows, distinct keys, the hottest key and its
    * count, the p99 per-key count, and skew_ratio = max/mean (1.0 =
    * perfectly uniform; salting pays off roughly when this exceeds
    * the per-reducer row budget ratio).
    *
    * Scale shape: one shuffle on the key for the count aggregate,
    * then everything runs over per-key COUNTS, never rows. The p99
    * walk uses a counts-of-counts frame: its size is the number of
    * DISTINCT multiplicities, ≤ √(2·n_rows) by the pigeonhole sum
    * bound (counts 1..m alone sum to m²/2), so the unpartitioned
    * cumulative window is driver-bounded even at 100 TB — ~4.5 M rows
    * at 10¹³ input rows, and real power-law corpora sit orders below
    * that.
    */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val c = df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
    val stats = c.agg(sum(col("__c")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("__c")).as("max_cnt"))
    val hot = c.crossJoin(broadcast(stats.select(col("max_cnt").as("__m"))))
      .where(col("__c") === col("__m"))
      .agg(min(col("__k")).as("hot_key"))
    val cc = c.groupBy(col("__c")).agg(count(lit(1)).as("__nk"))
    val wCum = Window.orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p99 = cc.crossJoin(broadcast(stats.select(col("n_keys").as("__t"))))
      .withColumn("__cum", sum(col("__nk")).over(wCum))
      .agg(min(when(col("__cum") >= greatest(lit(1L),
        ceil(lit(0.99) * col("__t")).cast("long")), col("__c")))
        .as("p99_cnt"))
    stats.crossJoin(broadcast(hot)).crossJoin(broadcast(p99))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        col("hot_key"), col("p99_cnt"),
        round((col("max_cnt").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).cast(dec), 6)
          .cast("double").as("skew_ratio"))
  }

  /** Skew-resistant two-phase aggregation: salt the hot key space into
    * `salts` subkeys, partially aggregate per (key, salt), then
    * combine per key. Use when one key holds a disproportionate share
    * of rows (power-law keys at 100 TB): the first shuffle spreads the
    * hot key over `salts` reducers instead of one. Only
    * decomposable aggregates (sum/count/min/max) — pass the partial
    * and final combiner explicitly.
    */
  def saltedAgg(df: DataFrame, key: Seq[String], valueCol: Column,
                partial: Column => Column, combine: Column => Column,
                salts: Int): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    salted
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(partial(valueCol).as("__partial"))
      .groupBy(key.map(col): _*)
      .agg(combine(col("__partial")).as("agg_val"))
  }

  /** Persist a frame as a bucketed + in-bucket-sorted parquet table —
    * the 100 TB lever for repeated joins/aggregations on a stable key
    * (fact-to-fact joins, iterative dedup over the same corpus):
    * both sides bucketed by the same key and count join with NO
    * shuffle exchange and no sort (BucketingSpec asserts the plan).
    * Bucket count rule of thumb at scale: total size / 128 MB,
    * rounded to a power of two so half/double-bucket joins still
    * align via bucket coalescing
    * (spark.sql.bucketing.coalesceBucketsInJoin.enabled).
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** Skew-resistant equi-join (the join-side twin of saltedAgg): the
    * skewed left side tags each row with a deterministic salt in
    * [0, salts), the right side is replicated once per salt value, and
    * the join key becomes (key, salt) — so a hot left key spreads over
    * `salts` reducers instead of hammering one. The result is exactly
    * the plain inner join; only the shuffle layout changes.
    *
    * Use when the right side is too large to broadcast AND the left
    * key distribution is power-law (AQE's skew-join split handles
    * moderate skew on its own; salting is for the pathological single
    * hot key whose one partition would otherwise exceed executor
    * memory). Cost: the right side shuffles `salts`× its size —
    * size salts to the hot key's overload factor, not higher.
    *
    * saltBy should be left-side columns that vary per row (ideally a
    * unique id): they drive only the salt *distribution*, never
    * correctness.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, leftKey: String,
                 rightKey: String, salts: Int, saltBy: Seq[Column]): DataFrame = {
    val l = left.withColumn("__salt", detHash(salts.toLong, saltBy: _*))
    val r = right.withColumn("__salt_r",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    // frame-qualified refs: leftKey and rightKey may share a name
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt_r"))
      .drop("__salt", "__salt_r")
  }

  /** Binned range join: right rows whose integer timestamp falls in
    * the left row's trailing window [leftTs − windowUs, leftTs).
    *
    * The naive formulation (equi-join on the key + range predicate)
    * makes Spark join EVERY same-key pair and post-filter — per-key
    * quadratic, the classic range-join trap. Binning fixes the shape:
    * each right row lands in ONE windowUs-wide bucket, each left row
    * votes its window's TWO possible buckets (the window is exactly
    * one bucket long, so floor((lts−W)/W) = floor(lts/W) − 1 covers
    * every matching right bucket), and the join becomes an equi-join
    * on (key, bucket) — shuffle on a compound key whose per-reducer
    * load is bounded by the key's traffic per window, not its total
    * history. A right row matches through exactly one vote, so no
    * post-join dedup is needed. Bucket arithmetic is integral FLOOR
    * division — immune to double rounding at bucket edges, and unlike
    * SQL `div` (which truncates toward zero) correct for timestamps
    * near or below zero: with `div`, both votes of a left row with
    * 0 < ts < W evaluate to 0 (duplicated matches) and negative
    * timestamps land in the wrong bucket (silently missed matches).
    * floor(ts/W) − 1 and floor(ts/W) always differ, so the one-vote
    * invariant holds over the whole integer line. Column names
    * across the two sides must be distinct.
    */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String,
                      leftTsUs: String, rightTsUs: String,
                      windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    // pure-integer floor division: `a div W` adjusted down by one when
    // truncation rounded toward zero on a negative dividend (Spark's
    // % carries the dividend's sign, so a % W < 0 ⟺ a < 0 ∧ W ∤ a)
    def floorDiv(e: String): Column =
      expr(s"(($e) div ${windowUs}L) - (CASE WHEN ($e) % ${windowUs}L < 0 " +
        "THEN 1 ELSE 0 END)")
    val r = right.withColumn("__rb", floorDiv(rightTsUs))
    val l = left.withColumn("__fb", floorDiv(leftTsUs))
      .withColumn("__lb", explode(array(col("__fb") - 1, col("__fb"))))
    l.join(r, col(leftKey) === col(rightKey) && col("__lb") === col("__rb") &&
        col(rightTsUs) >= col(leftTsUs) - windowUs &&
        col(rightTsUs) < col(leftTsUs))
      .drop("__fb", "__lb", "__rb")
  }

  /** SCD2 compaction: collapse an append-only change stream into
    * slowly-changing-dimension VERSION INTERVALS — keep only rows
    * where some tracked value actually changed from the key's
    * previous row (CDC feeds re-emit unchanged snapshots constantly),
    * then stamp each survivor with [valid_from, valid_to) where
    * valid_to = the next change's sequence value (NULL = current
    * version). The standard warehouse shape for point-in-time
    * dimension reconstruction — pair it with [[asofJoin]] on
    * valid_from for "attribute as of time T" lookups.
    *
    * One hash shuffle on `keys` with one per-partition sort serves
    * both windows (the change-mark filter preserves partitioning and
    * order, so the valid_to lead() adds no exchange). Null-safe
    * comparison (`<=>`): a null→value or value→null transition IS a
    * change; a null→null run compacts. Ties on `seqCol` are broken by
    * `tie` (pass a unique id for a deterministic result).
    */
  def scd2Compact(df: DataFrame, keys: Seq[String], seqCol: String,
                  tie: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && valueCols.nonEmpty,
      "scd2Compact needs >= 1 key and >= 1 tracked value column")
    val ord = col(seqCol) +: tie.map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val changed = valueCols
      .map(v => !(col(v) <=> lag(col(v), 1).over(w)))
      .reduce(_ || _)
    df.withColumn("__first", row_number().over(w) === 1)
      .withColumn("__chg", changed)
      .where(col("__first") || col("__chg"))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .select(keys.map(col) ++ tie.map(col) ++
        Seq(col(seqCol).as("valid_from"), col("valid_to")) ++
        valueCols.map(col): _*)
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * priority sampling, the A-ES scheme): each row draws a
    * deterministic uniform u ∈ (0, 1] from its id via detHash and is
    * ranked by key = ln(u) / w — the top-k keys are EXACTLY a weighted
    * sample without replacement with inclusion proportional to the
    * weights. One pass, no per-group state: the top-k is a
    * TakeOrdered (per-partition heaps of k, then a k-row merge on the
    * driver side of the final stage — no global sort shuffle), so the
    * operator is a single scan at any corpus size. detHash (not
    * rand()) keeps the draw partitioning-independent — the same rows
    * are selected on 1 executor or 1000.
    *
    * `weight` must be strictly positive. Ties (same u and w) break by
    * the id columns descending, so the result is total-order
    * deterministic.
    */
  def prioritySample(df: DataFrame, k: Int, weight: Column,
                     idCols: Column*): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(idCols.nonEmpty, "prioritySample needs >= 1 id column")
    val u = (detHash(DetHashPrime, idCols: _*) + lit(1L)).cast("double") /
      lit(DetHashPrime.toDouble + 1.0)
    df.withColumn("__pk", log(u) / weight)
      .orderBy((col("__pk").desc +: idCols.map(_.desc)): _*)
      .limit(k)
      .drop("__pk")
  }

  /** Backward as-of join: attach to every left row the right row with
    * the LARGEST rightTime <= leftTime for the same key — the
    * point-in-time lookup behind feature stores ("the feature value as
    * of this training example"), trade enrichment ("the quote in
    * effect at this trade"), and last-touch attribution.
    *
    * Spark has no ASOF JOIN operator, and the naive encodings both
    * break at scale: an equi-join + "max time per left row" re-group
    * materializes every same-key (left × right) pair first (per-key
    * quadratic, the range-join trap), and a windowed subquery per left
    * row is the same thing in disguise. This implementation is the
    * union-timeline form — the shape that survives 100×:
    *
    *   1. Tag both sides and union them into ONE timeline
    *      (left's columns ride in a struct; right contributes
    *      `rightVals` + its timestamp).
    *   2. ONE hash shuffle on the key, ONE per-partition sort on
    *      (time, side) — right sorts before left at equal timestamps,
    *      which is exactly the <= (not <) match semantic.
    *   3. `last(<right val>, ignoreNulls) over rowsBetween(-inf, 0)`
    *      — a running "most recent right row seen" carried down each
    *      key's timeline in one pass. Spark evaluates all N value
    *      columns in a single Window operator over a single sort.
    *
    * Cost: shuffle |L| + |R| once on the key; no pair blow-up at any
    * skew (a hot key costs one external per-partition sort, which
    * spills — it cannot OOM an aggregation buffer). Compare
    * [[rangeJoinBinned]], which bounds reducer load per time-bucket
    * but only answers bounded-window ALL-matches queries; as-of wants
    * the single latest match over unbounded history, so the timeline
    * scan is the right tool.
    *
    * Semantics and contract:
    *   - Time columns must be integral (cast timestamps with
    *     unix_micros first): tolerance subtraction on doubles would
    *     be edge-rounded, and int64 microseconds are exact.
    *   - `toleranceUs`: matches older than leftTime − toleranceUs are
    *     nulled out (left-outer) — the feature-staleness bound.
    *   - Left-outer by default (unmatched left rows keep null right
    *     values); `inner = true` drops them.
    *   - The matched right timestamp is returned as `matchedTimeCol`
    *     (staleness = leftTime − matchedTimeCol).
    *   - Right rows should be unique per (key, time) — pre-aggregate
    *     otherwise; with duplicates the per-partition sort makes the
    *     surviving match nondeterministic (Spark's sort is not stable
    *     across retries/partitionings).
    *   - `rightVals` names must not collide with left column names.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTimeUs: String, rightTimeUs: String,
               rightVals: Seq[String],
               toleranceUs: Option[Long] = None,
               inner: Boolean = false,
               matchedTimeCol: String = "asof_time_us"): DataFrame = {
    require(rightVals.nonEmpty, "rightVals must name >= 1 right column")
    val clash = rightVals.toSet ++ Set(matchedTimeCol) intersect left.columns.toSet
    require(clash.isEmpty, s"right-value names collide with left columns: $clash")
    toleranceUs.foreach(t => require(t > 0, s"toleranceUs must be positive: $t"))

    val leftCols = left.columns.toSeq
    val lStruct = left.select(struct(leftCols.map(col): _*).as("__l"))
      .schema.head.dataType
    val rTypes = rightVals.map(v => v -> right.schema(v).dataType)

    val l2 = left.select(
      (col(leftKey).as("__k") +: col(leftTimeUs).cast("long").as("__t") +:
        lit(1).as("__side") +: struct(leftCols.map(col): _*).as("__l") +:
        rTypes.map { case (v, t) => lit(null).cast(t).as(s"__rv_$v") }): _*)
    val r2 = right.select(
      (col(rightKey).as("__k") +: col(rightTimeUs).cast("long").as("__t") +:
        lit(0).as("__side") +: lit(null).cast(lStruct).as("__l") +:
        rightVals.map(v => col(v).as(s"__rv_$v"))): _*)

    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry the matched right row as ONE struct — carrying each value
    // column through its own last(ignoreNulls) would resurrect an
    // OLDER row's value wherever the latest right row holds a null
    val rRow = when(col("__side") === 0,
      struct(col("__t").as("__mt") +:
        rightVals.map(v => col(s"__rv_$v").as(v)): _*))
    val m = last(rRow, ignoreNulls = true).over(w)
    // in-tolerance ⟺ a right row exists and is fresh enough; with no
    // tolerance any preceding right row matches
    val fresh = toleranceUs match {
      case Some(t) => m.isNotNull && (col("__t") - m("__mt")) <= t
      case None    => m.isNotNull
    }
    val enriched = l2.unionByName(r2)
      .withColumn("__m", when(fresh, m))
      .where(col("__side") === 1)
    val filtered = if (inner) enriched.where(col("__m").isNotNull) else enriched
    filtered.select(
      (leftCols.map(n => col(s"__l.$n").as(n)) :+
        col("__m.__mt").as(matchedTimeCol)) ++
        rightVals.map(v => col(s"__m.$v").as(v)): _*)
  }

  /** [[asofJoin]] through the native sort-merge physical operator
    * ([[graft.plans.AsofJoinExec]]) instead of the union-timeline
    * window — same signature, same output schema, same semantics for
    * non-null keys (the native exec additionally never matches null
    * keys, per SQL equi-join semantics; the union form groups them).
    *
    * Each side shuffles at its OWN width (the union form pads every
    * row to the combined width), sorts separately, and merges in one
    * O(1)-state forward pass — see the AsofJoinPlan scaladoc for the
    * full cost comparison and when EnsureRequirements elides the
    * exchange/sort (bucketed, time-sorted feature tables).
    *
    * `broadcastRight`: Some(true) pins the broadcast physical form
    * (right timeline collected + broadcast, left enriched in place
    * with NO shuffle and NO sort — the dimension-timeline shape);
    * Some(false) pins sort-merge; None (default) selects by the right
    * side's estimated size vs `autoBroadcastJoinThreshold`, like
    * Spark's own equi-join planning.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame,
                     leftKey: String, rightKey: String,
                     leftTimeUs: String, rightTimeUs: String,
                     rightVals: Seq[String],
                     toleranceUs: Option[Long] = None,
                     inner: Boolean = false,
                     matchedTimeCol: String = "asof_time_us",
                     broadcastRight: Option[Boolean] = None): DataFrame = {
    require(rightVals.nonEmpty, "rightVals must name >= 1 right column")
    val clash = rightVals.toSet ++ Set(matchedTimeCol) intersect left.columns.toSet
    require(clash.isEmpty, s"right-value names collide with left columns: $clash")

    val spark = left.sparkSession
    // the strategy is normally injected by GraftExtensions
    // (spark.sql.extensions); sessions built without it get the
    // experimental-methods fallback, registered idempotently
    if (!spark.sessionState.planner.strategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.extraStrategies =
        graft.plans.AsofJoinStrategy +: spark.experimental.extraStrategies

    val leftCols = left.columns.toSeq
    // each side projected to its merge shape with FRESH aliases on the
    // right (fresh exprIds — both sides may derive from one scan) and
    // int64-µs time on both (exact tolerance arithmetic; see asofJoin)
    val lp = left.select(leftCols.map(col) :+
      col(leftTimeUs).cast("long").as("__lt"): _*)
    val rp = right.select(col(rightKey).as("__rk") +:
      col(rightTimeUs).cast("long").as("__rt") +:
      rightVals.map(v => col(v).as(s"__rv_$v")): _*)

    val lPlan = lp.queryExecution.analyzed
    val rPlan = rp.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    val plan = graft.plans.AsofJoinPlan(
      lPlan, rPlan,
      leftKeys = Seq(attr(lPlan, leftKey)), rightKeys = Seq(attr(rPlan, "__rk")),
      leftTime = attr(lPlan, "__lt"), rightTime = attr(rPlan, "__rt"),
      toleranceUs = toleranceUs, inner = inner, broadcastRight = broadcastRight)
    org.apache.spark.sql.GraftPlanBridge.ofRows(spark, plan)
      .select((leftCols.map(col) :+ col("__rt").as(matchedTimeCol)) ++
        rightVals.map(v => col(s"__rv_$v").as(v)): _*)
  }

  /** Deterministic Poisson-bootstrap replicate means of a DECIMAL(18,6)
    * metric per group: for each replicate r < `reps`, every row gets
    * an integer Poisson(1) weight — the count of `cdfThresholds`
    * (floor(CDF·m) integers) at or below detHash(idCol, r) ∈ [0, m) —
    * and the replicate mean is the exact weighted decimal sum over the
    * weighted count. Output: (gCol, r, m(double, round-6)).
    *
    * Scale shape: the reps× explode is partial-aggregated MAP-SIDE
    * (groups × reps partial rows per task reach the exchange, never
    * reps× raw rows — plan-asserted in the registered query), so the
    * bootstrap costs ~one pass of weight arithmetic over the corpus
    * regardless of reps. The CI itself is an order statistic over the
    * ≤reps replicate means per group — driver-free, bounded.
    */
  def bootstrapMeans(df: DataFrame, gCol: String, valueCol: String,
                     idCol: String, reps: Long, m: Long,
                     cdfThresholds: Seq[Long]): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val base = df.select(col(gCol), col(idCol).as("__id"),
      col(valueCol).as("__v"))
    // EXPLODE form, deliberately: the reps× exploded rows partial-
    // aggregate map-side ((groups × reps) partial rows per task reach
    // the exchange), and a (g, r)-keyed hashmap with TWO accumulators
    // stays in fast HashAggregate code. The tempting "one probe per
    // input row" column form (2·reps decimal accumulators per group +
    // per-replicate weight expressions in a projection) measured 4–5×
    // SLOWER in an interleaved same-JVM A/B at 50M×16 (explode 12.1 s
    // warm vs column 53–60 s — SCALING.md, r9): wide decimal
    // aggregation buffers evict the fast-path and the when-chains
    // don't CSE. Negative result kept here so nobody re-does it.
    val exploded = base
      .select(col(gCol), col("__id"), col("__v"),
        explode(sequence(lit(0L), lit(reps - 1L))).as("r"))
      .withColumn("__h", detHash(m, col("__id"), col("r")))
      .withColumn("__w", cdfThresholds
        .map(t => when(col("__h") >= t, 1L).otherwise(0L))
        .reduce(_ + _))
    exploded.groupBy(col(gCol), col("r"))
      .agg(sum(col("__w") * col("__v")).as("__sw"),
        sum(col("__w")).as("__nw"))
      .where(col("__nw") > 0)
      .select(col(gCol), col("r"),
        round((col("__sw").cast("double") / col("__nw").cast("double"))
          .cast(dec8), 6).cast("double").as("m"))
  }

  /** Neyman-allocation stratified sample: split a fixed labeling /
    * human-eval `budget` across strata proportionally to N_h·σ_h (the
    * allocation that minimizes the stratified mean's variance — more
    * budget where the metric is both plentiful AND noisy), then draw
    * each stratum's quota deterministically by hash rank. The
    * curation use: "we can afford `budget` human labels; which docs?"
    *
    * Mechanics, all engine-exact:
    *   - σ_h from per-stratum DECIMAL(38,10) moment sums (population
    *     σ, fixed IEEE shape over the exact sums).
    *   - Integerization by LARGEST REMAINDER over the ideal real
    *     allocations (floor everything, hand the leftover to the
    *     biggest fractional parts; ties break on the stratum key) —
    *     quotas sum exactly to `budget` before the N_h cap.
    *   - Quotas cap at N_h with NO redistribution (single-pass; the
    *     iterative re-allocation variant exists in the literature but
    *     trades determinism-auditability for a marginal variance win).
    *   - The draw is the top-quota docs by (md5Long(id), id) — the
    *     deterministic-sampling primitive every other sampler here
    *     uses, so two engines and two runs pick the SAME docs.
    *
    * Scale shape: one corpus moments aggregate (map-side combined),
    * allocation algebra on the ≤|strata|-row frame (broadcast back),
    * one per-stratum rank window for the draw. The collect_list in
    * the report is bounded by the stratum quota ≤ budget. Returns
    * (stratum, n_rows, sigma, alloc, n_sampled, id_sum, ids_md5).
    */
  def neymanStratifiedSample(df: DataFrame, stratumCol: String,
                             valueCol: String, idCol: String,
                             budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val clean = df.select(col(stratumCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        col(idCol).cast("long").as("__id"))
      .where(col("__v").isNotNull && !isnan(col("__v")))
    // tiny (≤|strata| rows); checkpoint so the corpus aggregate runs
    // once, not once per downstream consumer
    val mom = clean.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__v").cast(dec)).as("__s"),
        sum((col("__v") * col("__v")).cast(dec)).as("__s2"))
      .stageCheckpoint(true)
    val nD = col("__n").cast("double")
    val mean = col("__s").cast("double") / nD
    val sigma = sqrt(greatest(lit(0.0),
      col("__s2").cast("double") / nD - mean * mean))
    val weighted = mom.withColumn("__sig", sigma)
      .withColumn("__nw", nD * col("__sig"))
    // the allocation total is summed through DECIMAL(38,10) like the
    // moments: decimal addition is exact, so the total (and every
    // share/ideal/rem derived from it) is independent of partition
    // count and engine aggregation order — a plain double sum could
    // flip a floor() or largest-remainder boundary on a near-tie
    val tot = weighted.agg(
      sum(col("__nw").cast(dec)).cast("double").as("__tot"),
      sum(col("__n")).as("__nsum")) // not "__N": Spark resolves case-insensitively
    val alloc0 = weighted.crossJoin(broadcast(tot))
      // all-constant strata (σ ≡ 0 everywhere) degrade to
      // proportional allocation rather than 0/0
      .withColumn("__share", when(col("__tot") > 0.0,
          col("__nw") / col("__tot"))
        .otherwise(nD / col("__nsum").cast("double")))
      .withColumn("__ideal", lit(budget.toDouble) * col("__share"))
      .withColumn("__base", floor(col("__ideal")).cast("long"))
      .withColumn("__rem", col("__ideal") - col("__base").cast("double"))
      .stageCheckpoint(true) // read twice: leftover total + the rank
    val wR = Window.orderBy(desc("__rem"), col("__g"))
    val quotas = alloc0
      .crossJoin(broadcast(alloc0.agg(sum(col("__base")).as("__sb"))))
      .withColumn("__extra",
        when(row_number().over(wR) <= (lit(budget) - col("__sb")), 1L)
          .otherwise(0L))
      .withColumn("__alloc", least(col("__base") + col("__extra"), col("__n")))
      .select(col("__g"), col("__n"), col("__sig"), col("__alloc"))
    val wS = Window.partitionBy(col("__g"))
      .orderBy(graft.functions.GraftFunctions
        .md5Long(col("__id").cast("string")), col("__id"))
    val report = clean
      .join(broadcast(quotas.select(col("__g"), col("__alloc"))), "__g")
      .withColumn("__rk", row_number().over(wS))
      .where(col("__rk") <= col("__alloc"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("__id")).as("id_sum"),
        md5(concat_ws(",",
          sort_array(collect_list(col("__id"))).cast("array<string>")))
          .as("ids_md5"))
    quotas.join(report, Seq("__g"), "left")
      .select(col("__g").as(stratumCol), col("__n").as("n_rows"),
        round(col("__sig").cast(dec8), 6).cast("double").as("sigma"),
        col("__alloc").as("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"),
        col("ids_md5"))
      .orderBy(col(stratumCol))
  }
}
