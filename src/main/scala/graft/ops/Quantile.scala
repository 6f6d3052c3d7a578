package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Stage.StagedFrame

/** Exact distributed quantiles by iterative histogram bracketing.
  *
  * Spark's exact `percentile` aggregate buffers every value of a group
  * in one aggregation buffer (an OpenHashMap per group) — at 100 TB
  * that is an executor OOM, which is why its docs push
  * `approx_percentile`. But monitoring contracts ("p99 latency,
  * exactly") and oracle-checkable pipelines want the EXACT order
  * statistic without a single-node sort. This is the classic
  * multi-round bracketing algorithm (the distributed form of
  * Munro–Paterson selection):
  *
  *   round 0: one aggregate pass → (count, min, max).
  *   round i: histogram the current bracket [lo, hi] into `buckets`
  *            equal-width bins — ONE map-side-combined aggregate whose
  *            state is O(buckets); collect the ≤`buckets`-row result
  *            to the driver, walk the cumulative counts to find the
  *            bin holding the k-th value, and recurse into that bin's
  *            OBSERVED [min, max] (observed bounds, not bin edges, so
  *            progress is guaranteed even when every row lands in one
  *            bin).
  *   finish:  when the bracket holds ≤ `directLimit` rows, the k-th
  *            smallest inside it is `orderBy.limit(k').max` — a
  *            TakeOrdered over a range-filtered scan, never a global
  *            sort.
  *
  * Scale shape: every round is a full-scan *aggregate* (no shuffle of
  * rows — only `buckets` partial states per partition move), the
  * range filter `__v BETWEEN lo AND hi` is pushed to the parquet scan,
  * and the driver only ever sees `buckets` rows per round. Rounds are
  * logarithmic: each shrinks the candidate set by ~`buckets`×
  * (4096² = 16M × directLimit 4M covers ~10¹³ rows in two rounds).
  * The driver-side loop is bounded metadata traffic, the same pattern
  * as [[Similarity.kmeansFit]]'s centroid collect.
  *
  * Values must be castable to double; NULL and NaN are excluded
  * (quantiles over partial data are otherwise silently wrong —
  * callers coalesce explicitly if they mean to rank missing values).
  */
object Quantile {

  /** n and the exact q-th values (k = max(1, ceil(q·n)) — the
    * "lower" discrete quantile convention, mirrored by the oracle's
    * row_number comparison) for each q in `qs`. One count pass, then
    * one bracketing selection per distinct rank.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     buckets: Int = 4096, directLimit: Long = 1L << 22)
      : (Long, Seq[Double]) = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $qs")
    val clean = cleaned(df, valueCol)
    val n = clean.count()
    require(n > 0, "exactQuantiles over an empty (or all-null/NaN) column")
    val byRank = qs.map(q => math.max(1L, math.ceil(q * n).toLong))
      .distinct.map(k => k -> kthOf(clean, n, k, buckets, directLimit)).toMap
    (n, qs.map(q => byRank(math.max(1L, math.ceil(q * n).toLong))))
  }

  /** Per-group exact lower-quantiles in ONE job — no driver loop.
    *
    * The bracketing loop above is the right shape for ONE global
    * quantile over an unbounded column; per-group quantiles would
    * multiply its driver rounds by |groups|. Instead: compress to
    * (group, value, count) — for real columns (prices, latencies,
    * scores) duplication makes this orders of magnitude smaller than
    * the raw rows and it is ONE map-side-combined aggregate — then a
    * per-group cumulative-count window over the compressed frame
    * selects value where cumsum first reaches k = max(1, ceil(q·n)),
    * the same lower-quantile convention as [[exactQuantiles]].
    *
    * Scale shape: one shuffle keyed on (group, value) for the
    * compression, one window shuffle keyed on group; the window
    * streams over DISTINCT values per group, never raw rows. Skew
    * bound: a group with d distinct values costs O(d) window state —
    * safe wherever d ≪ rows (the duplicate-heavy regime this targets);
    * for near-unique continuous columns at extreme scale, fall back to
    * per-group invocations of the bracketing path. NULL/NaN/±Inf are
    * excluded, matching [[cleaned]]'s finite-only convention.
    *
    * Output: (groupCol, n, <one column per (name, q)>), one row per
    * group.
    */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[(String, Double)]): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0 && q <= 1 },
      s"quantiles must be in (0, 1]: $qs")
    import org.apache.spark.sql.expressions.Window
    val clean = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") > Double.NegativeInfinity &&
        col("__v") < Double.PositiveInfinity)
    val counts = clean.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with an unbounded frame:
    // Spark collapses window expressions sharing partitionBy+orderBy
    // into ONE WindowExec, so the running and total sums ride one
    // sort run — the DuckDB fusion (VERDICT r9 #4); a bare
    // partitionBy spec planned a SECOND window pass over the frame
    val wAll = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
    val picks = qs.map { case (name, q) =>
      // k = max(1, ceil(q*n)); q·n is exact-enough double (n < 2^53)
      // and both engines ceil identically
      min(when(col("__cum") >= greatest(lit(1L),
        ceil(lit(q) * col("__n")).cast("long")), col("__v"))).as(name)
    }
    cum.groupBy(col("__g").as(groupCol))
      .agg(max(col("__n")).as("n"), picks: _*)
      // lazy local checkpoint (r13): the final sort's range-sampling
      // pass re-evaluates the post-exchange window + aggregate chain
      // (the per-group sort is the function's dominant stage); the
      // report is <= |groups| rows, so caching it is free at any scale
      .stageCheckpoint(false)
      .orderBy(col(groupCol))
  }

  /** Exact WEIGHTED quantile per group: the smallest value v whose
    * cumulative weight (ordered by value) reaches q·W_group — e.g.
    * the token-weighted median document length, or the revenue-
    * weighted price point. Degenerates to [[groupQuantiles]]'s lower
    * quantile when every weight is 1.
    *
    * Scale shape: identical to [[groupQuantiles]] — one (group,
    * value) pre-aggregate collapses duplicate values (the shuffled
    * frame is bounded by distinct values, not rows), then one
    * window exchange per group serves both the cumulative and total
    * weight. Weights are summed as DECIMAL(28,8): double summation
    * is partitioning-order-dependent, and a weighted quantile whose
    * pick flips with the partition count is not oracle-checkable —
    * decimal makes the threshold compare exact on any cluster
    * layout and any engine.
    */
  def groupWeightedQuantile(df: DataFrame, groupCol: String,
                            valueCol: String, weightCol: String,
                            q: Double): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0, 1]: $q")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 8)
    val clean = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"),
        col(weightCol).cast(dec).as("__w"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") > Double.NegativeInfinity &&
        col("__v") < Double.PositiveInfinity &&
        col("__w").isNotNull && col("__w") > 0)
    val agg = clean.groupBy(col("__g"), col("__v"))
      .agg(sum(col("__w")).as("__gw"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with an unbounded frame:
    // Spark collapses window expressions sharing partitionBy+orderBy
    // into ONE WindowExec, so the running and total sums ride one
    // sort run — the DuckDB fusion (VERDICT r9 #4); a bare
    // partitionBy spec planned a SECOND window pass over the frame
    val wAll = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("__cw", sum(col("__gw")).over(wCum))
      .withColumn("__tw", sum(col("__gw")).over(wAll))
      .where(col("__cw") >= lit(q).cast(dec) * col("__tw"))
      .groupBy(col("__g").as(groupCol))
      .agg(min(col("__v")).as("w_quantile"),
        max(col("__tw").cast("double")).as("total_weight"))
      // lazy local checkpoint (r13): the final sort's range-sampling
      // pass re-evaluates the post-exchange window + aggregate chain
      // (the per-group sort is the function's dominant stage); the
      // report is <= |groups| rows, so caching it is free at any scale
      .stageCheckpoint(false)
      .orderBy(col(groupCol))
  }

  /** Winsorized (clipped-at-quantiles) moments per group — the
    * robust mean/std used when a handful of fat-tail outliers would
    * otherwise own the statistic (pricing summaries, latency SLO
    * dashboards, quality-score normalization). Values are clipped to
    * the group's exact [qLo, qHi] lower-quantiles, then n, clip
    * count, bounds, mean and std are reported.
    *
    * Scale shape: two passes — the [[groupQuantiles]]-style
    * (group, value) compression + cumulative window finds the clip
    * bounds, then one join + aggregate computes the moments; both
    * shuffles are keyed on the group. Σv and Σv² accumulate as
    * DECIMAL(38,10): double sums are partition-order-dependent, and
    * the whole point of a winsorized report is a number two runs (or
    * two engines) agree on. The final mean/std are fixed-shape IEEE
    * expressions over those exact sums, decimal-rounded to 6.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
                      qLo: Double, qHi: Double): DataFrame = {
    require(qLo > 0 && qLo < qHi && qHi <= 1, s"bad bounds: $qLo, $qHi")
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val out6 = org.apache.spark.sql.types.DecimalType(18, 8)
    val clean = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") > Double.NegativeInfinity &&
        col("__v") < Double.PositiveInfinity)
    val counts = clean.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same (partition, order) spec as wCum with an unbounded frame:
    // Spark collapses window expressions sharing partitionBy+orderBy
    // into ONE WindowExec, so the running and total sums ride one
    // sort run — the DuckDB fusion (VERDICT r9 #4); a bare
    // partitionBy spec planned a SECOND window pass over the frame
    val wAll = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // lazy local checkpoint (r13): `cum` feeds BOTH the bounds
    // aggregate and the moments join — two consumers re-ran the
    // per-group window sort (profiled: two identical window stages at
    // sf0.1); the frame is distinct-value-sized, the same bound as
    // the window's own sort buffer
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .stageCheckpoint(false)
    def pick(q: Double) = min(when(col("__cum") >= greatest(lit(1L),
      ceil(lit(q) * col("__n")).cast("long")), col("__v")))
    val bounds = cum.groupBy(col("__g"))
      .agg(pick(qLo).as("__lo"), pick(qHi).as("__hi"))
    val clipped = least(greatest(col("__v"), col("__lo")), col("__hi"))
    def r6(c: org.apache.spark.sql.Column) =
      round(c.cast(out6), 6).cast("double")
    val nD = col("n").cast("double")
    val mean = col("__s").cast("double") / nD
    val varExpr = col("__s2").cast("double") / nD - mean * mean
    // One exchange chain for the whole report: `cum` already carries
    // the per-(group, value) multiplicity __c and is hash-partitioned
    // on __g by its window, so the moments aggregate runs on the
    // distinct-value frame weighted by __c. Re-joining `clean`
    // (the full row set) shuffled the data a second time for sums
    // that are exactly Σ value·count — decimal × BIGINT multiply is
    // exact, so the result is hash-identical to the per-row form.
    cum.join(bounds, "__g")
      .groupBy(col("__g").as(groupCol))
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__v") < col("__lo") || col("__v") > col("__hi"),
          col("__c")).otherwise(lit(0L))).as("n_clipped"),
        min(col("__lo")).as("lo"), min(col("__hi")).as("hi"),
        sum(clipped.cast(dec) * col("__c")).as("__s"),
        sum((clipped * clipped).cast(dec) * col("__c")).as("__s2"))
      .select(col(groupCol), col("n"), col("n_clipped"),
        col("lo"), col("hi"), r6(mean).as("w_mean"),
        r6(sqrt(greatest(lit(0.0d), varExpr))).as("w_std"))
      // lazy local checkpoint (r13): the final sort's range-sampling
      // pass re-evaluates the post-exchange window + aggregate chain
      // (the per-group sort is the function's dominant stage); the
      // report is <= |groups| rows, so caching it is free at any scale
      .stageCheckpoint(false)
      .orderBy(col(groupCol))
  }

  /** Robust per-group outlier report: exact (lower) median, median
    * absolute deviation, and the count of rows whose |v − median|
    * exceeds `k` · MAD — the modified-z-score anomaly screen
    * (Iglewicz–Hoaglin), the mean/σ z-score's skew-immune sibling: a
    * single 10⁶× sensor glitch shifts a mean-based threshold past
    * every real anomaly, while the median/MAD pair doesn't move.
    * `k` is the FOLDED cutoff (cutoff · 1.4826 pre-multiplied by the
    * caller into one literal so both engines fold the same constant;
    * 3.5 · 1.4826 ≈ 5.1891 is the published default).
    *
    * MAD = 0 (over half the group at one value) makes the modified z
    * undefined — the report returns 0 outliers for such groups
    * rather than dividing by zero, pinned on both sides by the
    * `mad > 0` gate.
    *
    * Scale shape: ONE (group, value) count aggregate feeds the whole
    * report — the median's cumulative window, the deviation
    * re-aggregate ((group, |v−med|) is at most the distinct-value
    * frame again), the MAD window, and the outlier count all run
    * over distinct-value-sized frames, never re-scanning rows. Both
    * medians and the threshold compare are exact data values /
    * fixed-shape IEEE products, so the report is engine- and
    * partitioning-independent with no rounding convention needed.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Double): DataFrame = {
    require(k > 0, s"k must be > 0: $k")
    import org.apache.spark.sql.expressions.Window
    val clean = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") > Double.NegativeInfinity &&
        col("__v") < Double.PositiveInfinity)
    // localCheckpoint: the median window, the deviation re-aggregate,
    // and the outlier count all read this distinct-value frame —
    // without it each consumer re-runs the raw scan + (group, value)
    // shuffle. Blocks are executor-local and distinct-value-sized.
    val counts = clean.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .stageCheckpoint(true)
    def medianOf(frame: DataFrame, vCol: String, out: String) = {
      val wCum = Window.partitionBy(col("__g")).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // one-sort-run fusion, same as groupQuantiles (VERDICT r9 #4)
      val wAll = Window.partitionBy(col("__g")).orderBy(col(vCol))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      frame
        .withColumn("__cum", sum(col("__c")).over(wCum))
        .withColumn("__n", sum(col("__c")).over(wAll))
        .groupBy(col("__g"))
        .agg(max(col("__n")).as(s"${out}_n"),
          min(when(col("__cum") >= greatest(lit(1L),
            ceil(lit(0.5) * col("__n")).cast("long")), col(vCol)))
            .as(out))
    }
    // med/mad checkpoint eagerly (r13): med has THREE consumers and
    // mad two, each of which re-ran the respective median window from
    // the counts checkpoint (exchange reuse covers the exchange, not
    // the post-exchange window); both frames are <= |groups| rows
    val med = medianOf(counts, "__v", "med").stageCheckpoint(true)
    val devCounts = counts.join(med, "__g")
      .groupBy(col("__g"), abs(col("__v") - col("med")).as("__d"))
      .agg(sum(col("__c")).as("__c"))
    val mad = medianOf(devCounts, "__d", "mad").stageCheckpoint(true)
    val outliers = counts.join(med, "__g").join(mad, "__g")
      .groupBy(col("__g"))
      .agg(sum(when(col("mad") > 0 &&
          abs(col("__v") - col("med")) > lit(k) * col("mad"),
        col("__c")).otherwise(lit(0L))).as("n_outliers"))
    med.join(mad, "__g").join(outliers, "__g")
      .select(col("__g").as(groupCol), col("med_n").as("n"),
        col("med"), col("mad"), col("n_outliers"))
      // lazy local checkpoint (r13): the final sort's range-sampling
      // pass re-evaluates the post-exchange window + aggregate chain
      // (the per-group sort is the function's dominant stage); the
      // report is <= |groups| rows, so caching it is free at any scale
      .stageCheckpoint(false)
      .orderBy(col(groupCol))
  }

  /** Exact k-th smallest (1-based) of `valueCol`. */
  def kthSmallest(df: DataFrame, valueCol: String, k: Long,
                  buckets: Int = 4096, directLimit: Long = 1L << 22): Double = {
    val clean = cleaned(df, valueCol)
    val n = clean.count()
    require(k >= 1 && k <= n, s"rank $k out of range [1, $n]")
    kthOf(clean, n, k, buckets, directLimit)
  }

  // NULL, NaN AND ±Infinity are all excluded: an infinite bracket
  // endpoint makes (v−lo)/span NaN for every row, which floor-casts
  // to null and pins the whole population in bin 0 — the bracket
  // never narrows, the loop spins to the 64-round backstop, and the
  // "direct" path then TakeOrders nearly the full column. Callers
  // that mean to rank infinities must clamp them to finite sentinels
  // first (the oracle mirrors the finite-only convention).
  private def cleaned(df: DataFrame, valueCol: String): DataFrame =
    df.select(col(valueCol).cast("double").as("__v"))
      .where(col("__v").isNotNull && !isnan(col("__v")) &&
        col("__v") > Double.NegativeInfinity &&
        col("__v") < Double.PositiveInfinity)

  private def kthOf(clean: DataFrame, n: Long, k: Long,
                    buckets: Int, directLimit: Long): Double = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    require(directLimit >= 1 && directLimit <= Int.MaxValue,
      s"directLimit out of (0, Int.MaxValue]: $directLimit")
    val firstRow = clean.agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"))
      .head()
    var lo = firstRow.getDouble(0)
    var hi = firstRow.getDouble(1)
    var kRem = k
    var inBracket = n
    // 64 rounds is unreachable for finite doubles (each round divides
    // the bracket's width or population); it backstops degenerate
    // floating-point brackets by falling through to the direct path.
    var round = 0
    while (lo < hi && inBracket > directLimit && round < 64) {
      val width = col("__v") - lit(lo)
      val span = hi - lo
      val bucket = least(lit(buckets - 1),
        greatest(lit(0L), floor(width / lit(span) * lit(buckets)).cast("long")))
      val hist = clean.where(col("__v") >= lo && col("__v") <= hi)
        .groupBy(bucket.as("__b"))
        .agg(count(lit(1)).as("__c"), min(col("__v")).as("__lo"),
          max(col("__v")).as("__hi"))
        .orderBy(col("__b"))
        .collect()
      var cum = 0L
      var i = 0
      while (cum + hist(i).getLong(1) < kRem) {
        cum += hist(i).getLong(1); i += 1
      }
      kRem -= cum
      lo = hist(i).getDouble(2)
      hi = hist(i).getDouble(3)
      inBracket = hist(i).getLong(1)
      round += 1
    }
    if (lo == hi) lo
    else {
      require(kRem <= Int.MaxValue,
        s"bracketing stalled with $kRem-th of $inBracket rows unresolved " +
          "— raise buckets/directLimit")
      clean.where(col("__v") >= lo && col("__v") <= hi)
      .orderBy(col("__v")).limit(kRem.toInt)
        .agg(max(col("__v"))).head().getDouble(0)
    }
  }
}
