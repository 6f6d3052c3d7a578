package graft

import org.apache.spark.sql.SparkSession

/** One local-session builder for every entry point (Verify, Bench,
  * Inspect) so the tuning knobs cannot drift between the tools whose
  * numbers SCALING.md compares:
  *  - SPARK_GRAFT_CPUS threads (callers pass their default);
  *  - shuffle partitions sized to the thread count;
  *  - small-SF scan splitting (default openCost keeps a sub-MB
  *    parquet on ONE core through a whole expression pipeline);
  *  - UTC session timezone (timestamp oracles);
  *  - UI off.
  * It also holds what those tools share: the JVM warm-up, the JSON
  * string escape and the failed-query exit.
  */
object LocalSession {
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    // shuffle partitions default to the thread count (right for the
    // gate SFs), overridable for scaled-shape probes: at the ×300
    // graph shape 32 partitions put ~8M-row aggregation hash tables
    // in every task and the suite goes spill-bound — the same
    // data-to-partition sizing a real cluster does with
    // spark.sql.shuffle.partitions at 100 TB (SCALING.md round-11)
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    SparkSession.builder()
      .master(s"local[$cpus]")
      // the full extension surface (native SQL functions, opt-in
      // optimizer rules, the as-of planner strategy) is part of what
      // Verify/Bench exercise — same wiring as SparkSpec's session
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** JVM warm-up: a tiny query touching higher-order functions and a
    * shuffle, so the first timed query doesn't absorb the one-time
    * Janino/lambda codegen cost (~5-15 s, measured) that every
    * executor JVM pays exactly once.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000)
      .select(aggregate(transform(sequence(lit(0), lit(3)), i => i * 2),
        lit(0L), (a, b) => a + b).as("v"))
      .groupBy(col("v")).count()
      .write.format("noop").mode("overwrite").save()
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** After a tool has written its records: names the queries that threw
    * on stderr and exits 1, so a harness failure is never silent.
    */
  def exitIfFailed(tool: String, failed: Iterable[String]): Unit = if (failed.nonEmpty) {
    System.err.println(s"[$tool] ${failed.size} queries failed: ${failed.mkString(", ")}")
    sys.exit(1)
  }
}
