package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see /root/repo/TESTDATA.md). Every query entry point receives the
  * scale-factor directory and loads only the tables it needs, so
  * Catalyst's column pruning + filter pushdown reach the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has stored `ts` as TIMESTAMP(NANOS) in some data
    // generations (which Spark's reader rejects — read nanos as long
    // and floor to micros in integer arithmetic; a double round-trip
    // would lose precision because ns epochs exceed 2^53) and as plain
    // TIMESTAMP(MICROS) in others (arrives as TIMESTAMP_NTZ). Branch on
    // the arrived type so either generation loads; the session timezone
    // is UTC everywhere (LocalSession), so the NTZ→timestamp cast
    // preserves the instant and both shapes agree with DuckDB's naive
    // micros reading.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→timestamp cast below preserves the instant ONLY under a
    // UTC session timezone. LocalSession pins it, but load() is the
    // contract boundary — enforce here so a future non-UTC caller
    // fails loudly instead of silently shifting every event timestamp
    // relative to the DuckDB oracle's naive-micros reading.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables.load requires spark.sql.session.timeZone=UTC " +
        "(events NTZ timestamps are instant-preserving only under UTC)")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }
}
