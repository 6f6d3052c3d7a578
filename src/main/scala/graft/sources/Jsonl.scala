package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** JSONL sources and sinks (reference S1-S4, S7:
  * jsonl_load/io_jsonl_write, src/python/instructionspipe/utils.py:
  * 30-41 and apps/etl/etl_split_data_by_key.py:78-85).
  *
  * Spark's json reader/writer is already newline-delimited and
  * blank-line tolerant, so these are thin, opinionated wrappers: the
  * value is the contract (schema inference parity with the
  * reference's duckdb read_json auto-detect, append/overwrite modes,
  * split-partitioned output, and the ChatML audit sidecar layout).
  */
object Jsonl {

  /** S1/S2 — JSONL scan with schema inference (blank lines skipped by
    * the reader; mirrors jsonl_load's line filter).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S1 with explicit schema — at 100 TB never infer on the hot path:
    * inference is a full extra pass over the data.
    */
  def read(spark: SparkSession, path: String,
           schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S3 — JSONL sink; append or overwrite like io_jsonl_write's
    * "a"/"w" modes. Spark writes ensure_ascii=False equivalent
    * (UTF-8) natively.
    */
  def write(df: DataFrame, path: String, append: Boolean = false): Unit =
    df.write.mode(if (append) SaveMode.Append else SaveMode.Overwrite).json(path)

  /** S4 — split sink: one directory per dataset split
    * (`split=train/val/test` partitions instead of three hand-managed
    * files; readers prune partitions by split value).
    */
  def writeSplits(df: DataFrame, dir: String, splitCol: String = "split"): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(splitCol).json(dir)

  /** S7 — ChatML audit sink: traces JSONL plus a `.meta` sidecar
    * directory holding one row per session (session_id, stage, name),
    * mirroring inf.py:81-85's results/chatmls/meta triple.
    *
    * `traces` is evaluated once: the sidecar is read back from the
    * written chatmls with the three columns' schema, because a trace
    * frame calls the model inside an opaque mapPartitions and a second
    * evaluation would call it again for every row.
    */
  def writeTraces(traces: DataFrame, dir: String): Unit = {
    traces.write.mode(SaveMode.Overwrite).json(s"$dir/chatmls")
    val meta = StructType(Seq("session_id", "stage", "name").map(traces.schema(_)))
    read(traces.sparkSession, s"$dir/chatmls", meta)
      .write.mode(SaveMode.Overwrite).json(s"$dir/meta")
  }

  /** ST2 — resume guard (reference inf.py:45-55: refuse to overwrite
    * existing output unless appending).
    */
  def guardedWrite(df: DataFrame, path: String, append: Boolean): Unit = {
    // resolve the path's OWN filesystem: FileSystem.get(conf) returns
    // the default FS, which silently checks the wrong store when path
    // has a non-default scheme (e.g. s3a:// with a local default)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val exists = fs.exists(p)
    require(append || !exists,
      s"output $path exists; pass append=true to add to it")
    write(df, path, append)
  }
}
