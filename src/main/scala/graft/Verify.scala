package graft
import java.nio.file.{Files, Paths}
import graft.LocalSession.jsonString
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for tools/check.py's DuckDB compare. Exits 1, naming
  * the failed queries, when any query threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver runs full
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      } finally spark.catalog.clearCache() // operators may persist frames
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    LocalSession.exitIfFailed("verify", failed)
  }
}
