package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{cmsBucket, cmsBucketSql, perm, permSql, Base30Mod}

/** The hash family's three forms — JVM Long (the per-row kernels,
  * CountMinAgg, the streams), Column (the exploded pipeline,
  * countMinEstimate) and generated SQL (the DuckDB oracles) — give the
  * same value on every member the engine uses. The SQL text is run
  * through spark.sql, whose long `%` truncates like DuckDB's.
  */
class HashFamilySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(19)

  /** 30-bit bases: both ends of the range and a few seeded values. */
  private val bases: Seq[Long] =
    Seq(0L, 1L, Base30Mod - 1) ++ Seq.fill(4)(rnd.nextLong(Base30Mod))

  /** Non-negative 60-bit hashes, as md5Long and hash60 produce. */
  private val hashes: Seq[Long] =
    Seq(0L, 1L, Base30Mod - 1, Base30Mod, (1L << 60) - 1) ++
      Seq.fill(3)(rnd.nextLong(1L << 60))

  private val Members = 0 until 256
  private val Rows = 0 until 16
  private val Widths = Seq(2, 16, 256)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap

  test("perm: JVM, Column and generated SQL agree on members 0..255") {
    val jvm = bases.map(b => b -> Members.map(perm(_, b))).toMap
    val df = bases.toDF("b")
    val viaCol = rowsOf(df.select(col("b") +: Members.map(i => perm(i, col("b"))): _*))
    df.createOrReplaceTempView("hash_family_bases")
    val viaSql = rowsOf(spark.sql(
      s"SELECT b, ${Members.map(permSql(_, "b")).mkString(", ")} FROM hash_family_bases"))
    assert(jvm.values.flatten.forall(h => h >= 0 && h < Int.MaxValue))
    assert(viaCol == jvm)
    assert(viaSql == jvm)
  }

  test("cmsBucket: JVM, Column and generated SQL agree at widths 2, 16 and 256") {
    val cells = for (w <- Widths; j <- Rows) yield (j, w)
    def jvm(hs: Seq[Long]) =
      hs.map(h => h -> cells.map { case (j, w) => cmsBucket(h, j, w).toLong }).toMap
    // negative hashes reach count_min from SQL callers: the JVM and
    // Column forms fold them the same way
    val signed = hashes ++ Seq(-1L, -12345L, Long.MinValue, -rnd.nextLong(1L << 60))
    val viaCol = rowsOf(signed.toDF("h").select(col("h") +:
      cells.map { case (j, w) => cmsBucket(col("h"), j, w) }: _*))
    assert(viaCol == jvm(signed))
    assert(jvm(signed).values.flatten.forall(_ >= 0))

    hashes.toDF("h").createOrReplaceTempView("hash_family_hashes")
    val viaSql = rowsOf(spark.sql(s"SELECT h, ${cells.map { case (j, w) =>
      cmsBucketSql("h", j, w) }.mkString(", ")} FROM hash_family_hashes"))
    assert(viaSql == jvm(hashes))
  }
}
