package graft

import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Stage, Tuning}
import graft.ops.Stage.StagedFrame

class TuningSpec extends SparkSpec {
  import spark.implicits._

  test("workParts: work-derived count clamps to [1, session cap]") {
    // session cap is 4 in the test session (SparkSpec)
    assert(Tuning.workParts(spark, 0L, 1000L) == 1)
    assert(Tuning.workParts(spark, 999L, 1000L) == 1)
    assert(Tuning.workParts(spark, 2500L, 1000L) == 3)
    assert(Tuning.workParts(spark, Long.MaxValue / 2, 1000L) == 4)
  }

  test("stageCheckpoint: local default and reliable mode return the " +
    "same rows; reliable mode writes to the checkpoint dir") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val local = df.stageCheckpoint(true)
    assert(local.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val reliable = df.stageCheckpoint(true)
      assert(reliable.orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(1L, 2L, 3L))
      // the reliable form must actually be a reliable checkpoint:
      // files exist under the checkpoint dir
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
    } finally spark.conf.set("spark.graft.reliableCheckpoint", "false")
  }

  test("Stage.root keeps the frame's rows, hash partitioning and ordering") {
    val df = (1 to 2000).map(i => (i % 97, i.toLong)).toDF("k", "v")
      .repartition(8, col("k")).sortWithinPartitions("k")
    val r = Stage.root(df)
    val leaf = r.queryExecution.analyzed.collect { case l: LogicalRDD => l }
    assert(leaf.size == 1, r.queryExecution.analyzed.treeString)
    val names = (_: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      .map { case a: Attribute => a.name; case e => e.sql }
    leaf.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(names(h.expressions) == Seq("k") && h.numPartitions == 8, h)
      case p => fail(s"root lost its partitioning: $p")
    }
    leaf.head.outputOrdering match {
      case Seq(SortOrder(a: Attribute, Ascending, _, _)) => assert(a.name == "k")
      case o => fail(s"root lost its ordering: $o")
    }
    assert(r.rdd.getNumPartitions == 8)
    assert(r.orderBy("v").as[(Int, Long)].collect().toSeq ==
      (1 to 2000).map(i => (i % 97, i.toLong)))
  }

  test("Stage.root states its partitioning and ordering on its own columns") {
    // the optimizer drops this cast and alias, so the executed plan's
    // column is not the frame's `node`
    val seeds = Seq(5L, 3L, 9L, 1L, 7L, 3L).toDF("src")
      .select(col("src").as("node")).distinct().orderBy("node").limit(3)
    val r = Stage.cached(seeds.select(col("node").cast("long").as("node"))
      .distinct().withColumn("d", lit(0L)))
    try {
      val leaf = r.queryExecution.analyzed.collect { case l: LogicalRDD => l }.head
      val refs = leaf.outputOrdering.flatMap(_.references) ++
        (leaf.outputPartitioning match { case h: HashPartitioning => h.references; case _ => Nil })
      assert(refs.nonEmpty && refs.forall(leaf.outputSet.contains), s"$refs vs ${leaf.output}")
      assert(r.join(r.select(col("node")), "node").count() == 3)
    } finally r.unpersist()
  }
}
