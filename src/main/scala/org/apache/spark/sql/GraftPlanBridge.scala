package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge into the private[sql] Dataset.ofRows — the entry point for
  * libraries that construct their own resolved [[LogicalPlan]] nodes
  * (graft.plans.AsofJoinPlan) and hand them to the session's planner,
  * where an injected [[org.apache.spark.sql.execution.SparkStrategy]]
  * picks the physical operator. Companion to [[GraftColumnBridge]].
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s executed rows behind a [[LogicalRDD]] leaf, the node
    * Dataset.checkpoint builds, minus the checkpoint: the leaf carries
    * InternalRows (no Row conversion) and the plan's statistics, and its
    * RDD keeps its lineage. Running the RDD's plan settles an adaptive
    * plan, so the leaf reports the final plan's output partitioning and
    * ordering: the adaptive wrapper itself reports neither, which is
    * why Dataset.checkpoint's leaf forgets them. Both are moved onto the
    * frame's own columns by position, because the optimizer may rename
    * a column (a dropped alias) that the leaf exposes under the
    * frame's name.
    */
  def root(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val toFrame = AttributeMap(plan.output.zip(ds.logicalPlan.output))
    def onFrame(e: Expression): Option[Expression] =
      if (e.references.forall(toFrame.contains))
        Some(e.transform { case a: Attribute => toFrame(a) })
      else None
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case PartitioningCollection(ps) => firstLeaf(ps.head)
      case e: Expression => onFrame(e).map(_.asInstanceOf[Partitioning])
        .getOrElse(UnknownPartitioning(p.numPartitions))
      case _ => p
    }
    val ordering = plan.outputOrdering.map(onFrame).takeWhile(_.nonEmpty)
      .map(_.get.asInstanceOf[SortOrder])
    val (stats, constraints) =
      LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
    ofRows(df.sparkSession, new RootRDD(ds.logicalPlan.output, rdd,
      firstLeaf(plan.outputPartitioning), ordering, false, None)(
      ds.sparkSession, stats, constraints).newInstance())
  }

  /** A root's leaf. Its partitioning and ordering follow from its RDD,
    * so its canonical form drops them: Spark normalizes a leaf's output
    * attributes but not the ones inside those two, so a re-instanced
    * copy (the second side of a self-join) would miss the cache built
    * on the root.
    */
  private class RootRDD(output: Seq[Attribute], rdd: RDD[InternalRow],
                        partitioning: Partitioning, ordering: Seq[SortOrder],
                        isStreaming: Boolean, stream: Option[SparkDataStream])(
                        session: classic.SparkSession, stats: Option[Statistics],
                        constraints: Option[ExpressionSet])
      extends LogicalRDD(output, rdd, partitioning, ordering, isStreaming,
        stream)(session, stats, constraints) {
    override def newInstance(): this.type = {
      val l: LogicalRDD = super.newInstance()
      new RootRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
        l.isStreaming, l.stream)(session, Some(l.computeStats()),
        Some(l.constraints)).asInstanceOf[this.type]
    }
    override def doCanonicalize(): LogicalPlan =
      LogicalRDD(output, rdd, UnknownPartitioning(0), Nil, isStreaming, stream)(
        session, stats, constraints).canonicalized
  }
}
