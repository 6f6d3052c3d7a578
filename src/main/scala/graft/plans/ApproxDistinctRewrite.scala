package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull,
  Literal, ShiftRightUnsigned, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.expressions.KmvDistinct

/** Opt-in optimizer rule: rewrite exact `COUNT(DISTINCT x)` to the
  * mergeable KMV sketch ([[graft.expressions.KmvDistinct]]) — the
  * "approximate distinct mode" switch warehouses ship, implemented the
  * Catalyst way (a `Rule[LogicalPlan]` injected via
  * [[graft.GraftExtensions]]) because it is a PLAN property, not
  * something a DataFrame operator can express: the caller's query says
  * `count(distinct user_id)` and the session decides whether that
  * means the exact two-phase expand or the one-pass sketch.
  *
  * Why at 100 TB: exact distinct either expands every row per distinct
  * aggregate or shuffles the raw keys — the exchange payload is
  * O(groups × distinct keys). The sketch's partial state is ≤ k longs
  * per (group, partition) regardless of cardinality (SketchSpec pins
  * the shuffle at ≤ groups × map partitions records of ≤ k hashes),
  * with error ~1/√(k−2) and EXACT counts below k distinct values.
  *
  * Scope and safety:
  *  - fires only when `spark.graft.approxDistinct` = true (read per
  *    query application, so a session can toggle it between actions);
  *  - k from `spark.graft.approxDistinctK` (default 256 ≈ 6% error);
  *  - only single-argument COUNT(DISTINCT x); multi-arg and
  *    count(DISTINCT a, b) stay exact;
  *  - input is hashed with Spark's codegen'd XxHash64 (>>> 4, the
  *    hash60 xxhash64-mode convention — any input type, zero
  *    allocations); nullable inputs get an IS NOT NULL aggregate
  *    filter because hash functions fold NULL into the seed rather
  *    than skipping the row, which would silently count null as one
  *    extra value;
  *  - the rewrite happens INSIDE the aggregate's Alias, so output
  *    attribute names/ExprIds — and everything referencing them
  *    downstream — are untouched.
  */
case class ApproxDistinctRewrite(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get("spark.graft.approxDistinct", "false").toBoolean) {
      plan
    } else {
      val k = session.conf.get("spark.graft.approxDistinctK", "256").toInt
      plan.transformUp {
        case agg: Aggregate =>
          agg.transformExpressions {
            case ae: AggregateExpression if ae.isDistinct =>
              ae.aggregateFunction match {
                case Count(Seq(c)) if !c.foldable =>
                  val hashed: Expression =
                    ShiftRightUnsigned(XxHash64(Seq(c), 42L), Literal(4))
                  val nullGuard: Option[Expression] =
                    if (c.nullable) Some(IsNotNull(c)) else None
                  val filter = (ae.filter, nullGuard) match {
                    case (Some(f), Some(g)) => Some(And(f, g))
                    case (f, g) => f.orElse(g)
                  }
                  AggregateExpression(
                    KmvDistinct(hashed, k), ae.mode, isDistinct = false,
                    filter = filter)
                case _ => ae
              }
          }
      }
    }
  }
}
