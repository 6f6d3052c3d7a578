package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expressions.{CharShingleDistinctCount, CollectSetCapped,
  DotProduct, FrequentItems, KmvDistinct, SimHash16,
  WordShingleHashes, WordShingleMinHash}

/** SparkSessionExtensions entry point registering the engine's native
  * expressions for SQL use:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT char_shingle_count(text, 7) FROM docs
  *
  * (Scala-API callers can use graft.functions.GraftFunctions
  * .charShingleCount without extensions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("char_shingle_count"),
      new ExpressionInfo(classOf[CharShingleDistinctCount].getName,
        "char_shingle_count"),
      (children: Seq[Expression]) => children match {
        case Seq(str, Literal(n: Int, _)) => CharShingleDistinctCount(str, n)
        case _ => throw new IllegalArgumentException(
          "char_shingle_count(stringCol, intLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          "dot_product(arrayCol, arrayCol)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "kmv_distinct"),
      (children: Seq[Expression]) => children match {
        // takes the pre-hashed long column (hash60) so SQL callers
        // control the hash mode the same way the Scala API does
        case Seq(c, Literal(n: Int, _)) => KmvDistinct(c, n)
        case _ => throw new IllegalArgumentException(
          "kmv_distinct(longHashCol, kLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("frequent_items"),
      new ExpressionInfo(classOf[FrequentItems].getName, "frequent_items"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(cap: Int, _)) => FrequentItems(c, cap)
        case _ => throw new IllegalArgumentException(
          "frequent_items(stringCol, capacityLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("collect_set_capped"),
      new ExpressionInfo(classOf[CollectSetCapped].getName,
        "collect_set_capped"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(cap: Int, _)) => CollectSetCapped(c, cap)
        case _ => throw new IllegalArgumentException(
          "collect_set_capped(longCol, capLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => children match {
        // the builder runs during analysis on the driver, so the
        // session hash mode is readable here — SQL and Scala entry
        // points must agree in xxhash64 mode
        case Seq(s) =>
          SimHash16(s, graft.functions.GraftFunctions.hashModeIsXx)
        case _ => throw new IllegalArgumentException("simhash16(stringCol)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("word_shingle_minhash"),
      new ExpressionInfo(classOf[WordShingleMinHash].getName,
        "word_shingle_minhash"),
      (children: Seq[Expression]) => children match {
        case Seq(s, Literal(perms: Int, _), Literal(n: Int, _)) =>
          WordShingleMinHash(s, perms, n,
            graft.functions.GraftFunctions.hashModeIsXx)
        case _ => throw new IllegalArgumentException(
          "word_shingle_minhash(stringCol, numPermsLiteral, shingleNLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("word_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName,
        "word_shingle_hashes"),
      (children: Seq[Expression]) => children match {
        case Seq(s, Literal(n: Int, _)) =>
          WordShingleHashes(s, n, distinct = true,
            xx = graft.functions.GraftFunctions.hashModeIsXx)
        case Seq(s, Literal(n: Int, _), Literal(d: Boolean, _)) =>
          WordShingleHashes(s, n, distinct = d,
            xx = graft.functions.GraftFunctions.hashModeIsXx)
        case _ => throw new IllegalArgumentException(
          "word_shingle_hashes(stringCol, shingleNLiteral[, distinctLiteral])")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("count_min"),
      new ExpressionInfo(classOf[graft.expressions.CountMinAgg].getName,
        "count_min"),
      (children: Seq[Expression]) => children match {
        // pre-hashed long column (hash60), like kmv_distinct
        case Seq(c, Literal(d: Int, _), Literal(w: Int, _)) =>
          graft.expressions.CountMinAgg(c, d, w)
        case _ => throw new IllegalArgumentException(
          "count_min(longHashCol, depthLiteral, widthLiteral)")
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    ext.injectFunction((
      new FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[graft.expressions.KllQuantileAgg].getName,
        "kll_quantile"),
      (children: Seq[Expression]) => {
        // kll_quantile(doubleCol, kLiteral, qLiteral...) — returns
        // struct(n, err_bound, est[#qs]); qs are literals so SQL
        // callers pin the quantile list at plan time like the Scala
        // API does. Spark's SQL parser types a plain `0.5` as
        // DECIMAL(1,1), not DOUBLE (ADVICE r8: only the D-suffixed
        // spelling matched), so quantiles accept DOUBLE, DECIMAL and
        // INTEGER literals; k accepts INTEGER/LONG.
        def qOf(e: Expression): Option[Double] = e match {
          case Literal(q: Double, _) => Some(q)
          case Literal(q: org.apache.spark.sql.types.Decimal, _) =>
            Some(q.toDouble)
          case Literal(q: Int, _) => Some(q.toDouble)
          case _ => None
        }
        def kOf(e: Expression): Option[Int] = e match {
          case Literal(k: Int, _) => Some(k)
          case Literal(k: Long, _) if k <= Int.MaxValue => Some(k.toInt)
          case _ => None
        }
        children match {
          case c +: kLit +: qs if kOf(kLit).isDefined && qs.nonEmpty &&
              qs.forall(qOf(_).isDefined) =>
            graft.expressions.KllQuantileAgg(c, kOf(kLit).get,
              qs.map(qOf(_).get))
          case _ => throw new IllegalArgumentException(
            "kll_quantile(doubleCol, kLiteral, qLiteral...)")
        }
      }): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

    // Plan-level capability: opt-in COUNT(DISTINCT) → KMV-sketch
    // rewrite (spark.graft.approxDistinct=true). An optimizer rule
    // because approximation policy is a session decision about an
    // unchanged query, not a new operator the caller writes.
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRewrite)

    // Plan-level capability: the native sort-merge as-of join. A
    // planner strategy because the whole operator (not a scalar) is
    // missing from Spark: graft.plans.AsofJoinPlan logical nodes —
    // built by Relational.asofJoinNative — plan to AsofJoinExec.
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
