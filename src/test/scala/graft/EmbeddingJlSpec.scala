package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions.col

/** JL projection distortion: the k=16 sign projection should preserve
  * pairwise distances in the aggregate (mean ratio near 1, most pairs
  * inside the ±30% band) — the property that makes the compressed
  * store usable for retrieval at all. The audit sample is a fixed K
  * vectors, so its pair work does not grow with the corpus.
  */
class EmbeddingJlSpec extends SparkSpec {
  import spark.implicits._

  test("distance ratios center on 1 and concentrate within the JL band") {
    val r = SparkEntry.queries("embedding_jl_distortion")(spark, sfDir)
      .as[(Long, Double, Double, Double, Double)].collect().head
    val (nPairs, mean, mn, mx, frac) = r
    assert(nPairs > 100)
    assert(mean > 0.85 && mean < 1.15, s"mean ratio $mean")
    assert(frac > 0.75, s"frac within 30%: $frac")
    assert(mn > 0.0 && mx < 3.0)
  }

  test("the audit's pair stages hold K(K−1)/2 rows at ×1 and at ×4") {
    val k = SimilarityQueries.JlAuditK.toLong
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    for ((v, copies) <- Seq(e -> 1, duplicated(e, 4, "vec_id") -> 4)) {
      val pairRows = executedOps(SimilarityQueries.jlDistortion(spark, v)).collect {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == Seq("ia", "ib") &&
            a.aggregateExpressions.exists(_.mode == Final) => a.metrics("numOutputRows").value
      }
      assert(pairRows == Seq.fill(2)(k * (k - 1) / 2), s"×$copies: $pairRows")
    }
  }
}
