package graft

import org.apache.spark.sql.functions._

/** Replication scales Σxxᵀ, Σx and n alike, so the covariance — and the
  * power-iteration loading and λ — are invariant. */
class PcaSpec extends SparkSpec {

  test("topComponent loadings and lambda are invariant under replication") {
    val emb = graft.sources.Tables.table(spark, sf(), "embeddings")
    def load(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Pca.topComponent(df, col("embedding"), dim = 64, iters = 3)
        .orderBy("dim_idx").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val base = load(emb)
    val scaled = load(replicated(emb, "vec_id", 3))
    assert(base.length == 64 && scaled.length == 64)
    val maxDiff = base.zip(scaled).map { case ((l0, g0), (l1, g1)) =>
      math.max(math.abs(l1 - l0), math.abs(g1 - g0)) }.max
    assert(maxDiff < 1e-9, s"max |Δ| = $maxDiff")
  }
}
