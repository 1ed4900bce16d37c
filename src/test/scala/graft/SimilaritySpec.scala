package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** Hyperplane-LSH blocking: the candidate stream has the bucket-histogram
  * closed form, stepping the plane count with n re-cuts it, and perturbed
  * replicas pick their own family as mutual nearest neighbours. */
class SimilaritySpec extends SparkSpec {

  test("lshCandidatePairs: Σ|b|(|b|−1) candidates; mutual kNN stays inside copy families") {
    val rep = 4
    val big = perturbedEmbeddings(rep).cache()
    val planes = VectorExprs.deterministicPlanes(10, 64)
    val hist = big.groupBy(VectorExprs.hyperplaneBucket(col("v"), planes)).count()
      .collect().map(_.getLong(1))
    val sims = graft.operators.Similarity.lshCandidatePairs(
      big, col("vec_id"), col("v"), big, col("vec_id"), col("v"), planes).cache()
    assert(sims.count() == hist.map(c => c * (c - 1)).sum)
    val topk = graft.operators.TopKAgg.perKey(sims, col("id_a"), col("cos"), col("id_b"), rep - 1)
      .select(col("_k").as("id_a"), col("id").as("id_b"))
    val mutual = topk.join(topk.select(col("id_b").as("id_a"), col("id_a").as("id_b")),
      Seq("id_a", "id_b")).where(col("id_a") < col("id_b")).cache()
    val nMutual = mutual.count()
    assert(nMutual > 0)
    val intra = mutual.where(expr(s"id_a DIV $rep = id_b DIV $rep")).count()
    assert(intra >= (0.99 * nMutual).toLong, s"$intra of $nMutual mutual edges intra-family")
  }

  test("hyperplaneBucket: fixed planes grow candidates ~n², +4 planes re-cut them") {
    // hash-mixed coordinates load the buckets uniformly, so the plane
    // count is the only knob
    def corpus(n: Int): DataFrame = spark.range(n).select(
      expr("transform(sequence(0, 63), j -> " +
        "CAST(pmod(xxhash64(id, j), 2001) - 1000 AS FLOAT))").as("v"))
    def cand(df: DataFrame, p: Int): Long =
      df.groupBy(VectorExprs.hyperplaneBucket(col("v"), VectorExprs.deterministicPlanes(p, 64)))
        .count().agg(sum(expr("count * (count - 1) / 2"))).head().getDouble(0).toLong
    val (small, big) = (corpus(2000), corpus(20000))
    val base = cand(small, 8)
    assert(cand(big, 8).toDouble / base > 50.0, "fixed planes must show the quadratic regime")
    assert(cand(big, 12).toDouble / base < 16.0, "stepped planes must hold growth near-linear")
  }
}
