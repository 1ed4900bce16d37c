package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.LexIndex

/** LexIndex's bucket modulus follows the vocabulary: a corpus grown 10×
  * with filler docs of a disjoint minted vocabulary steps `nBuckets`, so a
  * fixed term list touches a smaller fraction of the buckets, while the
  * documents the terms match stay the same. */
class LexIndexSpec extends SparkSpec {

  test("nBuckets steps with the vocabulary; matched docs invariant; pruned fraction shrinks") {
    import spark.implicits._
    val terms = Seq("spark", "vector", "stream")
    val base = graft.sources.Tables.table(spark, sf(), "documents").select("doc_id", "text")
    val filler = spark.range(9L * base.count()).select((col("id") + 1000000000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(j => concat(lit(s"fill${j}tok"), col("id"))): _*)
        .as("text"))
    def probe(tag: String, df: DataFrame): (Int, Double, Set[Long]) = {
      val dir = s"target/test_lex_index/$tag-${System.nanoTime()}"
      LexIndex.build(df, col("doc_id"), col("text"), dir)
      val nb = LexIndex.stats(spark, dir)._3
      val touched = terms.toDF("t").select(pmod(xxhash64(col("t")), lit(nb))).distinct().count()
      val matched = LexIndex.query(spark, dir, terms).collect().map(_.getLong(0)).toSet
      (nb, touched.toDouble / nb, matched)
    }
    val (nb0, frac0, m0) = probe("base", base)
    val (nb1, frac1, m1) = probe("grown", base.unionByName(filler))
    assert(nb1 > nb0, s"nBuckets must step with the vocabulary: $nb0 -> $nb1")
    assert(frac1 < frac0, s"pruned fraction must shrink: $frac0 -> $frac1")
    assert(m0.nonEmpty && m1 == m0, "filler docs must not change the matched documents")
  }
}
