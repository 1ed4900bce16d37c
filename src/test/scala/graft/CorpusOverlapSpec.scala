package graft

import org.apache.spark.sql.functions._
import graft.plans.MinHashExprs

/** CorpusOverlap in its bounded worst case: one synthetic source per
  * copy of the corpus puts every shingle in every source. */
class CorpusOverlapSpec extends SparkSpec {

  test("pure replication: C(rep, 2) pairs, jaccard 1.0, full-set intersections") {
    val (rep, n) = (4, 5)
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val perSource = docs
      .select(explode(MinHashExprs.shingleHashes(
        graft.functions.TextExprs.cleanText(col("text")), n)).as("h"))
      .distinct().count()
    val out = graft.operators.CorpusOverlap.sourceOverlap(
      replicated(docs, "doc_id", rep), col("copy").cast("string"), col("text"), n)
    val agg = out.agg(count(lit(1)), min("jaccard"), max("jaccard"), min("inter"), max("inter"))
      .head()
    assert(agg.getLong(0) == rep * (rep - 1) / 2, s"pairs: $agg")
    assert(agg.getDouble(1) == 1.0 && agg.getDouble(2) == 1.0, s"jaccard: $agg")
    assert(agg.getLong(3) == perSource && agg.getLong(4) == perSource, s"$agg vs $perSource")
  }
}
