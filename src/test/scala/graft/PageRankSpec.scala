package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.PageRank

/** Pure corpus replication scales every edge weight and out-weight by rep,
  * so each contribution (rep·w)/(rep·outw)·pr has the same quotient: the
  * rank vector is invariant. */
class PageRankSpec extends SparkSpec {

  test("word-adjacency ranks are invariant under corpus replication") {
    def ranks(d: DataFrame): Map[String, Double] = {
      val toks = d.select(split(lower(graft.functions.TextExprs.cleanText(col("text"))), " ")
        .as("ts"))
      PageRank.ranks(PageRank.adjacencyEdges(toks), iters = 5, damping = 0.85)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val base = ranks(docs)
    val scaled = ranks(replicated(docs, "doc_id", 3))
    assert(base.nonEmpty && scaled.keySet == base.keySet)
    val maxDiff = base.map { case (t, p) => math.abs(scaled(t) - p) }.max
    assert(maxDiff < 1e-9, s"max |Δpr| = $maxDiff")
  }
}
