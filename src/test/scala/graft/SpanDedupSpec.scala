package graft

import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** SpanDedup on a purely replicated corpus — the adversarial case where
  * every L-token window is duplicated across documents. */
class SpanDedupSpec extends SparkSpec {

  test("pure replication: every long doc reports dup_ratio 1.0 over all its windows") {
    val (rep, len) = (3, 30)
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val big = replicated(docs, "doc_id", rep)
    val nToks = size(split(TextExprs.cleanText(col("text")), " "))
    val base = docs.where(nToks >= len).count()
    val windows = big.select((nToks - (len - 1)).as("w")).where(col("w") >= 1)
      .agg(sum("w")).head().getLong(0)
    assert(base > 0)
    val out = graft.operators.SpanDedup.perDocDupShare(big, col("doc_id"), col("text"), len)
    val agg = out.agg(count(lit(1)), min("dup_ratio"), sum("dup_windows")).head()
    assert(agg.getLong(0) == base * rep, s"reporting docs: $agg")
    assert(agg.getDouble(1) == 1.0 && agg.getLong(2) == windows, s"$agg vs $windows windows")
  }
}
