package graft

import org.apache.spark.sql.functions._

/** Content-defined boundaries depend only on content: replicated docs
  * chunk identically, so every chunk hash's count scales exactly by rep. */
class CdcChunkSpec extends SparkSpec {

  test("replication scales every chunk hash's count by rep and mints none") {
    val rep = 3
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    def occ(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.operators.CdcChunk.chunks(d, col("doc_id"), col("text"))
        .groupBy("h").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = occ(docs)
    val scaled = occ(replicated(docs, "doc_id", rep))
    assert(base.nonEmpty && scaled == base.map { case (h, n) => h -> n * rep })
  }
}
