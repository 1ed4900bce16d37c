package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.AnnIndex

/** AnnIndex query path over appended exact copies with frozen quantizers:
  * every copy encodes like its original, so each query's candidate count
  * is its probed cells' population and scales exactly with replication,
  * and the distinct-grain top-5 cannot move. */
class AnnIndexSpec extends SparkSpec {

  test("appended copies: candidates per query scale exactly; distinct-grain top-5 flat") {
    val base = graft.sources.Tables.table(spark, sf(), "embeddings")
      .select(col("vec_id"), col("embedding")).cache()
    val nBase = base.count()
    val dir = s"target/test_ann_index/${System.nanoTime()}"
    def copies(lo: Long, hi: Long) = base.crossJoin(spark.range(lo, hi).select(col("id").as("_c")))
      .select((col("vec_id") + col("_c") * nBase).as("vec_id"), col("embedding"))
    val q = base.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    def probe(): (Map[Long, Long], Set[(Long, Long)]) = {
      val all = AnnIndex.query(spark, dir, q, k = Int.MaxValue, nProbe = 2).cache()
      val cand = all.groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val top = all.withColumn("orig", pmod(col("corpus_id"), lit(nBase)))
        .groupBy("query_id", "orig").agg(min("adc").as("adc"))
        .withColumn("r", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc").asc, col("orig").asc)))
        .where(col("r") <= 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (cand, top)
    }
    AnnIndex.build(base, col("vec_id"), col("embedding"), dir)
    AnnIndex.append(spark, dir, copies(1, 2), col("vec_id"), col("embedding"))
    val (cand2, top2) = probe()
    AnnIndex.append(spark, dir, copies(2, 4), col("vec_id"), col("embedding"))
    val (cand4, top4) = probe()
    assert(cand2.size == 8 && cand2.forall { case (qid, n) => cand4(qid) == 2 * n },
      s"candidates must double with the copies: $cand2 -> $cand4")
    assert(top4 == top2 && top2.size == 40)
  }
}
