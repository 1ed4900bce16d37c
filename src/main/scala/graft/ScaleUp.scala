package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up for BENCH-ONLY use: replicate the driver's sf0.1
  * fixture `factor`× with key-shifted copies, preserving referential
  * integrity (each replica's orders point at the same replica's customers,
  * lineitems at the replica's orders/parts/suppliers). Dimension tables
  * whose keys the replicas share (region, nation) are copied once, so FK
  * columns keep their semantics. Event timestamps keep the original range —
  * a 10× scale-up means 10× the load per time window, which is what a
  * larger deployment actually looks like.
  *
  * This data feeds `graft.Bench` scaling runs only — the correctness gate
  * stays on the driver's fixtures (TESTDATA.md). Usage:
  *   runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 10
  */
object ScaleUp {

  /** Key columns to shift per table: replica i adds i·(max(key)+1). */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "region" -> Seq.empty, "nation" -> Seq.empty,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Offset base per KEY FAMILY (the FK and its PK shift together), computed
    * from the table that owns the key. */
  private val keyOwner: Map[String, (String, String)] = Map(
    "c_custkey" -> ("customer", "c_custkey"),
    "o_custkey" -> ("customer", "c_custkey"),
    "s_suppkey" -> ("supplier", "s_suppkey"),
    "l_suppkey" -> ("supplier", "s_suppkey"),
    "p_partkey" -> ("part", "p_partkey"),
    "l_partkey" -> ("part", "p_partkey"),
    "o_orderkey" -> ("orders", "o_orderkey"),
    "l_orderkey" -> ("orders", "o_orderkey"),
    "event_id" -> ("events", "event_id"),
    "user_id" -> ("events", "user_id"),
    "doc_id" -> ("documents", "doc_id"),
    "vec_id" -> ("embeddings", "vec_id"))

  def main(args: Array[String]): Unit = {
    val (src, out, factor) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession("graft-scaleup", GraftSession.cpus(32))

    // one pass over the key-owning tables for the offset bases
    val bases: Map[String, Long] = keyOwner.values.toSet.map {
      ownerKey: (String, String) =>
        val (tbl, col0) = ownerKey
        val mx = graft.sources.Tables.table(spark, src, tbl)
          .agg(max(col(col0))).head().getLong(0)
        (tbl, col0) -> (mx + 1L)
    }.toMap.map { case ((t, c), v) => s"$t.$c" -> v }

    shiftCols.foreach { case (tbl, keys) =>
      val df = graft.sources.Tables.table(spark, src, tbl)
      val replicated: DataFrame =
        if (keys.isEmpty) df
        else (0 until factor).map { i =>
          keys.foldLeft(df) { (acc, k) =>
            val (ot, oc) = keyOwner(k)
            acc.withColumn(k, col(k) + lit(i * bases(s"$ot.$oc")))
          }
        }.reduce(_ unionAll _)
      replicated.write.mode("overwrite").parquet(s"$out/$tbl.parquet")
      println(s"[scaleup] $tbl x${if (keys.isEmpty) 1 else factor}")
    }
    spark.stop()
  }
}
