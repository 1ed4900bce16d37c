package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{GlobalRank, Percentiles}

/** GlobalRank's ntile and the Percentiles built on its row numbers agree
  * with the window and aggregate they replace, on orders × 3 over several
  * partitions (Round3OpsSpec covers withRowNumber and withRunningSum). */
class GlobalRankSpec extends SparkSpec {

  private def big =
    replicated(graft.sources.Tables.table(spark, sf(), "orders"), "o_orderkey", 3)
      .select(col("o_orderkey").as("k"), (col("o_totalprice") + col("copy") * 0.01).as("v"),
        col("o_orderpriority").as("g"))

  private val order = Seq(col("v").asc, col("k").asc)

  test("withNtile bucket sizes differ by at most one and match SQL ntile") {
    val n = big.count()
    val buckets = 64
    assert(n % buckets != 0, "the remainder path must be exercised")
    val tiled = GlobalRank.withNtile(big, buckets, order, "t")
    val sizes = tiled.groupBy("t").count()
      .agg(min("count"), max("count"), count(lit(1))).head()
    assert(sizes.getLong(2) == buckets && sizes.getLong(1) - sizes.getLong(0) <= 1,
      s"bucket sizes: $sizes")
    val viaWindow = big.withColumn("t", ntile(buckets).over(Window.orderBy(order: _*)).cast("long"))
    assert(tiled.select("k", "t").except(viaWindow.select("k", "t")).count() == 0)
  }

  test("Percentiles.exactByGroup equals Spark's percentile aggregate") {
    val ps = Seq(0.25, 0.5, 0.95, 0.99)
    val names = Seq("p25", "p50", "p95", "p99")
    val ours = Percentiles.exactByGroup(big, col("g"), col("v"), ps, names).collect()
      .map(r => r.getString(0) -> names.indices.map(i => r.getDouble(i + 1))).toMap
    val ref = big.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString("D,")}D))").as("p")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(ours.keySet == ref.keySet && ours.size > 1)
    val diffs = for {
      (g, vs) <- ours.toSeq; ((a, b), i) <- vs.zip(ref(g)).zipWithIndex
      if math.abs(a - b) > 1e-6
    } yield s"$g ${names(i)}: $a vs $b"
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}
