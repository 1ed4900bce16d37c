package graft

import org.apache.spark.sql.functions._

/** Dbscan's distinct-vector collapse under pure replication: 16 one-hot
  * blobs of m identical copies each, plus unique two-hot noise vectors
  * (cos ≤ 0.5 to each other, 0 to every blob). */
class DbscanSpec extends SparkSpec {

  test("pure-replica blobs: closed-form roles and labels, zero distinct-grain pairs") {
    import spark.implicits._
    val noisePairs = for { i <- 16 until 64; j <- i + 1 until 64 } yield (i, j)
    for (rep <- Seq(1, 2)) {
      val (m, nNoise) = (8L * rep, 16 * rep)
      val blobs = spark.range(16).select(col("id").as("c"))
        .crossJoin(spark.range(m).select(col("id").as("r")))
        .select((col("c") * 10000000L + col("r")).as("vec_id"),
          expr("transform(sequence(0, 63), j -> IF(CAST(j AS BIGINT) = c, " +
            "CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as("v"))
      val noise = noisePairs.take(nNoise).zipWithIndex
        .map { case ((i, j), x) => (1000000000L + x, i, j) }.toDF("vec_id", "i", "j")
        .select(col("vec_id"), expr("transform(sequence(0, 63), k -> IF(k = i OR k = j, " +
          "CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as("v"))
      val big = blobs.unionAll(noise).repartition(8)
      val out = graft.operators.Dbscan.cluster(big, col("vec_id"), col("v"),
        eps = 0.6, minPts = 3).cache()
      val byRole = out.groupBy("role").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byRole == Map("core" -> 16 * m, "noise" -> nNoise.toLong), s"rep=$rep: $byRole")
      val labels = out.where(col("role") === "core").select("cluster_id").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(labels == (0 until 16).map(_ * 10000000L))
      val groups = big.groupBy("v").agg(min("vec_id").as("gid"))
      assert(graft.operators.Dedup.embeddingNearDups(groups, col("gid"), col("v"),
        threshold = 0.6, nPlanes = 8, dim = 64).count() == 0L)
    }
  }
}
