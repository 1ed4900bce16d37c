package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, KMeansOp}

/** `KMeansOp.fitViews`: several codebooks in one Lloyd loop, each equal to
  * its view's own `fit` to the bit, in 1 + iters jobs whatever the number
  * of views. */
class KMeansOpSpec extends SparkSpec {

  private def bits(cb: Seq[Array[Double]]): Seq[Seq[Long]] =
    cb.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq)

  test("fitViews equals each view's own fit bit-for-bit: unequal k and caps, an empty cluster") {
    // sample caps 2048 at k = 4 and 16·200 = 3200 at k = 200. At 4000 rows
    // both caps cut; at 3000 the optimizer drops the 3200-row limit (the
    // range's row bound is below it) and sorts across partitions, so only
    // the draw order tells which 2048 rows the k = 4 views fit on. Dims 0-1
    // take two values only, so the k = 4 fit of that view seeds duplicate
    // centroids and the later duplicate's cluster stays empty
    val views: Seq[(Column => Column, Int)] = Seq(
      (v => v, 4),
      (v => slice(v, 3, 6), 200),
      (v => slice(v, 1, 2), 4))
    Seq(4000L, 3000L).foreach { n =>
      val corpus = spark.range(n).select(col("id").as("doc"),
        array(Seq((col("id") % 2).cast("float"), lit(0.0f)) ++ (2 until 8).map(i =>
          (pmod(xxhash64(col("id"), lit(i)), lit(1000L)) / 1000.0).cast("float")): _*).as("vec"))
      val (codebooks, base) = KMeansOp.fitViews(corpus, col("doc"), col("vec"), views, iters = 2)
      assert(base.count() == n)
      views.zip(codebooks).foreach { case ((view, k), cb) =>
        val (alone, _) = KMeansOp.fit(corpus, col("doc"), view(col("vec")), k = k, iters = 2)
        assert(cb.length == k && bits(cb) == bits(alone), s"n = $n, view with k = $k")
      }
      assert(codebooks(2).map(_.toSeq).distinct.length < 4,
        "the two-valued view must keep a duplicate (empty-cluster) centroid")
    }
  }

  test("AnnIndex.build fits all its quantizers in 1 + iters jobs, at nSub 4 and 8") {
    val emb = graft.sources.Tables.table(spark, sf(), "embeddings")
    val params = Seq(AnnIndex.Params(), AnnIndex.Params(nSub = 8, subDim = 8))
    val jobs = params.map { p =>
      val dir = s"target/tmp/kmeans_spec/${System.nanoTime()}"
      jobsOf(AnnIndex.build(emb, col("vec_id"), col("embedding"), dir, p))
    }
    // the rest of build is its two writes: centroids and codes
    assert(jobs == params.map(p => 1 + p.iters + 2))
  }
}
