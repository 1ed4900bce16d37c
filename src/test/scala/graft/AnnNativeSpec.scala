package graft

import org.apache.spark.sql.functions._
import graft.plans.{AnnNative, BcastCents, InlineCents}

/** The broadcast coarse quantizer past the inline-size threshold: a small
  * plan payload, and a probed-cell join whose row count is the closed form
  * Σ_q Σ_{c ∈ probe(q)} |cell c| over driver-computed cells. */
class AnnNativeSpec extends SparkSpec {

  test("broadcast quantizer: small plan handle, closed-form probed-cell join") {
    val (k, dim, nProbe) = (1100, 64, 2) // k·dim > the 64k-element threshold
    val cents = (0 until k).map(j => Array.tabulate(dim)(i => math.sin(j * dim + i)))
    val cm = AnnNative.matrix(spark, cents)
    assert(cm.isInstanceOf[BcastCents])
    val inline = InlineCents(cents.map(_.toIndexedSeq))
    def serSize(o: java.io.Serializable) =
      org.apache.commons.lang3.SerializationUtils.serialize(o).length
    assert(serSize(cm) < serSize(inline) / 100, "the plan must carry a handle, not the matrix")

    val big = perturbedEmbeddings(2).cache()
    val codes = big.select(col("vec_id"), AnnNative.argMaxDot(col("v"), cm).as("cell"))

    // driver reference: argmax and top-nProbe cells by dot product
    val vecs = big.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def dots(v: Array[Double]) = cents.map { c =>
      var (s, i) = (0.0, 0)
      while (i < dim) { s += c(i) * v(i); i += 1 }
      s
    }
    val pop = vecs.map { case (_, v) => dots(v).zipWithIndex.maxBy(_._1)._2 }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val queries = vecs.take(50)
    val expected = queries.map { case (_, v) =>
      dots(v).zipWithIndex.sortBy(-_._1).take(nProbe).map(c => pop.getOrElse(c._2, 0L)).sum
    }.sum
    import spark.implicits._
    val probed = queries.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "qv")
      .select(col("query_id"), explode(AnnNative.topMByDot(col("qv"), cm, nProbe)).as("cell"))
    assert(probed.select("query_id", "cell").distinct().count() == queries.length * nProbe)
    assert(probed.join(codes, "cell").count() == expected)
  }
}
