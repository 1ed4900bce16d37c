package graft

import org.apache.spark.sql.functions._
import graft.operators.SemDeDup

/** SemDeDup's scale contract on perturbed replicas (cos ≈ 1 within a copy
  * family): the cell count grows with n, so within-cell pairs stay linear
  * in n, and the replicas drop. */
class SemDeDupSpec extends SparkSpec {

  test("cell count scales with n; within-cell pairs stay linear; replicas drop") {
    val (rep, target) = (4, 64L)
    val big = perturbedEmbeddings(rep)
    val n = big.count()
    val k = SemDeDup.cellCount(n, target)
    assert(k == n / target && k > 4, s"k=$k must exceed the fixed-k floor")
    val out = SemDeDup.semdedup(big, col("vec_id"), col("v"),
      threshold = 0.95, targetCellSize = target).cache()
    val cells = out.groupBy("cluster").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head()
    val pairs = cells.getAs[Number](0).longValue()
    assert(pairs <= n * target * 4, s"within-cell pairs $pairs exceed the linear bound")
    assert(pairs < n * (n - 1) / 2 / 8, s"pairs $pairs not below the fixed-k regime")
    val dropped = out.where(!col("keep")).count()
    assert(dropped >= (n - n / rep) / 2, s"only $dropped of ${n - n / rep} replicas dropped")
  }
}
