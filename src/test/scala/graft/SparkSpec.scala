package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, transform}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — Test/fork=true
  * gives the suite JVM the add-opens flags from build.sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"

  /** `rep` copies of `df` over 8 partitions with fresh ids `id·rep + copy`
    * (`copy` = 0..rep−1): pure replication gives closed-form counts. */
  def replicated(df: DataFrame, id: String, rep: Int): DataFrame =
    df.crossJoin(spark.range(rep).select(col("id").as("copy")))
      .withColumn(id, col(id) * rep + col("copy")).repartition(8)

  /** sf0.001 embeddings × rep as (vec_id, v), every copy offset by copy·1e-4
    * per dimension, so each copy family is a cos ≈ 1 cluster. */
  def perturbedEmbeddings(rep: Int): DataFrame =
    replicated(graft.sources.Tables.table(spark, sf(), "embeddings"), "vec_id", rep)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double") + col("copy").cast("double") * 1e-4).as("v"))
}

object SparkSpec {
  // the production session shape, so plan specs assert what Verify and
  // Bench actually execute
  lazy val session: SparkSession = GraftSession("graft-test", 4,
    conf = Map("spark.sql.warehouse.dir" -> "target/spark-warehouse"))
}
