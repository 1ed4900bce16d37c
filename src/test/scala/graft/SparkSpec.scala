package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — Test/fork=true
  * gives the suite JVM the add-opens flags from build.sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpec {
  // the production session shape, so plan specs assert what Verify and
  // Bench actually execute
  lazy val session: SparkSession = GraftSession("graft-test", 4,
    conf = Map("spark.sql.warehouse.dir" -> "target/spark-warehouse"))
}
