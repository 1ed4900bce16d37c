package graft

import org.apache.spark.sql.functions._

/** PlanInspect reads scans, exchanges and joins off the plan's nodes, so its
  * counts do not depend on how the plan prints. */
class PlanInspectSpec extends SparkSpec {

  private def table(dir: String, name: String): String = {
    val path = new java.io.File(dir, s"$name.parquet").getAbsolutePath
    spark.range(200).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(path)
    path
  }

  test("a table under a directory path longer than 100 characters is counted per scan") {
    val dir = "target/plan_inspect/" + "a_directory_name_that_keeps_going_" * 3
    assert(new java.io.File(dir).getAbsolutePath.length > 100)
    val t = spark.read.parquet(table(dir, "long_path_table"))
    val plan = t.where(col("k") === 1).unionByName(t.where(col("k") === 2))
      .queryExecution.executedPlan
    // precondition: the printed plan cuts the scan location short, so a
    // count of "long_path_table.parquet" in it would read 0
    assert(!plan.toString.contains("long_path_table.parquet"))
    assert(PlanInspect(plan).scansOf("long_path_table") === 2)
  }

  test("the final adaptive plan is walked once: a reused exchange is not re-scanned") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t = s.read.parquet(table("target/plan_inspect", "reuse_table"))
    val agg = t.groupBy("k").agg(count(lit(1)).as("n"))
    val df = agg.join(agg.withColumnRenamed("n", "n2"), "k")
    df.collect()
    val c = PlanInspect(df)
    assert(df.queryExecution.executedPlan.toString.contains("isFinalPlan=true"))
    // one shuffle runs (the join keeps its partitioning); the other side reads it
    assert(c.exchanges === 1)
    assert(c.reusedExchanges === 1)
    assert(c.scansOf("reuse_table") === 1)
    assert(c.joins === Seq("SortMergeJoin"))
  }

  test("cached relations are walked into; broadcast joins are named") {
    val t = spark.read.parquet(table("target/plan_inspect", "cached_table"))
    val small = t.where(col("id") < 5).cache()
    try {
      val c = PlanInspect(t.join(broadcast(small.select(col("id").as("sid"))),
        col("id") === col("sid")))
      assert(c.scansOf("cached_table") === 2)
      assert(c.joins === Seq("BroadcastHashJoin"))
    } finally small.unpersist()
  }

  test("tableOf names the table, not its files, partitions or generations") {
    assert(PlanInspect.tableOf("/data/sf0.1/documents.parquet") === "documents")
    assert(PlanInspect.tableOf("/idx/postings/tok_bucket=3/part-0.snappy.parquet") === "postings")
    assert(PlanInspect.tableOf("/idx/dict/g9") === "dict")
  }
}
