package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end CLI flow: CSV in → wide/summary parquet out, memo-cache
  * persisted and effective on the second run. */
class SurveyMainSpec extends SparkSpec {
  import spark.implicits._

  test("run: outputs written, cache persisted, second run served from cache") {
    val base = "target/tmp/survey_main"
    val csvDir = s"$base/in"
    Seq(
      ("a@x.com", "Ana", "Alpha,Beta", "I love it", "too expensive"),
      ("b@x.com", "Bo", "Alpha", "n/a", "great support team"),
    ).toDF("Email", "Name", "Products", "Q1 Opinion", "Q2 Service")
      .write.mode("overwrite").option("header", "true").csv(csvDir)

    val out = s"$base/out"; val cache = s"$base/cache.parquet"
    val (wide, summary) = SurveyMain.run(spark, csvDir, "retail", out, cache)
    assert(wide.count() == 3) // 2 + 1 product fan-out
    assert(summary.columns.toSeq ==
      Seq("Product", "Question", "Positive", "Neutral", "Negative", "Mixed"))

    // --xlsx flag renders the O18 report alongside the parquet sink
    val report = s"$base/report.xlsx"
    SurveyMain.run(spark, csvDir, "retail", out, cache, xlsxPath = Some(report))
    val sheets = XlsxRead.sheetNames(report)
    assert(sheets.contains("Summary") && sheets.exists(_.startsWith("Charts - ")))
    assert(XlsxRead.cells(report, sheets.indexOf("Summary") + 1)("A1") == "Product")

    val cached = spark.read.parquet(cache)
    // distinct (question, answer) pairs across 2 questions x 2 rows
    assert(cached.count() == 4)
    assert(cached.where(col("answer") === "I love it" && col("sentiment") === "Positive").count() == 1)

    // poison the cache for one key: a second run must serve the poisoned
    // value (proof the join, not the classifier, supplies hits)
    cached.withColumn("sentiment",
        when(col("answer") === "I love it", lit("Negative")).otherwise(col("sentiment")))
      .write.mode("overwrite").parquet(s"$base/cache2.parquet")
    val (wide2, _) = SurveyMain.run(spark, csvDir, "retail", out, s"$base/cache2.parquet")
    val r = wide2.where(col("Q1_Opinion_Answer") === "I love it").collect()
    assert(r.nonEmpty && r.forall(_.getAs[String]("Q1_Opinion_Sentiment") == "Negative"))
  }

  test("run: the xlsx sink adds no CSV scan, the wide frame is classified once") {
    val base = Paths.get("target/tmp/survey_main_scans")
    Files.createDirectories(base)
    val csv = Files.writeString(base.resolve("survey.csv"), Seq(
      "Email,Name,Products,Q1 Opinion,Q2 Service",
      "a@x.com,Ana,\"Alpha,Beta\",I love it,too expensive",
      "b@x.com,Bo,Alpha,n/a,great support team",
      "c@x.com,Cy,,late again,I love it").mkString("\n")).toString
    val cache = s"$base/cache.parquet"
    def csvScans(xlsx: Option[String]): Int = fileScans("survey.csv") {
      SurveyMain.run(spark, csv, "retail", s"$base/out", cache, xlsx)
    }
    csvScans(None) // warms the cache, so both counted runs hit it
    val parquetOnly = csvScans(None)
    assert(parquetOnly > 0)
    assert(csvScans(Some(s"$base/report.xlsx")) == parquetOnly)
  }

  test("run: the input-position ResponseID adds no job over a one-file CSV") {
    val base = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target/tmp")), "survey_jobs")
    val csv = Files.writeString(base.resolve("survey.csv"), Seq(
      "Email,Name,Products,Q1 Opinion,Q2 Service",
      "a@x.com,Ana,\"Alpha,Beta\",I love it,too expensive",
      "b@x.com,Bo,Alpha,n/a,great support team",
      "a@x.com,Ana,\"Alpha,Beta\",I love it,too expensive",
      "c@x.com,Cy,,late again,I love it").mkString("\n")).toString
    val cache = s"$base/cache.parquet"
    def jobs(): Int = jobsOf(SurveyMain.run(spark, csv, "retail", s"$base/out", cache, Some(s"$base/r.xlsx")))
    // a cold run, then warm ones; over a one-partition input the id itself
    // launches no job
    assert(Seq(jobs(), jobs(), jobs()) == Seq(32, 37, 37))
  }

  test("loadCache: a run killed between writeCache's delete and rename keeps its cache") {
    val base = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target/tmp")), "survey_staged").toString
    val csv = Files.writeString(Paths.get(base, "survey.csv"), Seq(
      "Email,Name,Products,Q1 Opinion,Q2 Service",
      "a@x.com,Ana,Alpha,I love it,great support team").mkString("\n")).toString
    // the entry a classifier would never give, so a hit is visible in the output
    val entry = ("retail", "Q1 Opinion", "I love it", "Negative", "Poisoned")
    val cache = s"$base/cache.parquet"
    // killed before the staged write finished: no _SUCCESS, an empty cache
    Seq(entry).toDF("industry", "question", "answer", "sentiment", "category")
      .write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(s"$cache._staged")
    assert(SurveyMain.loadCache(spark, cache).count() == 0)
    // killed after the delete: only the complete staged copy is on disk
    Seq(entry).toDF("industry", "question", "answer", "sentiment", "category")
      .write.mode("overwrite").parquet(s"$cache._staged")
    assert(!Files.exists(Paths.get(cache)))
    assert(SurveyMain.loadCache(spark, cache).as[(String, String, String, String, String)]
      .collect().toSeq == Seq(entry))
    // the next run serves it and writes its own cache over it
    val (wide, _) = SurveyMain.run(spark, csv, "retail", s"$base/out", cache)
    assert(wide.select("Q1_Opinion_Category").as[String].collect().toSeq == Seq("Poisoned"))
    assert(spark.read.parquet(cache).where(col("category") === "Poisoned").count() == 1)
    assert(!Files.exists(Paths.get(s"$cache._staged")))
  }

  test("parseArgs handles the reference's flag shapes") {
    val m = SurveyMain.parseArgs(Array("--input", "a.csv", "--industry", "retail", "--max-chars", "600"))
    assert(m == Map("input" -> "a.csv", "industry" -> "retail", "max-chars" -> "600"))
  }

  /** File scans of `table` over every SQL action `body` runs, counted on the
    * executed plans a [[QueryExecutionListener]] receives. */
  private def fileScans(table: String)(body: => Unit): Int = {
    val scans = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans.addAndGet(PlanInspect(qe.executedPlan).scansOf(table))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; drainListenerBus() }
    finally spark.listenerManager.unregister(listener)
    scans.get
  }
}
