package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AnswerClassifier, CacheJoinClassifier, Classify, DemoAnswerClassifier, SurveyPipeline}

/** The reference CLI, Spark-shaped (survey_analysis.py:452-496): same flags,
  * same dataflow, same cache semantics — a reference user points this at the
  * same CSV and gets the same wide/summary tables, written as partitioned
  * parquet instead of xlsx sheets (§7.4: the engine contract is DataFrames;
  * xlsx is presentation).
  *
  *   runMain graft.SurveyMain --input survey.csv --industry retail
  *     [--output analysis_output] [--cache .analysis_cache.parquet]
  *     [--xlsx report.xlsx] [--vader-lexicon vader_lexicon.txt]
  *
  * `--xlsx` additionally renders the reference's Excel report (O18 — data
  * sheets per product, Summary, chart helper sheets) via the OOXML sink;
  * `--vader-lexicon` switches demo sentiment to the ported VADER scorer
  * (the branch that produced the reference's shipped artifacts).
  *
  * Cache: a parquet table (industry, question, answer, sentiment, category)
  * probed via the anti-join rewrite of the reference's memo dict, and
  * written back after the run (the write-behind flush, once per batch —
  * lineage replaces the reference's every-200 mid-run flushes).
  */
object SurveyMain {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input is required"))
    val industry = opts.getOrElse("industry", sys.error("--industry is required"))
    val output = opts.getOrElse("output", "analysis_output")
    val cachePath = opts.getOrElse("cache", ".analysis_cache.parquet")
    val xlsx = opts.get("xlsx")
    val vaderLex = opts.get("vader-lexicon")
    val spark = GraftSession("graft-survey",
      Runtime.getRuntime.availableProcessors, sys.env.get("SPARK_MASTER"))
    run(spark, input, industry, output, cachePath, xlsx, vaderLex)
    spark.stop()
  }

  /** Programmatic entry (also the test surface). Returns (wide, summary). */
  def run(spark: SparkSession, input: String, industry: String,
      output: String, cachePath: String,
      xlsxPath: Option[String] = None,
      vaderLexicon: Option[String] = None): (DataFrame, DataFrame) = {
    val df = SurveyPipeline.readSurveyCsv(spark, input)
    val qcols = SurveyPipeline.questionColumns(df)

    // O4 diagnostic: sample answer per question (the reference's language
    // probe prints; :241-249)
    SurveyPipeline.sampleAnswers(df, qcols).foreach { case (q, s) =>
      System.err.println(s"[info] sample for '$q': ${s.getOrElse("<none>")}")
    }

    val cache = loadCache(spark, cachePath)
    val demo: AnswerClassifier = vaderLexicon match {
      case Some(path) => new graft.operators.VaderDemoClassifier(
        graft.functions.Vader.loadLexicon(path))
      case None => DemoAnswerClassifier
    }
    val clf = new CacheJoinClassifier(cache, demo)
    val wide = SurveyPipeline.analyzeWide(df, industry, clf)
    val summary = SurveyPipeline.buildSummary(wide)
    SurveyPipeline.writeReport(wide, summary, output)
    xlsxPath.foreach(p => SurveyPipeline.writeExcelReport(wide, p))

    // write-behind: the full (hits ∪ newly classified) mapping becomes the
    // next run's cache — written to a sibling path then swapped, because
    // overwriting an input path mid-lineage is undefined
    writeCache(spark, updatedCache(df, industry, qcols, clf), cachePath)
    (spark.read.parquet(s"$output/wide"), spark.read.parquet(s"$output/summary"))
  }

  /** All distinct classification keys of the frame, classified — with a
    * CacheJoinClassifier this is hits-from-cache ∪ fresh results. */
  def updatedCache(df: DataFrame, industry: String, qcols: Seq[String],
      clf: AnswerClassifier): DataFrame =
    clf.classify(Classify.keys(df, industry, qcols.map(q => q -> col(q))))

  /** The cache at `path`, or an empty one. A run killed inside
    * [[writeCache]], between its delete and its rename, leaves only the
    * complete staged copy; its swap is finished here, so the next run
    * starts from that cache rather than from an empty one (and can later
    * stage its own write without overwriting the files it reads). */
  def loadCache(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path); val staged = new Path(path + "._staged")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) && fs.exists(new Path(staged, "_SUCCESS"))) fs.rename(staged, p)
    if (fs.exists(p)) spark.read.parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "industry string, question string, answer string, sentiment string, category string"))
  }

  private def writeCache(spark: SparkSession, cache: DataFrame, path: String): Unit = {
    val p = new Path(path); val tmp = new Path(path + "._staged")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    cache.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(p)) fs.delete(p, true)
    fs.rename(tmp, p)
  }

  /** --flag value pairs; "--max-chars 600" style (flag names as in the
    * reference's argparse, :455-461). */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
