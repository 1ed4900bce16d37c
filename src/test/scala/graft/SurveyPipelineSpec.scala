package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.operators.{AnswerClassifier, CacheJoinClassifier, Classify, DemoAnswerClassifier, SurveyPipeline}

/** The reference dataflow on an adversarial synthetic survey frame
  * (FIXTURES.md A1 characteristics: multi-product, filler variants, emoji,
  * ES/EN mix, duplicate answers, empty Products). */
class SurveyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def surveyDf = Seq(
    ("a@x.com", "Ana", "Alpha Jacket, Beta Sneakers", "I love it", "too expensive"),
    ("b@x.com", "Bo", "Alpha Jacket", "n/a", "llegó tarde el envío 🙂"),
    ("c@x.com", "Cy", "", "great quality but late", "—"),
    ("d@x.com", "Di", "Beta Sneakers,  , Alpha Jacket", "I love it", ""),
  ).toDF("Email", "Name", "Products", "Q1 Opinion", "Q2  Delivery")

  /** A survey CSV in A1's shape with 6 question columns over 5 bases: null
    * and filler cells, emoji, a quoted multi-product cell, an empty Products
    * cell, and "Q4 Support" / "Q4  Support" sanitizing to the same base. */
  private val equivCsv = Seq(
    "Email,Name,Products,Q1 Opinion,Q2 Delivery,Q3 Price,Q4 Support,Q4  Support,Q5 Design",
    "a@x.com,Ana,\"Alpha Jacket, Beta Sneakers\",I love it,too expensive,n/a,great support 🙂,slow refund,me encanta el diseño",
    "b@x.com,Bo,Alpha Jacket,n/a,llegó tarde el envío 🙂,,N/A,,\"quality, but late\"",
    "c@x.com,Cy,,great quality but late,—,cheap and good,-,none,",
    "d@x.com,Di,\"Beta Sneakers,  , Alpha Jacket\",I love it,,\"price is high, poor\",😕,\"terrible \"\"support\"\"\",I love it",
    "e@x.com,Ed,Gamma Hat,,,,,,",
  ).mkString("\n")

  private def tmpDir(): String = {
    Files.createDirectories(Paths.get("target/tmp"))
    Files.createTempDirectory(Paths.get("target/tmp"), "survey").toAbsolutePath.toString
  }

  private def csvFile(dir: String, name: String, text: String): String = {
    val f = Paths.get(dir, name)
    Files.writeString(f, text)
    f.toString
  }

  /** Rows as sorted strings: an order-insensitive comparison of every column. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("\u0001")).toSeq.sorted

  test("productsArray: trim, drop empties, Unspecified fallback") {
    val arr = surveyDf.select(SurveyPipeline.productsArray(col("Products")).as("p"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(arr == List(
      List("Alpha Jacket", "Beta Sneakers"),
      List("Alpha Jacket"),
      List("Unspecified"),
      List("Beta Sneakers", "Alpha Jacket")))
  }

  test("analyzeWide: fan-out, triplet schema, classification") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail")
    assert(wide.count() == 2 + 1 + 1 + 2) // Σ max(1, #products)
    assert(wide.columns.toSeq == Seq("ResponseID", "Product",
      "Q1_Opinion_Answer", "Q1_Opinion_Sentiment", "Q1_Opinion_Category",
      "Q2_Delivery_Answer", "Q2_Delivery_Sentiment", "Q2_Delivery_Category"))
    val r1 = wide.where(col("ResponseID") === "1" && col("Product") === "Alpha Jacket").collect()(0)
    assert(r1.getAs[String]("Q1_Opinion_Sentiment") == "Positive")
    assert(r1.getAs[String]("Q2_Delivery_Sentiment") == "Negative") // "expensive" is a neg word
    assert(r1.getAs[String]("Q2_Delivery_Category") == "Price")
    val r2 = wide.where(col("ResponseID") === "2").collect()(0)
    assert(r2.getAs[String]("Q1_Opinion_Sentiment") == "Neutral")
    assert(r2.getAs[String]("Q1_Opinion_Category") == "No Feedback") // filler route
    assert(r2.getAs[String]("Q2_Delivery_Answer") == "llegó tarde el envío") // emoji stripped
    assert(r2.getAs[String]("Q2_Delivery_Sentiment") == "Negative") // tarde
    assert(r2.getAs[String]("Q2_Delivery_Category") == "Shipping")
    val r3 = wide.where(col("ResponseID") === "3").collect()(0)
    assert(r3.getAs[String]("Product") == "Unspecified")
    assert(r3.getAs[String]("Q1_Opinion_Sentiment") == "Mixed") // great + late
    assert(r3.getAs[String]("Q2_Delivery_Category") == "General") // em-dash is not filler
  }

  test("ResponseID: identical responses, and cells that only split differently, get different ids") {
    val same = ("a@x.com", "Ana", "Alpha Jacket", "I love it", "too expensive")
    val df = Seq(same, same,
      ("ab", "c", "Alpha Jacket", "I love it", "too expensive"),
      ("a", "bc", "Alpha Jacket", "I love it", "too expensive"),
    ).toDF("Email", "Name", "Products", "Q1 Opinion", "Q2  Delivery")
    val ids = SurveyPipeline.analyzeWide(df, "retail").select("ResponseID").as[String].collect()
    assert(ids.sorted.toSeq == Seq("1", "2", "3", "4"))
  }

  test("ResponseID is the 1-based input position: one-file CSV, 1-, 4-partition frames, 4-file CSV") {
    val rows = (1 to 10).map(i => Seq(s"r$i@x.com", "N", if (i % 3 == 0) "\"P1,P2\"" else "P1", s"answer $i"))
    val header = "Email,Name,Products,Q1"
    val dir = tmpDir()
    val oneFile = SurveyPipeline.readSurveyCsv(spark,
      csvFile(dir, "ids.csv", (header +: rows.map(_.mkString(","))).mkString("\n")))
    // four files of 2, 3, 2 and 3 rows: one scan partition each
    Files.createDirectories(Paths.get(dir, "parts"))
    Seq(0 -> 2, 2 -> 5, 5 -> 7, 7 -> 10).foreach { case (from, until) =>
      csvFile(dir, s"parts/ids$from.csv", (header +: rows.slice(from, until).map(_.mkString(","))).mkString("\n"))
    }
    val fourFiles = SurveyPipeline.readSurveyCsv(spark, s"$dir/parts")
    val frame = rows.map { case Seq(e, n, p, a) => (e, n, p.stripPrefix("\"").stripSuffix("\""), a) }
      .toDF("Email", "Name", "Products", "Q1")
    val cases = Seq("one-file CSV" -> oneFile, "1-partition frame" -> frame.coalesce(1),
      "4-partition frame" -> frame, "4-file CSV" -> fourFiles)
    assert(cases.map(_._2.rdd.getNumPartitions) == Seq(1, 1, 4, 4))
    for ((name, df) <- cases) {
      // input order is the order the input's scan yields its rows
      val expected = df.select("Q1").as[String].collect().zipWithIndex
        .map { case (a, i) => (i + 1).toString -> a }.toSeq
      val wide = SurveyPipeline.analyzeWide(df, "retail")
      assert(wide.count() == 13, name)
      val got = wide.select("ResponseID", "Q1_Answer").distinct().as[(String, String)].collect()
      assert(got.sortBy(_._1.toInt).toSeq == expected, name)
    }
    assert(cases.head._2.select("Q1").as[String].collect().toSeq == rows.map(_(3)))
  }

  test("ResponseID needs no job over a one-partition input and one count job over a wider one") {
    val dir = tmpDir()
    val rows = (1 to 4).map(i => s"r$i@x.com,N,P1,answer $i")
    val csv = csvFile(dir, "jobs.csv", ("Email,Name,Products,Q1" +: rows).mkString("\n"))
    Files.createDirectories(Paths.get(dir, "parts"))
    rows.indices.foreach(i => csvFile(dir, s"parts/p$i.csv", s"Email,Name,Products,Q1\n${rows(i)}"))
    for ((path, idJobs) <- Seq(csv -> 0, s"$dir/parts" -> 1)) {
      val df = SurveyPipeline.readSurveyCsv(spark, path)
      assert(jobsOf(SurveyPipeline.analyzeWide(df, "retail")) == idJobs, path)
      // the pinned distinct-key path: the id adds exactly those jobs to a caller's key
      val clf = new CacheJoinClassifier(
        SurveyMain.loadCache(spark, s"$dir/absent.parquet"), DemoAnswerClassifier)
      val withEmail = jobsOf(SurveyPipeline.analyzeWide(df, "retail", clf, idCol = Some(col("Email"))))
      assert(jobsOf(SurveyPipeline.analyzeWide(df, "retail", clf)) == withEmail + idJobs, path)
    }
  }

  test("buildSummary: counts pivot with fixed sentiment columns") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail")
    val sum = SurveyPipeline.buildSummary(wide)
    assert(sum.columns.toSeq == Seq("Product", "Question", "Positive", "Neutral", "Negative", "Mixed"))
    val alpha1 = sum.where(col("Product") === "Alpha Jacket" && col("Question") === "Q1_Opinion").collect()(0)
    // rows 1,2,4 hit Alpha Jacket: Positive (love), Neutral (filler), Positive (love)
    assert(alpha1.getAs[Long]("Positive") == 2)
    assert(alpha1.getAs[Long]("Neutral") == 1)
    assert(alpha1.getAs[Long]("Negative") == 0)
    // totals: summary counts = wide rows per (product, question)
    val total = sum.select((col("Positive") + col("Neutral") + col("Negative") + col("Mixed")).as("t"))
      .agg(org.apache.spark.sql.functions.sum("t")).collect()(0).getLong(0)
    assert(total == wide.count() * 2) // 2 questions
  }

  test("duplicate headers that sanitize identically collapse (last wins)") {
    val df = Seq(("e", "n", "P1", "love it", "hate it"))
      .toDF("Email", "Name", "Products", "Q A", "Q  A") // both sanitize to Q_A
    val wide = SurveyPipeline.analyzeWide(df, "retail")
    assert(wide.columns.count(_ == "Q_A_Sentiment") == 1)
    assert(wide.collect()(0).getAs[String]("Q_A_Sentiment") == "Negative") // last column wins
  }

  test("cache-join classifier: hits bypass inner, misses classified") {
    val cache = Seq(("retail", "Q1 Opinion", "I love it", "Negative", "CachedCat"))
      .toDF("industry", "question", "answer", "sentiment", "category")
    val clf = new CacheJoinClassifier(cache, DemoAnswerClassifier)
    val keys = Seq(
      ("retail", "Q1 Opinion", "I love it"),   // hit → cached (Negative)
      ("retail", "Q1 Opinion", "terrible")).toDF("industry", "question", "answer")
    val out = clf.classify(keys).collect().map(r =>
      r.getAs[String]("answer") -> (r.getAs[String]("sentiment"), r.getAs[String]("category"))).toMap
    assert(out("I love it") == ("Negative", "CachedCat"))
    assert(out("terrible") == ("Negative", "General"))
  }

  test("readSurveyCsv: quoted multiline/comma fields round-trip; arity enforced") {
    val dir = "target/tmp/csv_roundtrip"
    val tricky = Seq(
      ("a@x.com", "Ana", "P1,P2", "line one\nline two", "has, commas"),
      ("b@x.com", "Bo", "P1", "quote \" inside", "ok"),
    ).toDF("Email", "Name", "Products", "Q1", "Q2")
    tricky.write.mode("overwrite").option("header", "true").option("escape", "\"").csv(dir)
    val back = SurveyPipeline.readSurveyCsv(spark, dir)
    assert(back.count() == 2)
    val vals = back.collect().map(r => r.getAs[String]("Q1")).toSet
    assert(vals.contains("line one\nline two") && vals.contains("quote \" inside"))
    val narrowDir = "target/tmp/csv_narrow"
    tricky.select("Email", "Name", "Products").write.mode("overwrite")
      .option("header", "true").csv(narrowDir)
    intercept[IllegalArgumentException] {
      SurveyPipeline.readSurveyCsv(spark, narrowDir)
    }
  }

  test("JSON-lines source round-trip with explicit schema") {
    val dir = "target/tmp/json_roundtrip"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    val a = docs.select("doc_id", "text").orderBy("doc_id").collect()
    val b = back.select("doc_id", "text").orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("sampleAnswers: first non-blank value per question; all-blank → None") {
    val df = Seq(
      ("a", "n", "P", null.asInstanceOf[String], "  "),
      ("b", "n", "P", "first real", " "),
      ("c", "n", "P", "second", " "),
    ).toDF("Email", "Name", "Products", "QA", "QB")
    val s = SurveyPipeline.sampleAnswers(df, Seq("QA", "QB"))
    assert(s("QA").contains("first real"))
    assert(s("QB").isEmpty)
  }

  test("widthsOf: clamp(0.9*maxLen, 12, 60) over header + probe rows") {
    val rows = Seq(
      Seq("tiny", "x" * 100),
      Seq("ab", "y" * 200),
    )
    val w = SurveyPipeline.widthsOf(Seq("narrow", "wide"), rows, 12, 60)
    assert(w(0) == 12) // 0.9*6 → clamp up to 12
    assert(w(1) == 60) // 0.9*200 → clamp down to 60
  }

  test("writeReport: wide partitioned by Product, summary alongside, read-back intact") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail")
    val summary = SurveyPipeline.buildSummary(wide)
    val out = "target/tmp/report"
    SurveyPipeline.writeReport(wide, summary, out)
    val parts = new java.io.File(s"$out/wide").listFiles()
    assert(parts.exists(_.getName.startsWith("Product=")))
    val wideBack = spark.read.parquet(s"$out/wide")
    assert(wideBack.count() == wide.count())
    assert(spark.read.parquet(s"$out/summary").count() == summary.count())
  }

  test("empty-ish input: zero data rows still yields empty wide frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], surveyDf.schema)
    val wide = SurveyPipeline.analyzeWide(empty, "retail")
    assert(wide.count() == 0)
  }

  test("analyzeWide: inline demo ≡ cache join, cold and warm; updatedCache holds the wide keys") {
    val dir = tmpDir()
    val csv = csvFile(dir, "survey.csv", equivCsv)
    val df = SurveyPipeline.readSurveyCsv(spark, csv)
    val qcols = SurveyPipeline.questionColumns(df)
    val winners = SurveyPipeline.questionBases(qcols)
    val shadowed = qcols.diff(winners.map(_._2))
    assert(winners.length == 5 && shadowed == Seq("Q4 Support")) // precondition

    val cachePath = s"$dir/cache.parquet"
    SurveyMain.run(spark, csv, "retail", s"$dir/out", cachePath)
    val cold = new CacheJoinClassifier(
      SurveyMain.loadCache(spark, s"$dir/absent.parquet"), DemoAnswerClassifier)
    val warm = new CacheJoinClassifier(spark.read.parquet(cachePath), DemoAnswerClassifier)

    val inline = SurveyPipeline.analyzeWide(df, "retail", DemoAnswerClassifier)
    assert(inline.count() == 2 + 1 + 1 + 2 + 1)
    for (clf <- Seq(cold, warm)) {
      val wide = SurveyPipeline.analyzeWide(df, "retail", clf)
      assert(wide.columns.toSeq == inline.columns.toSeq)
      assert(rowsOf(wide) == rowsOf(inline))
    }

    // the keys the wide frame was classified from, read off its triplets
    val wideKeys = winners.map { case (base, q) =>
      inline.select(lit("retail"), lit(q), col(s"${base}_Answer"),
        col(s"${base}_Sentiment"), col(s"${base}_Category"))
    }.reduce(_ union _).distinct()
    for (clf <- Seq(cold, warm)) {
      val cache = SurveyMain.updatedCache(df, "retail", qcols, clf)
      assert(rowsOf(cache.where(!col("question").isin(shadowed: _*))) == rowsOf(wideKeys))
      // the shadowed header's answers are classified and cached too, as the
      // reference's per-column loop does
      assert(rowsOf(cache.where(col("question").isin(shadowed: _*))
        .select("industry", "question", "answer")) ==
        rowsOf(Classify.keys(df, "retail", shadowed.map(q => q -> col(q)))))
    }
    // the cache SurveyMain.run wrote is the same mapping
    assert(rowsOf(spark.read.parquet(cachePath)) ==
      rowsOf(SurveyMain.updatedCache(df, "retail", qcols, cold)))
  }

  test("cache-join analyzeWide scans the CSV at most 2q + 1 times, a constant more per question") {
    val dir = tmpDir()
    def scans(q: Int): Int = {
      val header = Seq("Email", "Name", "Products") ++ (1 to q).map(i => s"Q$i")
      val rows = (1 to 20).map(r => Seq(s"r$r@x.com", "N", "P1") ++ (1 to q).map(i => s"answer $r $i"))
      val csv = csvFile(dir, s"scans_q$q.csv", (header +: rows).map(_.mkString(",")).mkString("\n"))
      val df = SurveyPipeline.readSurveyCsv(spark, csv)
      // a warm cache, as on a second run: with an empty one the optimizer
      // drops the hits branch and would hide a plan that compounds
      val cold = new CacheJoinClassifier(
        SurveyMain.loadCache(spark, s"$dir/absent.parquet"), DemoAnswerClassifier)
      val cachePath = s"$dir/cache_q$q.parquet"
      SurveyMain.updatedCache(df, "retail", SurveyPipeline.questionColumns(df), cold)
        .write.parquet(cachePath)
      val clf = new CacheJoinClassifier(spark.read.parquet(cachePath), DemoAnswerClassifier)
      // the classify plan itself: analyzeWide returns it pinned, with no scan left
      PlanInspect(SurveyPipeline.wideFrame(df, "retail", clf)).scansOf(s"scans_q$q.csv")
    }
    val Seq(s3, s4, s5) = Seq(3, 4, 5).map(scans)
    assert(s5 <= 2 * 5 + 1)
    assert(s5 - s4 == s4 - s3)
  }

  test("the report sinks classify no key again: each cache miss is classified once per run") {
    val dir = tmpDir()
    val df = SurveyPipeline.readSurveyCsv(spark, csvFile(dir, "survey.csv", equivCsv))
    val evaluated = spark.sparkContext.longAccumulator("classified keys")
    val clf = new CacheJoinClassifier(
      SurveyMain.loadCache(spark, s"$dir/absent.parquet"),
      new SurveyPipelineSpec.CountingClassifier(evaluated))
    val wide = SurveyPipeline.analyzeWide(df, "retail", clf)
    SurveyPipeline.writeReport(wide, SurveyPipeline.buildSummary(wide), s"$dir/out")
    SurveyPipeline.writeExcelReport(wide, s"$dir/report.xlsx")
    // a cold cache misses every key: the distinct answers of each classified column
    val misses = SurveyPipeline.questionBases(SurveyPipeline.questionColumns(df)).map {
      case (_, q) => Classify.keys(df, "retail", Seq(q -> col(q))).count()
    }.sum
    assert(evaluated.value == misses)
  }
}

object SurveyPipelineSpec {
  /** The demo classifier, counting every key it evaluates. */
  final class CountingClassifier(evaluated: LongAccumulator) extends AnswerClassifier {
    override def classify(keys: DataFrame): DataFrame = {
      val acc = evaluated
      val counted = udf { (answer: String) => acc.add(1); answer }.asNondeterministic()
      DemoAnswerClassifier.classify(keys.withColumn("answer", counted(col("answer"))))
    }
  }
}
