package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.{Lexicons, TextExprs}

/** The reference's fixed ETL dataflow (survey_analysis.py:223-354), decomposed
  * into reusable, scale-out DataFrame operators:
  *
  *   CSV scan → validate → clean → filler-route → classify → explode(products)
  *   → wide triplets → unpivot → group-count → pivot summary
  *
  * Each stage is a `DataFrame => DataFrame` combinator so the harness can
  * exercise them independently and the flagship pipeline composes them.
  */
object SurveyPipeline {

  /** O1 — CSV scan (survey_analysis.py:463-469). multiLine + escape handle
    * quoted commas/newlines present in the sample corpus. */
  def readSurveyCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)
    require(df.columns.length >= 4,
      s"Input needs >= 4 columns (Email, Name, Products, questions...); got ${df.columns.length}") // :471-473
    df
  }

  /** O3 — positional projection: question columns = all after the first 3
    * (survey_analysis.py:86-88). */
  def questionColumns(df: DataFrame): Seq[String] =
    if (df.columns.length > 3) df.columns.drop(3).toSeq else Seq.empty

  /** Question header → (base, header) preserving the reference's duplicate
    * semantics (survey_analysis.py:288,296): dict keyed by sanitized base —
    * first-occurrence position, last-occurrence value wins. */
  def questionBases(qcols: Seq[String]): Seq[(String, String)] = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, String]
    qcols.foreach(q => order.update(TextExprs.sanitizeBase(q), q))
    order.toSeq
  }

  /** O4 — first non-null, non-blank sample answer per question column (the
    * reference's language-probe diagnostic, survey_analysis.py:241-249).
    * One aggregate pass over all columns — not a per-column job. */
  def sampleAnswers(df: DataFrame, qcols: Seq[String]): Map[String, Option[String]] =
    if (qcols.isEmpty) Map.empty
    else {
      val aggs = qcols.map(q =>
        first(when(trim(coalesce(col(q), lit(""))) =!= "", col(q)), ignoreNulls = true).as(q))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      qcols.zipWithIndex.map { case (q, i) => q -> Option(row.getString(i)) }.toMap
    }

  /** O8 — comma-split multi-value product list; empty → ["Unspecified"]
    * (survey_analysis.py:276-277). Products truncated to 100 chars (:292). */
  def productsArray(c: Column): Column = {
    val arr = filter(transform(split(coalesce(c, lit("")), ","), t => trim(t)), t => t =!= "")
    when(size(arr) === 0, array(lit("Unspecified")))
      .otherwise(transform(arr, p => substring(p, 1, 100)))
  }

  /** O9 — ResponseID: the response's 1-based input position as a string,
    * the reference's `str(idx+1)` (survey_analysis.py:292). Built as an
    * expression over the input frame: `monotonically_increasing_id` numbers
    * each partition's rows from 0 in its low 33 bits, and a per-partition
    * offset (the rows of every earlier partition) makes that global. A
    * one-partition input, such as a one-file CSV, needs no offsets and so
    * no job; a wider one runs one job that counts each partition's rows.
    * The input's partitioning must be the same in that count and in the
    * plan that uses the ids, which holds for a file scan and a local
    * relation. The frame is not rebuilt from an RDD: that would be planned
    * at `spark.sql.defaultSizeInBytes`, and the distinct-key join-backs
    * would lose their planned broadcast. */
  private def withResponseId(df: DataFrame): DataFrame = {
    val rows = df.queryExecution.toRdd
    val offsets =
      if (rows.getNumPartitions <= 1) Seq(0L)
      else rows.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq.scanLeft(0L)(_ + _)
    val position = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) +
      element_at(typedLit(offsets), spark_partition_id() + 1) + 1
    df.withColumn("ResponseID", position.cast(StringType))
  }

  /** O5+O6+O8+O10 — the wide analysis table (survey_analysis.py:275-317):
    * one row per (response × product); per question a
    * <Base>_Answer/_Sentiment/_Category triplet. Pure expression pipeline —
    * scan → explode is the only shuffle-free fan-out; classification stays in
    * codegen via the demo expression classifier (or is delegated to `clf`,
    * which computes on distinct keys and joins back — O7).
    *
    * The distinct-key path returns the frame pinned once (an eager
    * `localCheckpoint`): the report sinks run five actions over it, and a
    * lazy frame would re-run the CSV scan, the cache joins and the
    * classifier for each. `localCheckpoint`, not `cache()`: a cached plan is
    * matched by plan, so a later run over the same CSV and cache paths would
    * reuse this run's classification even after either file changed; the
    * checkpoint's blocks belong to this frame and are released when it is
    * garbage collected. The inline demo path stays lazy: it has no join to
    * repeat, and its callers run one action over it.
    */
  def analyzeWide(
      dfIn: DataFrame,
      industry: String,
      clf: AnswerClassifier = DemoAnswerClassifier,
      idCol: Option[Column] = None,
  ): DataFrame = {
    val wide = wideFrame(dfIn, industry, clf, idCol)
    if (clf == DemoAnswerClassifier) wide else wide.localCheckpoint()
  }

  /** [[analyzeWide]]'s lazy plan, before the distinct-key path's pin (the
    * plan-shape tests read its scans). */
  private[graft] def wideFrame(
      dfIn: DataFrame,
      industry: String,
      clf: AnswerClassifier,
      idCol: Option[Column] = None,
  ): DataFrame = {
    require(dfIn.columns.length >= 4, "need >= 4 columns")
    val productsCol = dfIn.columns(2)
    val qcols = questionColumns(dfIn)
    val bases = questionBases(qcols)

    // idCol: a caller-supplied key costs nothing; otherwise the input position
    val withId = idCol match {
      case Some(c) => dfIn.withColumn("ResponseID", c.cast(StringType))
      case None => withResponseId(dfIn)
    }
    val exploded = withId.withColumn("Product", explode(productsArray(col(productsCol))))

    // Demo classifier inlines as expressions; other classifiers go through
    // the distinct-key join, all questions in one call.
    val analyzed = clf match {
      case DemoAnswerClassifier =>
        // staged classify per question: keeps each regex scan evaluated once
        bases.foldLeft(exploded) { case (d, (base, q)) =>
          TextExprs.withClassification(d, col(q), s"${base}__cls")
        }
      case other =>
        Classify.applyTo(exploded, industry,
          bases.map { case (base, q) => (q, col(q), s"${base}__cls") }, other)
    }

    val tripletCols = bases.flatMap { case (base, q) =>
      Seq(
        TextExprs.cleanText(col(q)).as(s"${base}_Answer"),
        col(s"${base}__cls").getField("sentiment").as(s"${base}_Sentiment"),
        col(s"${base}__cls").getField("category").as(s"${base}_Category"))
    }
    analyzed.select(col("ResponseID") +: col("Product") +: tripletCols: _*)
  }

  /** O11–O13 — summary: unpivot every *_Sentiment column to long form, count,
    * pivot to fixed sentiment columns (survey_analysis.py:323-354). Blank
    * sentiment coalesces to "Neutral" (:334); explicit pivot values give the
    * zero backfill and fixed order (:347-354) and skip the distinct-values
    * job. */
  def buildSummary(wide: DataFrame): DataFrame = {
    val sentCols = wide.columns.filter(_.endsWith("_Sentiment"))
    require(sentCols.nonEmpty, "wide frame has no *_Sentiment columns")
    val longDf = wide
      .unpivot(Array(col("Product")), sentCols.map(col), "QuestionCol", "SentimentRaw")
      .select(
        col("Product"),
        expr("substring(QuestionCol, 1, length(QuestionCol) - 10)").as("Question"), // strip "_Sentiment"
        coalesce(nullif(trim(col("SentimentRaw")), lit("")), lit("Neutral")).as("Sentiment"))
    longDf
      .groupBy("Product", "Question")
      .pivot("Sentiment", Lexicons.SentimentOrder)
      .count()
      .na.fill(0, Lexicons.SentimentOrder)
  }

  /** Per-product top-k complaint themes — the one reference README feature
    * described but never implemented in its code ("highlight top complaint
    * themes ... per product", README.md:26-27; survey_analysis.py stops at
    * the sentiment pivot). Composes the wide frame's `*_Sentiment` /
    * `*_Category` column pairs with the q07 window-top-k shape: unpivot
    * both traits side by side (struct-valued unpivot keeps each question's
    * sentiment and category in the same row), keep Negative answers, count
    * (Product, theme), rank within product by (n desc, theme asc — a total
    * order). The window partitions by Product, so no single-partition sort
    * exists at any product cardinality; the unpivot is a narrow per-row
    * explode. Output: (Product, theme, n_complaints, rank ≤ k). */
  def topThemes(wide: DataFrame, k: Int): DataFrame = {
    val questions = wide.columns.filter(_.endsWith("_Sentiment"))
      .map(_.stripSuffix("_Sentiment"))
    require(questions.nonEmpty, "wide frame has no *_Sentiment columns")
    val pairs = wide.select(col("Product"),
      explode(array(questions.map(q => struct(
        col(q + "_Sentiment").as("s"), col(q + "_Category").as("c"))): _*)).as("qc"))
    val counts = pairs
      .where(col("qc.s") === "Negative")
      .groupBy(col("Product"), col("qc.c").as("theme"))
      .agg(count(lit(1)).as("n_complaints"))
    counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("Product")
          .orderBy(col("n_complaints").desc, col("theme").asc)))
      .where(col("rank") <= k)
  }

  /** O14/O18 — data sink: partition the wide table by product (the scalable
    * analog of one-sheet-per-product) + the summary alongside. */
  def writeReport(wide: DataFrame, summary: DataFrame, outDir: String): Unit = {
    wide.write.mode("overwrite").partitionBy("Product").parquet(s"$outDir/wide")
    summary.write.mode("overwrite").parquet(s"$outDir/summary")
  }

  /** O18 — the reference's Excel report (survey_analysis.py:370-446), on the
    * zip+XML writer (sources.Xlsx): one data sheet per product (rows sorted
    * by ResponseID, `*_Answer` columns wrap/valign-top, widths =
    * clamp(0.9·maxLen, 12, 60) probed over the first 1000 rows — :360-365,
    * :385-394), a `Summary` sheet (widths clamped 10..40 — :396-402), and a
    * `Charts - <product>` sheet per product carrying each question's
    * sentiment helper block at the reference's exact cell positions
    * (:417-423) AND the pie charts themselves (DrawingML chart parts
    * referencing the helper blocks, category+percentage data labels,
    * reference grid placement — :427-444).
    *
    * Scale contract: a single .xlsx is a driver-side artifact by format
    * (one zip stream, 2^20-row sheet limit) — this collects, and REFUSES
    * frames beyond `maxRows` rather than silently truncating. Bulk data
    * belongs to the partitioned parquet sink ([[writeReport]]); this sink
    * renders the human report.
    */
  def writeExcelReport(wide: DataFrame, outPath: String,
      baseToDisplay: Map[String, String] = Map.empty,
      maxRows: Int = graft.sources.Xlsx.MaxRows - 1): Unit = {
    import graft.sources.Xlsx
    val header = wide.columns.toSeq
    require(header.take(2) == Seq("ResponseID", "Product"),
      "writeExcelReport expects an analyzeWide frame")
    val n = wide.count()
    require(n <= maxRows,
      s"xlsx report sink is for report-sized frames: $n rows > $maxRows " +
        "(use writeReport's partitioned parquet for bulk data)")
    // one driver-side collect, pre-sorted to the reference's sheet order:
    // groupby("Product") iterates sorted keys, each sheet sorted by
    // ResponseID (a STRING sort, as the reference's: ids are str(idx+1))
    val rows = wide.orderBy("Product", "ResponseID").collect()
      .map(r => header.indices.map(r.get))
    val byProduct = rows.groupBy(_(1).asInstanceOf[String]).toSeq.sortBy(_._1)
    val wrapCols = header.indices.filter(i => header(i).endsWith("_Answer")).toSet

    val dataSheets = byProduct.map { case (prod, rs) =>
      Xlsx.Table(TextExprs.sanitizeSheetName(prod), header, rs.toSeq,
        widthsOf(header, rs.toSeq, 12, 60), wrapCols)
    }

    val summaryCols = Seq("Product", "Question") ++ Lexicons.SentimentOrder
    val summaryRows = buildSummary(wide).orderBy("Product", "Question").collect()
      .map(r => summaryCols.map(c => r.get(r.fieldIndex(c))))
    val summarySheet = Xlsx.Table("Summary", summaryCols, summaryRows.toSeq,
      widthsOf(summaryCols, summaryRows.toSeq, 10, 40))

    // chart helper blocks: labels at col 50, values at col 51, one 6-row
    // block per question starting at row 2 (0-based) — survey_analysis.py:417
    // — plus the pie itself (DrawingML part referencing the block), placed
    // on the reference's 2-charts-per-row grid (:439-444)
    val chartSheets = summaryRows.groupBy(_.head.asInstanceOf[String]).toSeq.sortBy(_._1)
      .map { case (prod, prodRows) =>
        val sheetName = TextExprs.sanitizeSheetName(s"Charts - $prod")
        val title = (0, 0, s"Sentiment Mix per Question — $prod", Xlsx.StyleBold)
        val sortedRows = prodRows.sortBy(_(1).asInstanceOf[String])
        val blocks = sortedRows.zipWithIndex.flatMap { case (row, i) =>
          val startR = 2 + i * 6
          Lexicons.SentimentOrder.zipWithIndex.flatMap { case (snt, k) =>
            Seq(
              (startR + k, 50, snt: Any, Xlsx.StyleDefault),
              (startR + k, 51, row(2 + k), Xlsx.StyleDefault))
          }
        }
        val pies = sortedRows.zipWithIndex.map { case (row, i) =>
          val base = row(1).asInstanceOf[String]
          val display = baseToDisplay.getOrElse(base, base)
          val values = Lexicons.SentimentOrder.indices.map(k =>
            row(2 + k).asInstanceOf[Long])
          Xlsx.Pie(
            title = s"$display – Sentiment Mix (n=${values.sum})",
            seriesName = s"$display – Sentiment Mix",
            sheetRef = sheetName,
            firstRow = 3 + i * 6,
            labels = Lexicons.SentimentOrder,
            values = values,
            fromCol = 1 + (i % 2) * 9,
            fromRow = 2 + (i / 2) * 20)
        }
        Xlsx.Sparse(sheetName, title +: blocks.toSeq, pies.toSeq)
      }

    Xlsx.write(outPath, (dataSheets :+ summarySheet) ++ chartSheets)
  }

  /** The reference's presentation width rule (survey_analysis.py:360-365):
    * clamp(0.9 · max(len(header), max value length over the first `probe`
    * rows), minW, maxW), computed on already-collected report rows. */
  private[graft] def widthsOf(header: Seq[String], rows: Seq[Seq[Any]],
      minW: Int, maxW: Int, probe: Int = 1000): Seq[Double] =
    header.indices.map { i =>
      val vals = rows.iterator.take(probe).map(r => String.valueOf(r(i)).length)
      val maxLen = (Iterator(header(i).length) ++ vals).max
      math.min(maxW, math.max(minW, (0.9 * maxLen).toInt)).toDouble
    }
}
