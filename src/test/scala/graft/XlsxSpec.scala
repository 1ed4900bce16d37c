package graft

import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import graft.operators.SurveyPipeline
import graft.sources.Xlsx

/** The xlsx report sink, verified at its real surface: workbooks are
  * re-OPENED with an independent mini OOXML reader (JDK zip + DOM — no part
  * of the writer is reused) and compared cell-by-cell; the report layout is
  * compared against the reference's shipped golden workbook
  * (/root/reference/"Example analysis output.xlsx", read the same way). */
object XlsxRead {

  private def dom(zf: ZipFile, part: String): org.w3c.dom.Document = {
    val e = zf.getEntry(part)
    require(e != null, s"missing workbook part: $part")
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    val in = zf.getInputStream(e)
    try f.newDocumentBuilder().parse(in) finally in.close()
  }

  private def elems(d: org.w3c.dom.Document, tag: String): Seq[org.w3c.dom.Element] = {
    val nl = d.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[org.w3c.dom.Element])
  }

  def sheetNames(path: String): Seq[String] = {
    val zf = new ZipFile(path)
    try elems(dom(zf, "xl/workbook.xml"), "sheet").map(_.getAttribute("name"))
    finally zf.close()
  }

  /** Sheet cells as (ref → value-string); t="s" resolved via sharedStrings,
    * t="inlineStr" via the embedded text, numbers as their raw <v>. */
  def cells(path: String, sheetIdx1: Int): Map[String, String] = {
    val zf = new ZipFile(path)
    try {
      val shared: IndexedSeq[String] =
        if (zf.getEntry("xl/sharedStrings.xml") == null) IndexedSeq.empty
        else elems(dom(zf, "xl/sharedStrings.xml"), "si").map(_.getTextContent).toIndexedSeq
      elems(dom(zf, s"xl/worksheets/sheet$sheetIdx1.xml"), "c").flatMap { c =>
        val ref = c.getAttribute("r")
        val t = c.getAttribute("t")
        val body = c.getTextContent
        val v = t match {
          case "s" => Some(shared(body.trim.toInt))
          case "inlineStr" => Some(body)
          case _ if body.nonEmpty => Some(body)
          case _ => None
        }
        v.map(ref -> _)
      }.toMap
    } finally zf.close()
  }

  /** Column values aligned by row number (1..maxRow over the whole sheet),
    * "" for rows where the cell is absent — blank cells are simply not
    * written by either writer, so positional alignment needs the row ref. */
  def column(cells: Map[String, String], col: String): Seq[String] = {
    val maxRow = cells.keys.map(_.dropWhile(_.isLetter).toInt).maxOption.getOrElse(0)
    (1 to maxRow).map(r => cells.getOrElse(s"$col$r", ""))
  }
}

class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private val golden = ReferenceAssets.GoldenWorkbook
  private val csv = ReferenceAssets.SurveyCsv

  /** The golden workbook and survey csv are reference artifacts — skip
    * cleanly, don't fail, without them. */
  private def assumeRef(): Unit = ReferenceAssets.assume(golden, csv)

  private def writtenReport: String = {
    val out = "target/tmp/report.xlsx"
    new java.io.File("target/tmp").mkdirs()
    val wide = SurveyPipeline.analyzeWide(
      PandasNa(SurveyPipeline.readSurveyCsv(spark, csv)), "apparel")
    SurveyPipeline.writeExcelReport(wide, out)
    out
  }

  test("writer round-trips values, types, unicode and XML-hostile strings") {
    val out = "target/tmp/roundtrip.xlsx"
    new java.io.File("target/tmp").mkdirs()
    Xlsx.write(out, Seq(
      Xlsx.Table("T&name", Seq("a", "b <tag>"),
        Seq(Seq("x & <y> \"z\"", 42L), Seq("émoji 🙂 ok", 2.5)),
        colWidths = Seq(12.0, 20.0), wrapCols = Set(0)),
      Xlsx.Sparse("S", Seq((0, 0, "title", Xlsx.StyleBold), (4, 50, 7L, 0)))))
    assert(XlsxRead.sheetNames(out) == Seq("T&name", "S"))
    val t = XlsxRead.cells(out, 1)
    assert(t("A1") == "a" && t("B1") == "b <tag>")
    assert(t("A2") == "x & <y> \"z\"" && t("B2") == "42")
    assert(t("A3") == "émoji 🙂 ok" && t("B3") == "2.5")
    val s = XlsxRead.cells(out, 2)
    assert(s("A1") == "title" && s("AY5") == "7")
  }

  test("report sheet names match the golden workbook exactly") {
    assumeRef()
    assert(XlsxRead.sheetNames(writtenReport) == XlsxRead.sheetNames(golden))
  }

  test("Summary sheet layout matches the golden workbook (header + row labels)") {
    assumeRef()
    val ours = XlsxRead.cells(writtenReport, 7)
    val gold = XlsxRead.cells(golden, 7)
    // header row identical
    Seq("A1", "B1", "C1", "D1", "E1", "F1").foreach(r => assert(ours(r) == gold(r), r))
    // same (Product, Question) rows in the same order; counts themselves
    // differ by documented sentiment-branch divergence (SURVEY.md §7.5)
    assert(XlsxRead.column(ours, "A") == XlsxRead.column(gold, "A"))
    assert(XlsxRead.column(ours, "B") == XlsxRead.column(gold, "B"))
    // every count cell is a non-negative integer and rows sum to product n
    val counts = Seq("C", "D", "E", "F").map(XlsxRead.column(ours, _).drop(1).map(_.toLong))
    assert(counts.flatten.forall(_ >= 0))
  }

  test("data sheets carry the golden workbook's rows: ResponseID and answers align") {
    assumeRef()
    val ours = XlsxRead.cells(writtenReport, 1) // Alpha Jacket
    val gold = XlsxRead.cells(golden, 1)
    Seq("A1", "B1", "C1").foreach(r => assert(ours(r) == gold(r), r)) // header starts ResponseID, Product, Q1_Answer
    assert(XlsxRead.column(ours, "A") == XlsxRead.column(gold, "A")) // same rows, same ResponseID sort
    assert(XlsxRead.column(ours, "B").drop(1).toSet == Set("Alpha Jacket"))
    // answers are the same cleaned strings the reference wrote
    assert(XlsxRead.column(ours, "C") == XlsxRead.column(gold, "C"))
  }

  test("chart sheets carry the reference's helper blocks at the exact cells") {
    assumeRef()
    val out = writtenReport
    val names = XlsxRead.sheetNames(out)
    val chartIdx = names.indexWhere(_.startsWith("Charts - ")) + 1
    val c = XlsxRead.cells(out, chartIdx)
    assert(c("A1").startsWith("Sentiment Mix per Question"))
    // question block 0 = rows 3-6 (start_r=2 0-based), labels AY, values AZ;
    // block 1 starts at row 9 — the golden workbook's exact geometry
    assert((3 to 6).map(r => c(s"AY$r")) == Seq("Positive", "Neutral", "Negative", "Mixed"))
    assert(c.contains("AZ3") && c("AZ3").toLong >= 0)
    assert(c.contains("AY9"), "second question block must start at row 9")
  }

  test("VADER-scored report matches the golden workbook on EVERY Summary cell") {
    assumeRef()
    // the shipped workbook was produced by the reference's VADER demo
    // branch; with the ported scorer the sentiment COUNTS must now agree
    // cell-for-cell, not just structurally
    val lex = graft.functions.Vader.loadLexicon(ReferenceAssets.VaderLexicon)
    val out = "target/tmp/report_vader.xlsx"
    val wide = SurveyPipeline.analyzeWide(
      PandasNa(SurveyPipeline.readSurveyCsv(spark, csv)), "Apparel",
      new graft.operators.VaderDemoClassifier(lex))
    SurveyPipeline.writeExcelReport(wide, out)
    val names = XlsxRead.sheetNames(out)
    assert(names == XlsxRead.sheetNames(golden))
    val summaryIdx = names.indexOf("Summary") + 1
    val ours = XlsxRead.cells(out, summaryIdx)
    val gold = XlsxRead.cells(golden, summaryIdx)
    Seq("A", "B", "C", "D", "E", "F").foreach { c =>
      assert(XlsxRead.column(ours, c) == XlsxRead.column(gold, c), s"Summary column $c")
    }
    // data sheets: sentiment columns now also match the golden workbook
    val dataOurs = XlsxRead.cells(out, 1)
    val dataGold = XlsxRead.cells(golden, 1)
    Seq("A", "C", "D").foreach { c => // ResponseID, Q1_Answer, Q1_Sentiment
      assert(XlsxRead.column(dataOurs, c) == XlsxRead.column(dataGold, c), s"data column $c")
    }
    // chart helper VALUES match golden too
    val chartOurs = XlsxRead.cells(out, names.indexWhere(_.startsWith("Charts")) + 1)
    val chartGold = XlsxRead.cells(golden, 8)
    Seq("AY", "AZ").foreach { c =>
      assert(XlsxRead.column(chartOurs, c) == XlsxRead.column(chartGold, c), s"chart column $c")
    }
    // maximal parity: EVERY cell of EVERY data sheet (6 products x 17
    // columns: ResponseID, Product, 5 x Answer/Sentiment/Category)
    (1 to 6).foreach { sheet =>
      val o = XlsxRead.cells(out, sheet)
      val g = XlsxRead.cells(golden, sheet)
      val cols = (0 until 17).map(graft.sources.Xlsx.colLetters)
      cols.foreach { c =>
        assert(XlsxRead.column(o, c) == XlsxRead.column(g, c),
          s"sheet ${names(sheet - 1)} column $c")
      }
    }
    // pie chart parts: same count as golden; chart1 matches semantically
    // (title, series ranges, cached categories and values)
    def chartInfo(path: String): (String, Seq[String], Seq[String]) = {
      val zf = new ZipFile(path)
      try {
        val d = {
          val e = zf.getEntry("xl/charts/chart1.xml")
          assert(e != null, s"$path missing chart1.xml")
          val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
          val in = zf.getInputStream(e)
          try f.newDocumentBuilder().parse(in) finally in.close()
        }
        def texts(tag: String) = {
          val nl = d.getElementsByTagName(tag)
          (0 until nl.getLength).map(nl.item(_).getTextContent)
        }
        (texts("a:t").mkString, texts("c:f"), texts("c:v"))
      } finally zf.close()
    }
    val (tO, fO, vO) = chartInfo(out)
    val (tG, fG, vG) = chartInfo(golden)
    assert(tO == tG, s"chart title: $tO vs $tG")
    assert(fO == fG, s"chart ranges: $fO vs $fG")
    assert(vO == vG, s"chart cached series/values: $vO vs $vG")
    def nCharts(path: String): Int = {
      val zf = new ZipFile(path)
      try zf.entries().asScala.count(_.getName.startsWith("xl/charts/")) finally zf.close()
    }
    assert(nCharts(out) == nCharts(golden))
  }

  test("sink refuses frames beyond the xlsx row limit instead of truncating") {
    val wide = Seq(("1", "P", "a", "Neutral", "General"))
      .toDF("ResponseID", "Product", "Q1_Answer", "Q1_Sentiment", "Q1_Category")
    intercept[IllegalArgumentException] {
      SurveyPipeline.writeExcelReport(wide, "target/tmp/never.xlsx", maxRows = 0)
    }
  }
}
