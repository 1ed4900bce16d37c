package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{AnnIndex, IndexLog, LexIndex}
import graft.sources.Tables

/** `Tables.parquet`, the one parquet reader: its footer-derived schema is
  * the schema Spark's own inference job would give, and it launches no job. */
class TablesSpec extends SparkSpec {

  private def sameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  test("parquet: the footer schema is Spark's inferred schema for every fixture table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables.events
    Tables.All.foreach(t => sameSchema(s"${sf()}/$t.parquet"))
  }

  test("parquet: same schema for a cell-partitioned AnnIndex and a foreachBatch-appended dir") {
    val dir = s"target/tmp/tables_spec/${System.nanoTime()}"
    val emb = Tables.table(spark, sf(), "embeddings")
    AnnIndex.build(emb, col("vec_id"), col("embedding"), s"$dir/ann")
    assert(Files.isDirectory(Paths.get(s"$dir/ann/codes/cell=0")))
    Seq("centroids/g1", "codes").foreach(a => sameSchema(s"$dir/ann/$a"))
    assert(Tables.parquet(spark, s"$dir/ann/codes").columns.last == "cell")

    // two source files, one micro-batch each, every batch appended by foreachBatch
    val src = s"$dir/src"
    emb.where(col("vec_id") < 10).write.parquet(s"$src/a")
    emb.where(col("vec_id") >= 10).write.parquet(s"$src/b")
    val out = s"$dir/out"
    val q = spark.readStream.schema(Tables.parquet(spark, s"$src/a").schema)
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(src)
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out) }
      .start()
    q.awaitTermination()
    val names = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      names.mkString(", "))
    sameSchema(out)
    assert(Tables.parquet(spark, out).count() == emb.count())
  }

  test("parquet: building a table's DataFrame launches no Spark job") {
    Tables.All.foreach { t =>
      assert(jobsOf(Tables.table(spark, sf(), t)) == 0, s"$t: jobs to build the DataFrame")
    }
  }

  test("parquet: the file-list form gives a live postings or codes list Spark's schema, with no job") {
    val dir = s"target/tmp/tables_spec/${System.nanoTime()}"
    LexIndex.build(Tables.table(spark, sf(), "documents"), col("doc_id"), col("text"), s"$dir/lex")
    AnnIndex.build(Tables.table(spark, sf(), "embeddings"), col("vec_id"), col("embedding"), s"$dir/ann")
    for ((ix, component) <- Seq("lex" -> "postings", "ann" -> "codes")) {
      val base = s"$dir/$ix/$component"
      val files = IndexLog.snapshotFiles(spark, s"$dir/$ix", component).head.map(f => s"$dir/$ix/$f")
      assert(files.size > 1, component)
      assert(Tables.parquet(spark, base, files).schema ==
        spark.read.option("basePath", base).parquet(files: _*).schema, component)
      assert(jobsOf(Tables.parquet(spark, base, files)) == 0, s"$component: jobs to build the DataFrame")
    }
  }

  test("parquet: a path with no data file raises Spark's own error") {
    val empty = Files.createTempDirectory(Paths.get("target"), "tables_spec_empty")
    val err = intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, empty.toString))
    assert(err.getMessage.contains("Unable to infer schema"), err.getMessage)
  }

  test("src/main reads parquet only through Tables (SurveyMain's cache reads excepted)") {
    val exempt = Set("Tables.scala", "SurveyMain.scala")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !exempt(p.getFileName.toString))
      .flatMap { p =>
        val src = Files.readString(p)
        parquetReads(src).map(i => s"$p:${src.take(i).count(_ == '\n') + 1}")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the reader guard sees option-chained and multi-line parquet reads") {
    val flagged = Seq("spark.read.parquet(p)", "spark.read.schema(s).parquet(p)",
      "spark.read.option(\"basePath\", s\"$dir/$base\")\n      .parquet(rels.map(r => s\"$dir/$r\"): _*)")
    val clean = Seq("spark.readStream.schema(s).parquet(p)", "df.write.parquet(p)",
      "in.read(chunk)", "spark.read.option(\"header\", \"true\").csv(p)")
    flagged.foreach(src => assert(parquetReads(src).nonEmpty, src))
    clean.foreach(src => assert(parquetReads(src).isEmpty, src))
  }

  /** Offsets of the `read` chains in `src` that end in `.parquet(`: from
    * each `.read`, follow `.name(args)` links (any whitespace, balanced
    * parentheses) to the end of the chain. */
  private def parquetReads(src: String): Seq[Int] = {
    val link = """\s*\.\s*(\w+)\s*""".r
    def endsInParquet(from: Int): Boolean = link.findPrefixMatchOf(src.substring(from)) match {
      case Some(m) =>
        val at = from + m.end
        if (at >= src.length || src(at) != '(') endsInParquet(at)
        else if (m.group(1) == "parquet") true
        else {
          var depth = 0
          var i = at
          do { if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1; i += 1 }
          while (depth > 0 && i < src.length)
          endsInParquet(i)
        }
      case None => false
    }
    """\.read\b(?!\s*\()""".r.findAllMatchIn(src).map(_.start).filter(i => endsInParquet(i + 5)).toSeq
  }
}
