package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.AnnIndex
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
    Seq("centroids", "codes").foreach(a => sameSchema(s"$dir/ann/$a"))
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
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("read.parquet(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
