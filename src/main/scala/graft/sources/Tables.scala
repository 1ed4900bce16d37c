package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Test-table loaders for the driver's TPC-H-ish parquet layout
  * (sfDir/name.parquet — see TESTDATA.md). Plain parquet scans: predicate
  * pushdown / column pruning come from Catalyst. */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job — the one
    * parquet reader of the engine. Spark infers a parquet schema by reading
    * one footer inside a Spark job; at fixture scale that job, not the
    * scan, is most of a small read's cost. Here the driver lists `path`
    * (skipping `_*` and `.*` names, as the file index does), opens the
    * footer of the lexicographically first data file and derives the
    * schema with Spark's own `readSchemaFromFooter`: the stored Spark row
    * schema when the writer left one, else the parquet types converted
    * under the session conf (so `nanosAsLong` and NTZ inference still
    * apply). The file index still discovers partition columns such as
    * AnnIndex's `cell`. A path with no data file falls through to the
    * plain read, which raises Spark's own error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    firstDataFile(root.getFileSystem(spark.sessionState.newHadoopConf()), root) match {
      case Some(file) => spark.read.schema(footerSchema(spark, file)).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The listed parquet `files` under `basePath` as one DataFrame, with the
    * schema of the first file's footer and no job: the file-list form of
    * [[parquet]], for readers whose live file set is not a directory (the
    * [[graft.operators.IndexLog]] manifests). `basePath` keeps partition
    * columns such as `tok_bucket` and `cell` discovered from the paths. */
  def parquet(spark: SparkSession, basePath: String, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, s"no parquet files listed under $basePath")
    spark.read.schema(footerSchema(spark, new Path(files.head)))
      .option("basePath", basePath).parquet(files: _*)
  }

  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    val meta = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The lexicographically first visible file under `p` (`p` itself when
    * it is a file), or None when `p` is missing or holds no data file. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[Path] =
    if (!fs.exists(p)) None
    else if (fs.getFileStatus(p).isFile) Some(p)
    else fs.listStatus(p)
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).iterator
      .flatMap(f => firstDataFile(fs, f.getPath)).nextOption()

  /** events.ts normalization — the fixture generator has shipped this column
    * as parquet TIMESTAMP(NANOS) in some refreshes and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) in others, so the reader dispatches on the
    * surfaced Spark type instead of assuming one physical layout:
    *  - NANOS (legacy conf surfaces it as LongType nanos): integer `div`
    *    1000 (not `/`: epoch-nanos exceeds the 2^53 exact-double range; the
    *    data is µs-precision so ns→µs truncation is lossless) then
    *    timestamp_micros.
    *  - MICROS without UTC adjustment (Spark reads TIMESTAMP_NTZ): cast to
    *    session-local TimestampType — the session is pinned to UTC
    *    everywhere (builder configs), so the wall-clock micros are
    *    preserved bit-for-bit and downstream unix_micros/window arithmetic
    *    matches the DuckDB oracle, which also reads the column naively. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
