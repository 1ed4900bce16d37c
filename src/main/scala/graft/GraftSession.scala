package graft

import org.apache.spark.sql.SparkSession

/** What a graft session is, decided once for every main and the tests:
  * the engine's extensions, shuffle width = `cpus`, UTC, adaptive
  * execution, small-file splitting, no UI, WARN logging.
  *
  * `master` defaults to `local[cpus]`; a deployment passes its own URL.
  * `conf` carries the caller's deployment settings (paths). */
object GraftSession {

  def apply(appName: String, cpus: Int, master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // coalescing stays parallelism-first: size-first folded CPU-bound
      // intermediates to one partition and lost suite-wide (BASELINE.md r15)
      .config("spark.sql.adaptive.enabled", "true")
      // split small parquet files so single-file local scans still fan out
      // across cores (a no-op at scale, where files exceed maxPartitionBytes)
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count: `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
