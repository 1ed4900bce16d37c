package graft

import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

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

  /** Run `bodies` side by side and return when every one has settled: the
    * one way the engine overlaps independent Spark actions (short index
    * commits are bound by driver latency, not by the cluster). A body that
    * produces a value assigns it to a local of the caller.
    *
    * Each body runs on its own daemon thread (a cached pool: a body may
    * fork again) under the caller's active session and a clone of the
    * caller's Spark local properties, so its jobs carry the caller's job
    * group, description, cancel flag, scheduler pool and SQL execution ids
    * (Spark's `SQLExecution.withThreadLocalCaptured`, as broadcast
    * exchanges do). Every body settles before the first failure in body
    * order is rethrown, unwrapped: no write of a failed call is still
    * landing when its caller retries. */
  def concurrently(spark: SparkSession)(bodies: (() => Unit)*): Unit = {
    val running = bodies.map(b => SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[classic.SparkSession], forks)(b()))
    running.flatMap { f =>
      try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
    }.headOption.foreach(throw _)
  }

  private lazy val forks = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-fork")
    t.setDaemon(true)
    t
  }
}
