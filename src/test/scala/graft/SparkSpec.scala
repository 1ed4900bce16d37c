package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, transform}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — Test/fork=true
  * gives the suite JVM the add-opens flags from build.sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"

  /** `rep` copies of `df` over 8 partitions with fresh ids `id·rep + copy`
    * (`copy` = 0..rep−1): pure replication gives closed-form counts. */
  def replicated(df: DataFrame, id: String, rep: Int): DataFrame =
    df.crossJoin(spark.range(rep).select(col("id").as("copy")))
      .withColumn(id, col(id) * rep + col("copy")).repartition(8)

  /** sf0.001 embeddings × rep as (vec_id, v), every copy offset by copy·1e-4
    * per dimension, so each copy family is a cos ≈ 1 cluster. */
  def perturbedEmbeddings(rep: Int): DataFrame =
    replicated(graft.sources.Tables.table(spark, sf(), "embeddings"), "vec_id", rep)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double") + col("copy").cast("double") * 1e-4).as("v"))

  private val MarkerKey = "graft.test.marker"

  /** Returns once every listener event posted so far has been delivered: a
    * marker job's end event reaches a listener after every earlier event of
    * the shared queue, which also carries the SQL executions. */
  protected def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (isMarker(e)) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      assert(done.await(60, TimeUnit.SECONDS), "the listener bus did not drain in 60 s")
    } finally sc.removeSparkListener(listener)
  }

  protected def isMarker(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty(MarkerKey) != null)

  /** Spark jobs `body` launches (the suites run one at a time, so every
    * job started in between is `body`'s). */
  def jobsOf(body: => Unit): Int = {
    drainListenerBus()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

object SparkSpec {
  // the production session shape, so plan specs assert what Verify and
  // Bench actually execute
  lazy val session: SparkSession = GraftSession("graft-test", 4,
    conf = Map("spark.sql.warehouse.dir" -> "target/spark-warehouse"))
}
