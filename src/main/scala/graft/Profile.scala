package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Structural profile of named queries: per query one untimed warm-up, then
  * `--reps` timed `noop`-sink runs; prints the fastest run's wall seconds
  * with the jobs, stages, tasks and executor task-seconds it launched. At
  * sf0.1 fixed per-query costs dominate and the host band is wide, so these
  * counts are the primary evidence and wall seconds come second.
  *
  *   runMain graft.Profile <sfDir> [--reps N] [--jobs] [--batches] [--scans] <query-prefix>...
  *
  *  - `--jobs`: every job of that run, with the SQL execution id it ran
  *    under (`-` for none), its duration and description;
  *  - `--batches`: every streaming micro-batch of that run, with its
  *    `durationMs` phases (addBatch, walCommit, commitOffsets, ...);
  *  - `--scans`: [[PlanInspect]]'s census of the query's final plan.
  *
  * Runs on the Bench session shape (`SPARK_GRAFT_CPUS`, default 32). */
object Profile {

  private final case class Run(wall: Double, jobs: Int, stages: Int, tasks: Int,
      taskS: Double, jobLog: Vector[String], batchLog: Vector[String])

  def main(args: Array[String]): Unit = {
    val reps = args.indexOf("--reps") match { case -1 => 2; case i => args(i + 1).toInt }
    val flags = args.filter(_.startsWith("--")).toSet
    val positional = args.indices.filterNot(i =>
      args(i).startsWith("--") || (i > 0 && args(i - 1) == "--reps")).map(args)
    require(positional.length >= 2, "usage: Profile <sfDir> [--reps N] " +
      "[--jobs] [--batches] [--scans] <query-prefix>...")
    val sfDir = positional.head
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => positional.tail.exists(n.startsWith))
    require(names.nonEmpty, s"no query matches ${positional.tail.mkString(" ")}")
    val spark = GraftSession("graft-profile", GraftSession.cpus(32))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    def query(n: String) = SparkEntry.queries(n)(spark, sfDir)
    println("query\twall_s\tjobs\tstages\ttasks\ttask_s")
    names.foreach { n =>
      try {
        query(n).write.format("noop").mode("overwrite").save()
        val r = (1 to reps).map(_ => rec.measure(spark)(
          query(n).write.format("noop").mode("overwrite").save())).minBy(_.wall)
        println(f"$n\t${r.wall}%.3f\t${r.jobs}\t${r.stages}\t${r.tasks}\t${r.taskS}%.1f")
        if (flags("--jobs")) r.jobLog.foreach(l => println(s"  [job] $l"))
        if (flags("--batches")) r.batchLog.foreach(l => println(s"  [batch] $l"))
        if (flags("--scans")) {
          val df = query(n)
          df.queryExecution.toRdd.foreach(_ => ())
          val c = PlanInspect(df)
          def show(m: Map[String, Int]) = if (m.isEmpty) "none"
            else m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"  [scans] ${show(c.scansPerTable)}; exchanges=${c.exchanges} " +
            s"reused=${c.reusedExchanges}; joins ${show(c.joins.groupBy(identity).view.mapValues(_.size).toMap)}")
        }
      } catch {
        case e: Throwable => println(s"$n\tFAILED\t${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Counts what a run launches. One listener's events arrive in the
    * order they were posted, so when a marker job's start arrives, every
    * event of the run before it has been counted: `measure` reads the
    * counters there instead of sleeping. Streaming progress is read off
    * the same bus because the query books drain their streams in scoped
    * sessions, whose queries a listener on this session's `streams` never
    * hears. */
  private final class Recorder extends SparkListener {
    private val Marker = "graft-profile-settle"
    private var run = Run(0, 0, 0, 0, 0, Vector.empty, Vector.empty)
    private val started = scala.collection.mutable.Map.empty[Int, (Long, String, String)]
    private var markerJob = -1
    private var snapshot = run
    private val markerDone = new Semaphore(0)

    def measure(spark: SparkSession)(f: => Unit): Run = {
      settle(spark)
      synchronized { run = Run(0, 0, 0, 0, 0, Vector.empty, Vector.empty) }
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      settle(spark).copy(wall = wall)
    }

    private def settle(spark: SparkSession): Run = {
      val sc = spark.sparkContext
      sc.setJobGroup(Marker, Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      require(markerDone.tryAcquire(60, TimeUnit.SECONDS), "listener bus stalled")
      synchronized(snapshot)
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val props = Option(j.properties)
      if (props.exists(_.getProperty("spark.jobGroup.id") == Marker)) {
        markerJob = j.jobId
        snapshot = run
      } else {
        run = run.copy(jobs = run.jobs + 1)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty).orElse(j.stageInfos.lastOption.map(_.name)).getOrElse("?")
        // the SQL execution id names the plan a job belongs to; broadcast
        // jobs all share one async call site as their description
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("-")
        started(j.jobId) = (j.time, exec, desc.replaceAll("\\s+", " ").trim)
      }
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (j.jobId == markerJob) markerDone.release()
      started.remove(j.jobId).foreach { case (t0, exec, desc) =>
        run = run.copy(jobLog = run.jobLog :+
          f"sql=$exec%-4s ${j.jobId}%5d ${j.time - t0}%7d ms  $desc")
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { run = run.copy(stages = run.stages + 1) }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val ms = Option(t.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      run = run.copy(tasks = run.tasks + 1, taskS = run.taskS + ms / 1e3)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        val b = p.progress
        val phases = b.durationMs.asScala.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }
        run = run.copy(batchLog = run.batchLog :+
          s"${b.id.toString.take(8)} batch ${b.batchId} rows=${b.numInputRows} ${phases.mkString(" ")}")
      }
      case _ =>
    }
  }
}
