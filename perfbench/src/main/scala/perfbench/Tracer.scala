package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the traced run. Spans of one op share `trace` (the op's
  * id); `parent` is the span that caused this one (-1 for the op itself). */
final case class Span(trace: Int, id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** One SQL action: its name, duration, the enclosing stage span ("" if
  * none) and the directory a file write went to ("" for other actions). */
final case class Action(name: String, ms: Double, stage: String, target: String) {
  /** What the action did, without its timing. */
  def signature: String = if (target.isEmpty) name else s"$name -> $target"
}

/** Counters of one op, filled from Spark's listener events. */
final class OpStats {
  var jobs, stages, tasks, taskFailures, executions = 0L
  var taskMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val scanNodes = mutable.Map.empty[String, Int].withDefaultValue(0)
  var batches, emptyBatches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  var addBatchMs, walCommitMs, commitOffsetsMs = 0L
  var stateRows, stateBytes = 0L
  var pinPeakBytes = 0L
  /** Rows entering each native kernel expression, by kernel name. */
  val kernelRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Seconds inside each named stage span of the op. */
  val stageS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Every SQL action the op ran, in order. */
  val actions = mutable.ArrayBuffer.empty[Action]
}

/** The traced run's recorder: Spark's public listener APIs only.
  *
  * Jobs are attributed to the op through a local property set around the
  * op; stages and tasks through their job. SQL-action and block events
  * arrive on the same listener queue as job events, so `drain` (a marker
  * job whose end event must be seen) makes every earlier event visible.
  * Streaming progress arrives on its own queue; `drain` also waits until
  * every streaming query the op started has reported its termination.
  * SQL actions and streaming progress come through [[QueryHook]] and
  * [[StreamHook]], installed in every session by [[Tracer.SessionConf]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextSpan = new AtomicInteger(0)
  private var cur: OpStats = new OpStats
  private var curTrace = -1
  private var curSpan = -1
  private val stageOp = mutable.Map.empty[Int, Int]       // stageId -> span id of its job
  private val jobStartMs = mutable.Map.empty[Int, (Long, Int)]
  private val stageStart = mutable.Map.empty[Int, Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockTotal = 0L
  private var markerSeen = -1
  private val streamsStarted = mutable.Set.empty[java.util.UUID]
  private val streamsEnded = mutable.Set.empty[java.util.UUID]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Survey stage spans open around the calls into SurveyPipeline. */
  private var stageSpan = -1
  private var stageName = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
      op match {
        case Some(m) if m.startsWith("marker") => markerJobs(e.jobId) = m.stripPrefix("marker").toInt
        case Some(_) =>
          cur.jobs += 1
          val id = nextSpan.incrementAndGet()
          jobStartMs(e.jobId) = (e.time, id)
          e.stageIds.foreach(s => stageOp(s) = id)
        case None => ()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStartMs.remove(e.jobId).foreach { case (t0, id) =>
        val parent = if (stageSpan >= 0) stageSpan else curSpan
        spans += Span(curTrace, id, parent, s"job ${e.jobId}", t0.toDouble, e.time.toDouble)
        jobIntervals += ((t0, e.time))
      }
      markerJobs.remove(e.jobId).foreach(n => markerSeen = math.max(markerSeen, n))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      if (stageOp.contains(e.stageInfo.stageId))
        stageStart(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val s = e.stageInfo
      stageOp.get(s.stageId).foreach { job =>
        cur.stages += 1
        val t0 = stageStart.remove(s.stageId).orElse(s.submissionTime).getOrElse(0L)
        spans += Span(curTrace, nextSpan.incrementAndGet(), job, s"stage ${s.stageId}",
          t0.toDouble, s.completionTime.getOrElse(t0).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (stageOp.contains(e.stageId)) {
        cur.tasks += 1
        if (e.reason != Success) cur.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          cur.taskMs += m.executorRunTime
          cur.cpuNs += m.executorCpuTime
          cur.gcMs += m.jvmGCTime
          cur.inputBytes += m.inputMetrics.bytesRead
          cur.inputRecords += m.inputMetrics.recordsRead
          cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          cur.spillBytes += m.diskBytesSpilled
          val i = e.taskInfo
          val overhead = m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime
          cur.schedDelayMs += math.max(0L, i.duration - overhead - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        blockTotal += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
        cur.pinPeakBytes = math.max(cur.pinPeakBytes, blockTotal)
      }
    }
  }

  private[perfbench] def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
    cur.executions += 1
    val target = qe.logical.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.getName
    }.getOrElse("")
    cur.actions += Action(funcName, durationNs / 1e6, stageName, target)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
    val nodes = try nodesOf(qe.executedPlan) catch { case _: Throwable => Nil }
    nodes.foreach {
      case s: FileSourceScanExec =>
        val root = s.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
        cur.scanNodes(root.stripSuffix(".parquet")) += 1
      case p =>
        val kernels = p.expressions.flatMap(_.collect {
          case k if KernelNames.contains(k.getClass.getSimpleName) => KernelNames(k.getClass.getSimpleName)
        }).distinct
        if (kernels.nonEmpty) {
          val rows = rowsInto(p)
          kernels.foreach(k => cur.kernelRows(k) += rows)
        }
    }
  }

  private[perfbench] def started(id: java.util.UUID): Unit = lock.synchronized { streamsStarted += id }
  private[perfbench] def ended(id: java.util.UUID): Unit = lock.synchronized { streamsEnded += id }
  private[perfbench] def progress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      cur.batches += 1
      if (p.numInputRows == 0) cur.emptyBatches += 1
      val trig = d("triggerExecution")
      cur.batchMs += trig
      cur.addBatchMs += d("addBatch")
      cur.walCommitMs += d("walCommit")
      cur.commitOffsetsMs += d("commitOffsets")
      p.stateOperators.foreach { s =>
        cur.stateRows = math.max(cur.stateRows, s.numRowsTotal)
        cur.stateBytes = math.max(cur.stateBytes, s.memoryUsedBytes)
      }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += Span(curTrace, nextSpan.incrementAndGet(), curSpan, s"batch ${p.batchId}",
        t0.toDouble, (t0 + trig).toDouble)
  }

  private val markerJobs = mutable.Map.empty[Int, Int]
  private var markerCount = 0

  spark.sparkContext.addSparkListener(sparkListener)
  Tracer.active = Some(this)

  /** Opens the op's span; every event until `end` is counted to it. */
  def begin(name: String): (Int, Long) = lock.synchronized {
    cur = new OpStats
    curTrace = nextSpan.incrementAndGet()
    curSpan = curTrace
    jobIntervals.clear()
    cur.pinPeakBytes = blockTotal
    spark.sparkContext.setLocalProperty(OpKey, name)
    (curSpan, System.currentTimeMillis())
  }

  /** Runs `body` inside a named child span of the current op (untraced
    * when no op is open, as in the warm-up passes). */
  def stage[T](name: String)(body: => T): T = if (lock.synchronized(curTrace < 0)) body else {
    val id = nextSpan.incrementAndGet()
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    lock.synchronized { stageSpan = id; stageName = name }
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e6
      drain()
      lock.synchronized {
        stageSpan = -1; stageName = ""
        cur.stageS(name) += dt / 1e3
        spans += Span(curTrace, id, curSpan, name, w0.toDouble, w0 + dt)
      }
    }
  }

  /** Waits until every listener event the op caused has been delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    val n = lock.synchronized { markerCount += 1; markerCount }
    sc.setLocalProperty(OpKey, s"marker$n")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, prev)
    val deadline = System.currentTimeMillis() + 10000
    def settled = lock.synchronized { markerSeen >= n && streamsEnded.size >= streamsStarted.size }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }

  /** Closes the op's span and returns its counters and job intervals. */
  def end(name: String, startMs: Long, wallMs: Double): (OpStats, Double) = {
    spark.sparkContext.setLocalProperty(OpKey, null)
    drain()
    lock.synchronized {
      val s = cur
      spans += Span(curTrace, curSpan, -1, name, startMs.toDouble, startMs + wallMs)
      val covered = unionMs(jobIntervals.toSeq, startMs, startMs + wallMs)
      curTrace = -1; curSpan = -1; cur = new OpStats
      (s, math.max(0.0, wallMs - covered))
    }
  }

  def heldBytes: Long = lock.synchronized(blockTotal)

  def allSpans: Seq[Span] = lock.synchronized(spans.toList)
}

object Tracer {
  val OpKey = "perfbench.op"

  /** The recorder the session-wide hooks below report to. */
  @volatile private[perfbench] var active: Option[Tracer] = None

  /** Session settings that install the hooks in every session of the
    * context: the query books run streaming queries in `newSession()`
    * clones, which listeners registered on one session object never see. */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[QueryHook].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamHook].getName)

  /** Native kernel expression classes (graft.plans) by the name the
    * kernel probes report them under. */
  val KernelNames: Map[String, String] = Map(
    "CleanText" -> "cleanText", "ContainsAny" -> "classify", "TokenGrams" -> "shingles",
    "SimHash" -> "simhash", "ShingleHashes" -> "minhash", "MinHashSignature" -> "minhash",
    "TermFreqPairs" -> "termFreqs", "CharGrams" -> "charGrams", "WordGrams" -> "wordGrams",
    "NfcNormalize" -> "nfc", "AcCountMatches" -> "ahoCorasick", "AcRedact" -> "ahoCorasick")

  /** Every node of a final physical plan, through AQE stages and subqueries;
    * a reused exchange is counted once, at its first use. */
  def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case s: QueryStageExec => nodesOf(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodesOf)
  }

  /** Rows that entered `p`: the output-row count of the nearest node below
    * it that keeps one (projections inside whole-stage code keep none). */
  def rowsInto(p: SparkPlan): Long = {
    def out(n: SparkPlan): Option[Long] =
      n.metrics.get("numOutputRows").map(_.value).orElse(n.children.headOption.flatMap(out))
    p.children.headOption.flatMap(out).getOrElse(0L)
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def unionMs(iv: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) { if (!curB.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}

/** Forwards every SQL action of any session to the active tracer. */
final class QueryHook extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.active.foreach(_.record(funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.active.foreach(_.record(funcName, qe, 0L))
}

/** Forwards the streaming progress of any session to the active tracer. */
final class StreamHook extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Tracer.active.foreach(_.started(e.id))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Tracer.active.foreach(_.progress(e))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    Tracer.active.foreach(_.ended(e.id))
}
