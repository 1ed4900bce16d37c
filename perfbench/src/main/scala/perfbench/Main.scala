package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SurveyMain}
import graft.functions.{Lexicons, TextExprs}
import graft.operators.{AnnIndex, CacheJoinClassifier, DemoAnswerClassifier, Dedup, LexIndex, Retrieval, SurveyPipeline}

/** The benchmark's JVM side. `run.py` generates the inputs, orders the ops
  * from the seed and writes a plan (a properties file); this program sets
  * up, runs the closed loop (one client, one op in flight) and writes one
  * JSON record per line. `run.py` turns the records into metrics.
  *
  *   perfbench.Main <plan.properties>
  *
  * Plan keys: mode (run | derive), workload, kind (queries | survey), data,
  * ops, seconds, trace (0 | 1), records, spans, expected.<op>, survey.*.
  */
object Main {
  /** Untimed passes after the checked set-up pass. */
  val WarmPasses = 1

  def main(args: Array[String]): Unit = {
    val plan = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try plan.load(in) finally in.close()
    def p(k: String): String = Option(plan.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(p("records"))))
    def emit(m: Map[String, Any]): Unit = { out.println(Json(m)); out.flush() }

    val t0 = System.nanoTime()
    val traced = p("trace") == "1"
    val spark = session(if (traced) Tracer.SessionConf else Map.empty)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val wl: Workload = p("kind") match {
      case "queries" => new QueryWorkload(spark, p("data"), p("ops").split(",").toSeq,
        n => Option(plan.getProperty(s"expected.$n")).map(Check.parse), tracer)
      case "survey" => new SurveyWorkload(spark, p("survey.csv"), p("survey.responses").toLong,
        p("survey.wide_rows").toLong, p("survey.questions").toInt, tracer)
    }
    try p("mode") match {
      case "derive" =>
        wl.ops.foreach(n => emit(wl.asInstanceOf[QueryWorkload].derive(n, p("derive_out"))))
      case "run" =>
        val w0 = System.nanoTime()
        val checked = wl.setup()
        // an untimed pass more: op times still fall by about a fifth over the
        // two passes after the first, while the JIT compiles hot code
        val warm = (1 to WarmPasses).flatMap(i => wl.ops.map { n =>
          val status = try { wl.beforeOp(n); wl.runOp(n); "ok" } catch { case _: Throwable => "failed" }
          s"$n.warm$i" -> Map("status" -> status)
        })
        val checks = checked ++ warm
        emit(Map("kind" -> "setup", "session_s" -> sessionS,
          "warmup_s" -> (System.nanoTime() - w0) / 1e9,
          "setup_end_ms" -> System.currentTimeMillis(), "checks" -> checks))
        timedLoop(wl, p("seconds").toDouble, tracer, emit)
        tracer.foreach { tr =>
          emit(Map("kind" -> "layer") ++ Probes.kernelRates(spark, p("data")))
          if (plan.getProperty("index_probe") == "1")
            emit(Map("kind" -> "layer") ++ Probes.indexCalls(spark, p("data"), "target/probe"))
          val sw = new PrintWriter(Files.newBufferedWriter(Paths.get(p("spans"))))
          tr.allSpans.foreach(s => sw.println(Json(Map("trace" -> s.trace, "id" -> s.id,
            "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
          sw.close()
        }
        emit(Map("kind" -> "end", "rss_peak_mb" -> rssPeakMb()))
    } finally {
      out.close()
      spark.stop()
    }
  }

  /** The measured loop: whole passes over the ops until `seconds` have
    * passed. Every op's output is checked after its timed call, outside the
    * timed interval. A failed or wrong-result op is recorded with its status
    * and never contributes a timing. */
  def timedLoop(wl: Workload, seconds: Double, tracer: Option[Tracer],
      emit: Map[String, Any] => Unit): Unit = {
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      pass += 1
      wl.ops.foreach { name =>
        wl.beforeOp(name)
        val span = tracer.map(_.begin(name))
        val t = System.nanoTime()
        val err = try { wl.runOp(name); null } catch { case e: Throwable => e }
        val wallS = (System.nanoTime() - t) / 1e9
        val stats = tracer.zip(span).map { case (tr, (_, startMs)) =>
          val (s, gapMs) = tr.end(name, startMs, wallS * 1000)
          (s, opFields(s, gapMs, tr.heldBytes) ++ Probes.indexWrites(startMs) ++ wl.traceExtras(name, s))
        }
        val (status, check) =
          if (err != null) ("failed", String.valueOf(err.getMessage).take(300))
          else try wl.afterOp(name, stats.map(_._1))
          catch { case e: Throwable => ("failed", "check: " + String.valueOf(e.getMessage).take(300)) }
        emit(Map("kind" -> "op", "name" -> name, "pass" -> pass, "status" -> status,
          "wall_s" -> wallS, "check" -> check) ++ stats.map(_._2).getOrElse(Map.empty))
      }
    }
  }

  private def opFields(s: OpStats, gapMs: Double, heldBytes: Long): Map[String, Any] = Map(
    "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks, "task_failures" -> s.taskFailures,
    "executions" -> s.executions, "task_s" -> s.taskMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
    "gc_s" -> s.gcMs / 1e3, "sched_delay_s" -> s.schedDelayMs / 1e3, "driver_gap_s" -> gapMs / 1e3,
    "scan_mb" -> s.inputBytes / 1048576.0, "scan_rows" -> s.inputRecords,
    "scan_nodes" -> s.scanNodes.toMap,
    "shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0, "shuffle_read_mb" -> s.shuffleReadBytes / 1048576.0,
    "fetch_wait_s" -> s.fetchWaitMs / 1e3, "spill_mb" -> s.spillBytes / 1048576.0,
    "analysis_s" -> s.analysisMs / 1e3, "optimization_s" -> s.optimizationMs / 1e3,
    "planning_s" -> s.planningMs / 1e3,
    "batches" -> s.batches, "empty_batches" -> s.emptyBatches, "batch_ms" -> s.batchMs.toList,
    "add_batch_s" -> s.addBatchMs / 1e3, "wal_commit_s" -> s.walCommitMs / 1e3,
    "commit_offsets_s" -> s.commitOffsetsMs / 1e3, "state_rows" -> s.stateRows,
    "state_mb" -> s.stateBytes / 1048576.0, "pin_peak_mb" -> s.pinPeakBytes / 1048576.0,
    "pin_held_mb" -> heldBytes / 1048576.0, "kernel_rows" -> s.kernelRows.toMap,
    "actions" -> s.actions.map(a => List(a.name, a.ms / 1e3, a.stage, a.target)).toList) ++
    s.stageS.map { case (k, v) => s"stage.$k" -> v }

  /** The benchmark session: 4 local cores, shuffle width 4, the engine's
    * extensions, the session settings the repository's Bench uses. */
  def session(extra: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .config(extra)
      .master("local[4]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .config("spark.local.dir", new File("spark-local").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** One workload: its ops, the untimed set-up (warm-up pass plus output
  * checks), and the per-op hooks around the timed call. */
trait Workload {
  def ops: Seq[String]
  /** Warm-up pass; returns the check outcome per op. */
  def setup(): Map[String, Any]
  def beforeOp(name: String): Unit = ()
  def runOp(name: String): Unit
  /** Checks the output of an op that returned, given its counters in a
    * traced run: (ok or wrong_result, what was compared). */
  def afterOp(name: String, stats: Option[OpStats]): (String, String)
  def traceExtras(name: String, s: OpStats): Map[String, Any] = Map.empty
}

/** Ops are query-book entries, materialised through the `noop` sink. The
  * warm-up pass runs every op once through the output check; after every
  * timed run, the op's DataFrame is checked again (row count and hash
  * against the expected values). */
final class QueryWorkload(spark: SparkSession, data: String, val ops: Seq[String],
    expected: String => Option[Check.Digest], tracer: Option[Tracer]) extends Workload {
  private var last: DataFrame = _

  private def df(name: String): DataFrame = SparkEntry.queries(name)(spark, data)

  private def check(name: String, d: DataFrame): (String, String) = {
    val got = Check.digest(d)
    (if (expected(name).contains(got)) "ok" else "wrong_result", got.toString)
  }

  def setup(): Map[String, Any] = ops.map { n =>
    val (status, got) =
      try check(n, df(n))
      catch { case e: Throwable => ("failed", String.valueOf(e.getMessage).take(300)) }
    n -> Map("status" -> status, "got" -> got, "want" -> expected(n).map(_.toString).orNull)
  }.toMap

  def runOp(name: String): Unit = {
    last = df(name)
    last.write.format("noop").mode("overwrite").save()
  }

  def afterOp(name: String, stats: Option[OpStats]): (String, String) = check(name, last)

  /** Derivation of the expected values: the digest (twice, to prove it is
    * stable), the output as parquet for the DuckDB comparison, and the
    * fixture tables the op scans. */
  def derive(name: String, outDir: String): Map[String, Any] = {
    val tr = tracer.get
    try {
      val (_, startMs) = tr.begin(name)
      val t = System.nanoTime()
      df(name).write.mode("overwrite").parquet(s"$outDir/$name")
      val (s, _) = tr.end(name, startMs, (System.nanoTime() - t) / 1e6)
      val d1 = Check.digest(df(name)); val d2 = Check.digest(df(name))
      Map("kind" -> "derive", "name" -> name, "digest" -> d1.toString,
        "stable" -> (d1 == d2), "tables" -> s.scanNodes.keys.toList.sorted,
        "oracle" -> SparkEntry.oracleSql.get(name).orNull)
    } catch { case e: Throwable =>
      Map("kind" -> "derive", "name" -> name, "error" -> String.valueOf(e.getMessage).take(300))
    }
  }
}

/** The paper's pipeline: one op is one `SurveyMain.run` over the generated
  * CSV, with the parquet and xlsx sinks. Set-up runs it once against an
  * empty classification cache; that run's cache, saved, is restored before
  * every timed op, so each op reads the same warm cache. Each op's output is
  * checked against the generator's counts and the set-up run's output.
  *
  * A traced op runs `stagedRun`, the calls of `SurveyMain.run` each inside a
  * span. So that the spans keep measuring the program's own dataflow, the
  * traced set-up also runs `SurveyMain.run` itself once on the warm cache,
  * and a traced op whose job count or SQL actions differ from that run's is
  * a wrong result. */
final class SurveyWorkload(spark: SparkSession, csv: String, responses: Long,
    wideRows: Long, questions: Int, tracer: Option[Tracer]) extends Workload {
  val ops: Seq[String] = Seq("survey")
  private val industry = "retail"
  private val cache = new File("survey/cache.parquet").getAbsolutePath
  private val warm = new File("survey/warm_cache.parquet").getAbsolutePath
  private val out = new File("survey/out").getAbsolutePath
  private val xlsx = new File("survey/report.xlsx").getAbsolutePath
  private var cold: (Check.Digest, Check.Digest) = _
  private var last: (DataFrame, DataFrame) = _
  /** Job count and SQL actions of one traced `SurveyMain.run`. */
  private var reference: Option[(Long, List[String])] = None
  private val sentCols = Lexicons.SentimentOrder

  def setup(): Map[String, Any] = {
    Files.createDirectories(Paths.get("survey"))
    Seq(cache, warm, out, xlsx).foreach(p => rm(Paths.get(p)))
    val (wide, summary) = SurveyMain.run(spark, csv, industry, out, cache, Some(xlsx))
    cold = (Check.digest(wide), Check.digest(summary))
    copy(Paths.get(cache), Paths.get(warm))
    last = (wide, summary)
    val status = invariants(wide, summary)
    reference = tracer.map { tr =>
      beforeOp("survey")
      val (_, startMs) = tr.begin("survey.reference")
      val t = System.nanoTime()
      SurveyMain.run(spark, csv, industry, out, cache, Some(xlsx))
      signature(tr.end("survey.reference", startMs, (System.nanoTime() - t) / 1e6)._1)
    }
    Map("survey" -> (Map("status" -> status, "wide" -> cold._1.toString, "summary" -> cold._2.toString)
      ++ reference.map(r => "reference" -> Map("jobs" -> r._1, "actions" -> r._2))))
  }

  private def signature(s: OpStats): (Long, List[String]) = (s.jobs, s.actions.map(_.signature).toList)

  override def beforeOp(name: String): Unit = {
    rm(Paths.get(out)); rm(Paths.get(xlsx)); rm(Paths.get(cache))
    copy(Paths.get(warm), Paths.get(cache))
  }

  def runOp(name: String): Unit =
    last = tracer match {
      case None => SurveyMain.run(spark, csv, industry, out, cache, Some(xlsx))
      case Some(tr) => stagedRun(tr)
    }

  /** The same calls `SurveyMain.run` makes, each inside a span. */
  private def stagedRun(tr: Tracer): (DataFrame, DataFrame) = {
    val df = tr.stage("sources.csv_read")(SurveyPipeline.readSurveyCsv(spark, csv))
    val qcols = SurveyPipeline.questionColumns(df)
    tr.stage("survey.sample")(SurveyPipeline.sampleAnswers(df, qcols))
    val clf = new CacheJoinClassifier(SurveyMain.loadCache(spark, cache), DemoAnswerClassifier)
    val wide = SurveyPipeline.analyzeWide(df, industry, clf)
    val summary = SurveyPipeline.buildSummary(wide)
    tr.stage("sources.parquet_write")(SurveyPipeline.writeReport(wide, summary, out))
    tr.stage("sources.xlsx_write")(SurveyPipeline.writeExcelReport(wide, xlsx))
    tr.stage("survey.cache_write") {
      val staged = cache + "._staged"
      SurveyMain.updatedCache(df, industry, qcols, clf).write.mode("overwrite").parquet(staged)
      rm(Paths.get(cache))
      Files.move(Paths.get(staged), Paths.get(cache))
    }
    (spark.read.parquet(s"$out/wide"), spark.read.parquet(s"$out/summary"))
  }

  def afterOp(name: String, stats: Option[OpStats]): (String, String) = {
    val (wide, summary) = last
    val got = (Check.digest(wide), Check.digest(summary))
    val inv = invariants(wide, summary)
    val copy = stats.forall(s => reference.contains(signature(s)))
    val check = s"wide ${got._1} summary ${got._2} invariants $inv" +
      (if (copy) "" else s"; traced calls ${stats.map(signature)} differ from SurveyMain.run's $reference")
    (if (got == cold && inv == "ok" && copy) "ok" else "wrong_result", check)
  }

  /** wide rows = Σ max(1, #products); summary counts = wide rows × questions. */
  private def invariants(wide: DataFrame, summary: DataFrame): String = {
    val n = wide.count()
    val total = summary.select(sentCols.map(c => sum(col(c))).reduce(_ + _)).head().getLong(0)
    if (n == wideRows && total == n * questions) "ok" else "wrong_result"
  }

  override def traceExtras(name: String, s: OpStats): Map[String, Any] = {
    // writeReport runs two SQL actions: the wide table's write, then the summary's
    val saves = s.actions.filter(_.stage == "sources.parquet_write").map(_.ms)
    val df = SurveyPipeline.readSurveyCsv(spark, csv)
    val qcols = SurveyPipeline.questionColumns(df)
    val keys = qcols.map(q => df.select(lit(q).as("question"), TextExprs.cleanText(col(q)).as("answer")))
      .reduce(_ unionByName _).distinct()
    val warmKeys = spark.read.parquet(warm).where(col("industry") === industry).select("question", "answer")
    val nKeys = keys.count()
    val hits = keys.join(warmKeys, Seq("question", "answer"), "left_semi").count()
    Map("survey_wide_save_s" -> saves.headOption.map(_ / 1e3).getOrElse(0.0),
      "survey_summary_save_s" -> saves.drop(1).headOption.map(_ / 1e3).getOrElse(0.0),
      "survey_keys" -> nKeys, "survey_cache_hits" -> hits,
      "survey_fanout" -> last._1.count().toDouble / responses)
  }

  private def rm(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  private def copy(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }
}

/** Layer probes of the traced run, each timed around public calls. */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  /** Rows per second of each native kernel reached through a public Column
    * builder, over the documents table (cached, 8 copies) into `noop`. */
  def kernelRates(spark: SparkSession, data: String): Map[String, Any] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(8).toDF("rep")).select(col("doc_id"), col("text")).cache()
    val n = docs.count()
    val text = col("text")
    val kernels: Seq[(String, DataFrame)] = Seq(
      "cleanText" -> docs.select(TextExprs.cleanText(text)),
      "classify" -> TextExprs.withClassification(docs, text, "cls").select("cls"),
      "shingles" -> docs.select(Dedup.shingles(text, 3)),
      "simhash" -> docs.select(Dedup.simhash(text)),
      "minhash" -> docs.select(graft.plans.MinHashExprs.minhashSignature(
        graft.plans.MinHashExprs.shingleHashes(text, 3), 64)),
      "termFreqs" -> docs.select(Retrieval.tfPairs(text)),
      "charGrams" -> docs.select(graft.plans.CharGramsExprs.charGrams(text, 3)),
      "wordGrams" -> docs.select(graft.plans.WordGramsExprs.wordGrams(text, 2)),
      "nfc" -> docs.select(graft.plans.NfcNormalize.nfc(text)),
      "ahoCorasick" -> docs.select(graft.plans.AcCountMatches.acCountMatches(text,
        Seq("spark", "stream", "hash join", "window", "data")))
    )
    val rates = kernels.map { case (k, q) =>
      noop(q)
      val ts = (1 to 3).map { _ => val t = System.nanoTime(); noop(q); (System.nanoTime() - t) / 1e9 }
      s"kernel.$k" -> n / median(ts)
    }
    docs.unpersist(blocking = true)
    rates.toMap
  }

  /** Seconds of each LexIndex/AnnIndex public call (build on 90 % of the
    * rows, append the rest, compact, query) and the files they wrote. */
  def indexCalls(spark: SparkSession, data: String, dir: String): Map[String, Any] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    def time(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val lex = s"$dir/lex"; val ann = s"$dir/ann"
    val qv = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    val t = Seq(
      "build" -> (time(LexIndex.build(docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"), lex))
        + time(AnnIndex.build(emb.where(col("vec_id") % 10 =!= 0), col("vec_id"), col("embedding"), ann))),
      "append" -> (time(LexIndex.append(spark, lex, docs.where(col("doc_id") % 10 === 0), col("doc_id"), col("text")))
        + time(AnnIndex.append(spark, ann, emb.where(col("vec_id") % 10 === 0), col("vec_id"), col("embedding")))),
      "compact" -> (time(LexIndex.compact(spark, lex, maxFragments = 1))
        + time(AnnIndex.compact(spark, ann, maxFragments = 1))),
      "query" -> (time(noop(LexIndex.query(spark, lex, Seq("spark", "vector", "stream"))))
        + time(noop(AnnIndex.query(spark, ann, qv, k = 5, nProbe = 2)))))
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toList
    t.map { case (k, v) => s"index.${k}_s" -> v }.toMap ++ Map(
      "index.probe_files" -> files.size,
      "index.probe_mb" -> files.map(Files.size(_)).sum / 1048576.0)
  }

  /** Files and MB the op wrote under the query books' index directories. */
  def indexWrites(sinceMs: Long): Map[String, Any] = {
    val root = Paths.get("target")
    val files = if (!Files.exists(root)) Nil else Files.walk(root).iterator().asScala.filter { f =>
      val s = f.toString
      (s.contains("index") || s.contains("hybrid")) && !s.contains("probe") &&
        Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis >= sinceMs
    }.toList
    Map("index_files_written" -> files.size,
      "index_mb_written" -> files.map(Files.size(_)).sum / 1048576.0)
  }
}
