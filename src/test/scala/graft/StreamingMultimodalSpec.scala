package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.multimodal.Multimodal
import graft.operators.{RemoteBatchClassifier}
import graft.streaming.EventStreams
import java.sql.Timestamp

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("mapGroupsWithState keeps running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val df = mem.toDF().toDF("event_type", "cents")
    val q = EventStreams.runningCentTotals(df)
      .writeStream.outputMode("update").format("memory").queryName("rt").start()
    try {
      mem.addData(("click", 100L), ("click", 200L), ("view", 500L))
      q.processAllAvailable()
      mem.addData(("click", 300L))
      q.processAllAvailable()
      val clicks = spark.table("rt").collect().filter(_.getString(0) == "click")
      assert(clicks.map(_.getLong(1)).max == 3) // state carried across batches
      assert(clicks.map(_.getLong(2)).max == 600L)
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases within the hour after an error") {
    implicit val sqlCtx = spark.sqlContext
    val errs = MemoryStream[(Long, Timestamp, Long)]
    val purch = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventStreams.errorPurchaseJoin(
      errs.toDF().toDF("event_id", "ts", "user_id"),
      purch.toDF().toDF("user_id", "ts", "value"))
    val q = joined.writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      errs.addData((100L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L))
      purch.addData(
        (7L, Timestamp.valueOf("2024-01-01 10:30:00"), 9.5),  // within 1h -> match
        (7L, Timestamp.valueOf("2024-01-01 12:00:00"), 1.0),  // too late -> no match
        (8L, Timestamp.valueOf("2024-01-01 10:10:00"), 2.0))  // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("error_id") == 100L)
      assert(math.abs(rows.head.getAs[Double]("purchase_value") - 9.5) < 1e-9)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits a session only when the watermark closes it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val df = mem.toDF().toDF("user_id", "ts", "cents")
    val q = EventStreams.closedCentSessions(df, gapMs = 10L * 60 * 1000)
      .writeStream.outputMode("append").format("memory").queryName("cs").start()
    try {
      mem.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 200L),
        (1L, Timestamp.valueOf("2024-01-01 00:01:00"), 300L))
      q.processAllAvailable()
      assert(spark.table("cs").count() == 0) // watermark 00:01 < timeout 00:11
      // user 2 at 01:00 pushes the watermark past user 1's 00:11 timeout
      mem.addData((2L, Timestamp.valueOf("2024-01-01 01:00:00"), 100L))
      q.processAllAvailable()
      val rows = spark.table("cs").collect()
      assert(rows.length == 1) // user 1 closed; user 2 (timeout 01:10) still open
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(rows.head.getAs[Long]("n_events") == 2L)
      assert(rows.head.getAs[Long]("cents") == 500L)
      assert(rows.head.getAs[Long]("last_ts_ms") - rows.head.getAs[Long]("first_ts_ms") == 60000L)
    } finally q.stop()
  }

  test("stream-static join enriches events with a broadcast dimension table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq(("click", "engagement"), ("purchase", "revenue"))
      .toDF("event_type", "category")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("event_id", "event_type")
    val q = EventStreams.enrichWithDim(stream, dim, "event_type")
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      mem.addData((1L, "click"), (2L, "purchase"), (3L, "error"))
      q.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => r.getLong(1) -> Option(r.getString(2))).toMap
      assert(got == Map(1L -> Some("engagement"), 2L -> Some("revenue"), 3L -> None))
    } finally q.stop()
  }

  test("parquet sink + checkpoint: restart resumes exactly-once, no duplicate output") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toFile
    val out = new java.io.File(dir, "out").getAbsolutePath
    val chk = new java.io.File(dir, "chk").getAbsolutePath
    val mem = MemoryStream[(Long, Double)]
    def start() = mem.toDF().toDF("id", "v").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", chk)
      .outputMode("append").start()
    mem.addData((1L, 1.0), (2L, 2.0))
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    mem.addData((3L, 3.0))
    // second query instance, SAME checkpoint: must resume past batch 0 —
    // the committed offsets gate replay, the file-sink log gates re-writes
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"exactly-once violated: $ids")
  }

  test("multimodal decode plumbing: deterministic stub metadata + frame sampling") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val meta = Multimodal.decodeMeta(Multimodal.packFake(docs))
    val m = meta.collect()
    assert(m.length == docs.count())
    assert(m.forall(r => r.width >= 64 && r.width < 640))
    val again = Multimodal.decodeMeta(Multimodal.packFake(docs)).collect()
    assert(m.map(_.doc_id).sorted.sameElements(again.map(_.doc_id).sorted))
    val frames = Multimodal.sampleFrames(meta, stride = 30)
    assert(frames.count() >= meta.filter(_.kind == "video").count())
  }

  test("classifiedSummary: the survey dataflow runs as a stream (foreachBatch cache-join classify)") {
    implicit val sqlCtx = spark.sqlContext
    val base = "target/tmp/stream_summary"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val mem = MemoryStream[(String, String)]
    val df = mem.toDF().toDF("product", "answer")
    val q = EventStreams.classifiedSummary(df, "retail",
      graft.operators.DemoAnswerClassifier, s"$base/out", s"$base/ckpt")
    try {
      mem.addData(("Alpha", "I love it"), ("Alpha", "terrible support"), ("Beta", "n/a"))
      q.processAllAvailable()
      mem.addData(("Beta", "love the quality"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$base/out")
      val m = out.collect().map(r =>
        (r.getAs[String]("product"), r.getAs[String]("sentiment")) -> r.getAs[Long]("n")).toMap
      assert(m(("Alpha", "Positive")) == 1 && m(("Alpha", "Negative")) == 1)
      assert(m(("Beta", "Neutral")) == 1)  // filler route, batch 0
      assert(m(("Beta", "Positive")) == 1) // batch 1
      assert(out.select("batch_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("RemoteBatchClassifier: retry then degrade to (Neutral, No Feedback)") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky: (String, String, String) => (String, String) = (_, _, ans) => {
      if (ans.contains("fail")) throw new RuntimeException("boom")
      ("positive", "Cat")
    }
    val clf = new RemoteBatchClassifier(flaky, maxAttempts = 3, sleeper = _ => ())
    val keys = Seq(("i", "q", "ok answer"), ("i", "q", "fail answer"))
      .toDF("industry", "question", "answer")
    val out = clf.classify(keys).collect()
      .map(r => r.getAs[String]("answer") -> (r.getAs[String]("sentiment"), r.getAs[String]("category"))).toMap
    assert(out("ok answer") == ("Positive", "Cat"))
    assert(out("fail answer") == ("Neutral", "No Feedback"))
  }

  test("nearDupDocStream flags a near-identical later doc, passes distinct ones") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat watches from the warm window sill every single day"
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.nearDupDocStream(df)
      .writeStream.outputMode("append").format("memory").queryName("ndd").start()
    try {
      mem.addData((1L, base), (2L, "completely different content about spark " +
        "catalyst plans and shuffle exchanges at massive corpus scale today"))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 1 — raw text differs (extra whitespace)
      // but cleanText normalizes it, so its simhash is within the hamming
      // threshold deterministically — and a fresh doc
      mem.addData((3L, "  " + base.replace(" the ", "  the ") + " "),
        (4L, "yet another unrelated document with its own vocabulary entirely"))
      q.processAllAvailable()
      val verdicts = spark.table("ndd").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(verdicts(1L) == 0 && verdicts(2L) == 0, s"first arrivals are not dups: $verdicts")
      assert(verdicts(3L) == 1, s"the near-copy must be flagged: $verdicts")
      assert(verdicts(4L) == 0, s"distinct content must pass: $verdicts")
      // the per-doc vote fold must hold ZERO state between batches (the
      // unbounded-state fix: no state-store row per ever-seen doc_id)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal)
      assert(stateRows.exists(_ == 0L),
        s"vote-fold operator must keep no state rows, got ${stateRows.mkString(",")}")
    } finally q.stop()
  }

  test("RemoteBatchClassifier truncates the transport answer to maxChars, key keeps full text") {
    // transport echoes what it was given via the category field
    val t: (String, String, String) => (String, String) = (_, _, a) => ("neutral", a)
    val clf = new RemoteBatchClassifier(t, maxChars = 5, sleeper = _ => ())
    val out = clf.classify(Seq(("i", "q", "0123456789")).toDF("industry", "question", "answer"))
      .collect()(0)
    assert(out.getAs[String]("category") == "01234") // truncated for the call
    assert(out.getAs[String]("answer") == "0123456789") // full text kept as key
  }
}
