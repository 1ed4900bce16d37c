package graft

import org.apache.spark.sql.functions._
import graft.operators.LexIndex

/** Round-17 semantics: the LexIndex manifest-commit protocol (kill between
  * every pair of steps — query path green throughout, retry semantics
  * exact), the batched query-table retrieval plan shape, the artifact-only
  * hybrid plan pin, and the bucket-count step function. */
class Round17Spec extends SparkSpec {

  private def docs = spark.read.parquet(sf() + "/documents.parquet")
  private val terms = Seq("spark", "vector", "stream")

  private def fresh(tag: String) = s"target/test_r17_$tag/${System.nanoTime()}"

  private def answers(dir: String): Set[(Long, Double)] =
    LexIndex.query(spark, dir, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  private def standing = docs.where(col("doc_id") % 7 =!= 0)
  private def batch = docs.where(col("doc_id") % 7 === 0)

  /** One full-corpus reference build per suite run. */
  private lazy val fullAnswers: Set[(Long, Double)] = {
    val d = fresh("full")
    LexIndex.build(docs, col("doc_id"), col("text"), d)
    answers(d)
  }
  private lazy val standingAnswers: Set[(Long, Double)] = {
    val d = fresh("standing")
    LexIndex.build(standing, col("doc_id"), col("text"), d)
    answers(d)
  }

  // ---------------- manifest-commit protocol: kill between every step ----

  for (fp <- Seq("append-post-data", "append-post-gens")) {
    test(s"append killed at $fp: query serves the OLD index; retry lands the batch exactly once") {
      val dir = fresh(s"kill_$fp")
      LexIndex.build(standing, col("doc_id"), col("text"), dir)
      LexIndex.failpoint = Some(fp)
      try intercept[IllegalStateException] {
        LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
      } finally LexIndex.failpoint = None
      // pre-commit kill: the manifest is untouched, so the query path is
      // the standing index — the orphaned attempt is invisible
      assert(answers(dir) === standingAnswers)
      // retry: the orphans are in the before-listing, so they can never
      // enter the manifest; the committed index equals a one-shot build
      LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
      assert(answers(dir) === fullAnswers)
    }
  }

  test("append killed between commit and GC: batch is live; retry refuses (disjointness)") {
    val dir = fresh("kill_append_post_commit")
    LexIndex.build(standing, col("doc_id"), col("text"), dir)
    LexIndex.failpoint = Some("append-post-commit")
    try intercept[IllegalStateException] {
      LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
    } finally LexIndex.failpoint = None
    assert(answers(dir) === fullAnswers) // commit happened — batch visible
    // a retry would double-count the batch: the guard must refuse
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
    }
    assert(e.getMessage.contains("already indexed"), e.getMessage)
    assert(answers(dir) === fullAnswers) // refusal changed nothing
  }

  for (fp <- Seq("compact-post-data", "compact-post-commit")) {
    test(s"compact killed at $fp: content invariant; retry completes the maintenance") {
      val dir = fresh(s"kill_$fp")
      LexIndex.build(standing, col("doc_id"), col("text"), dir)
      LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
      LexIndex.failpoint = Some(fp)
      try intercept[IllegalStateException] {
        LexIndex.compact(spark, dir, maxFragments = 1)
      } finally LexIndex.failpoint = None
      assert(answers(dir) === fullAnswers) // compaction is invisible at every step
      LexIndex.compact(spark, dir, maxFragments = 1)
      assert(answers(dir) === fullAnswers)
    }
  }

  test("a torn (partial) manifest write with the highest seq is skipped, not served") {
    val dir = fresh("torn_manifest")
    LexIndex.build(docs, col("doc_id"), col("text"), dir)
    // a torn write: highest-seq file without the commit terminator
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/manifest/m${"0" * 18}99.txt"),
      "dict=dict/g9\nstats=stats/g9\np=postings/garbage.parquet\n")
    assert(answers(dir) === fullAnswers)
    // an unparseable manifest name must be skipped, not crash the reader
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/manifest/m${"9" * 20}.txt"), "junk")
    assert(answers(dir) === fullAnswers)
  }

  test("orphan data files and stray generations are invisible to the query path") {
    val dir = fresh("orphans")
    LexIndex.build(docs, col("doc_id"), col("text"), dir)
    val before = answers(dir)
    // junk postings INTO the very bucket the query will scan — if the
    // reader trusted directory listings over the manifest, these rows
    // would corrupt the scores
    val b = spark.sql("SELECT pmod(xxhash64('spark'), 16)").head().getLong(0)
    val junkDir = new java.io.File(s"$dir/postings/tok_bucket=$b")
    val preJunk = junkDir.listFiles().map(_.getName).toSet
    spark.range(5).select(lit("spark").as("token"),
        (col("id") + 1000000L).as("doc_id"), lit(99L).as("tf"), lit(99L).as("dl"))
      .write.mode("append").parquet(junkDir.getPath)
    // data files only: the direct write also drops _SUCCESS markers,
    // which are not data and outside the sweep's contract
    val junkNames = (junkDir.listFiles().map(_.getName).toSet -- preJunk)
      .filter(_.endsWith(".parquet"))
    // stray generation dirs (a crashed writer's debris)
    spark.range(1).select(lit("zzz").as("token"), lit(1L).as("dfreq"))
      .write.parquet(s"$dir/dict/g99")
    assert(answers(dir) === before)
    // a NO-OP compact (nothing over-fragmented) must still sweep debris
    // that no retained manifest references (review r17 finding #3)
    assert(LexIndex.compact(spark, dir, maxFragments = 5).isEmpty)
    assert(junkDir.listFiles().map(_.getName).toSet.intersect(junkNames).isEmpty,
      "no-op compact must sweep unreferenced debris")
    assert(!new java.io.File(s"$dir/dict/g99").exists(),
      "no-op compact must reclaim stray generations")
    assert(answers(dir) === before)
    // a REWRITING compact leaves exactly one LIVE fragment per bucket
    // (the replaced fragment stays on disk for the retention window)
    LexIndex.compact(spark, dir, maxFragments = 0)
    assert(answers(dir) === before)
    val liveInBucket = LexIndex.livePostingFiles(spark, dir)
      .count(_.contains(s"tok_bucket=$b/"))
    assert(liveInBucket === 1, "compact must leave exactly one live fragment")
  }

  test("a plan resolved before a commit keeps collecting across it (retention window)") {
    val dir = fresh("retention_append")
    LexIndex.build(standing, col("doc_id"), col("text"), dir)
    val preCommitPlan = LexIndex.query(spark, dir, terms) // resolves the m1 snapshot
    LexIndex.append(spark, dir, batch, col("doc_id"), col("text"))
    // the superseded snapshot (manifest m1's dict/stats gens and files)
    // must still be fully readable for one commit
    assert(preCommitPlan.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === standingAnswers)
    assert(answers(dir) === fullAnswers)
  }

  test("rebuild over a LIVE index is a commit, not a wipe") {
    val dir = fresh("rebuild_live")
    LexIndex.build(standing, col("doc_id"), col("text"), dir)
    val preCommitPlan = LexIndex.query(spark, dir, terms)
    LexIndex.build(docs, col("doc_id"), col("text"), dir) // rebuild, same dir
    assert(answers(dir) === fullAnswers)
    // one snapshot of history: the pre-rebuild plan still collects
    assert(preCommitPlan.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet === standingAnswers)
    // a third rebuild pushes the first snapshot out of the window — its
    // files are reclaimed, and only two manifests remain on disk
    LexIndex.build(docs, col("doc_id"), col("text"), dir)
    assert(answers(dir) === fullAnswers)
    val manifests = new java.io.File(s"$dir/manifest").listFiles()
      .count(_.getName.endsWith(".txt"))
    assert(manifests === 2, s"retention window must keep exactly 2 manifests, saw $manifests")
  }

  // ---------------- guards ----------------

  test("query on an empty index refuses (n_docs = 0 — avgdl undefined)") {
    val dir = fresh("empty")
    LexIndex.build(docs.where(lit(false)), col("doc_id"), col("text"), dir)
    val e = intercept[IllegalArgumentException] {
      LexIndex.query(spark, dir, Seq("spark"))
    }
    assert(e.getMessage.contains("n_docs = 0"), e.getMessage)
  }

  // ---------------- bucket-count step function ----------------

  test("nBucketsFor: power-of-two steps, one doubling per vocab doubling") {
    assert(LexIndex.nBucketsFor(0) === 16)
    assert(LexIndex.nBucketsFor(16 * 2048) === 16)
    assert(LexIndex.nBucketsFor(16 * 2048 + 1) === 32)
    assert(LexIndex.nBucketsFor(32 * 2048) === 32)
    assert(LexIndex.nBucketsFor(32 * 2048 + 1) === 64)
    assert(LexIndex.nBucketsFor(1L << 24) === (1 << 24) / 2048)
  }

  // ---------------- batched query-table retrieval ----------------

  test("queryMany matches a per-query loop of query() exactly") {
    val sp = spark
    import sp.implicits._
    val dir = fresh("many")
    LexIndex.build(docs, col("doc_id"), col("text"), dir)
    val qs = Seq((0L, Seq("spark", "vector")), (1L, Seq("stream")),
      (2L, Seq("spark", "spark", "table"))) // dup term: set semantics
    val got = LexIndex.queryMany(spark, dir, qs.toDF("query_id", "terms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = qs.flatMap { case (qid, ts) =>
      LexIndex.query(spark, dir, ts.distinct)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("queryMany plan: ONE postings scan for all queries, zero corpus reads") {
    val sp = spark
    import sp.implicits._
    val dir = fresh("manyplan")
    LexIndex.build(docs, col("doc_id"), col("text"), dir)
    val q = (0L to 63L).map(i => (i, Seq("spark", "stream"))).toDF("query_id", "terms")
    val plan = LexIndex.queryMany(spark, dir, q, k = 10).queryExecution.executedPlan
    val scans = PlanInspect(plan)
    assert(scans.scansOf("postings") === 1,
      s"expected exactly one postings scan, got ${scans.scansPerTable}:\n" + plan.toString.take(2000))
    assert(scans.scansOf("documents") === 0,
      "queryMany must never touch the corpus:\n" + plan.toString.take(1500))
  }

  // ---------------- unigram capture keying ----------------

  test("capturedCostsFor: unique key resolves; same params + different vocab is ambiguous") {
    val sp = spark
    import sp.implicits._
    import graft.operators.UnigramLm
    // params chosen unique to this test in the suite JVM
    val p = (2, 7, 1)
    assert(UnigramLm.capturedCostsFor(p._1, p._2, p._3).isEmpty)
    UnigramLm.train(Seq(("aba", 4L)).toDF("word", "freq"), p._1, p._2, p._3)
    assert(UnigramLm.capturedCostsFor(p._1, p._2, p._3).isDefined)
    // a second corpus under the SAME params → ambiguous → None (the twin
    // must fall back to its own ln() derivation, never guess)
    UnigramLm.train(Seq(("zzz", 4L)).toDF("word", "freq"), p._1, p._2, p._3)
    assert(UnigramLm.capturedCostsFor(p._1, p._2, p._3).isEmpty)
  }

  // ---------------- artifact-only hybrid ----------------

  for (q <- Seq("q348_hybrid_artifacts", "q352_hybrid_query_table")) {
    test(s"$q answer plan reads ONLY the two artifacts — no corpus scans") {
      val df = graft.SparkEntry.queries(q)(spark, sf())
      val scans = PlanInspect(df).scansPerTable
      assert(!scans.contains("documents") && !scans.contains("embeddings"),
        s"hybrid answer path scanned a source table: $scans")
      assert(df.count() > 0)
    }
  }
}
