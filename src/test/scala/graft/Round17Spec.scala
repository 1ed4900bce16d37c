package graft

import org.apache.spark.sql.functions._
import graft.operators.LexIndex

/** Round-17 semantics: the LexIndex empty-index refusal, the batched
  * query-table retrieval plan shape, the artifact-only hybrid plan pin, and
  * the bucket-count step function. The manifest-commit protocol tests are
  * in IndexLogSpec. */
class Round17Spec extends SparkSpec {

  private def docs = spark.read.parquet(sf() + "/documents.parquet")

  private def fresh(tag: String) = s"target/test_r17_$tag/${System.nanoTime()}"

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
