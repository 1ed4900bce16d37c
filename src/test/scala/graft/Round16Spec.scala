package graft

import org.apache.spark.sql.functions._
import graft.multimodal.AviCodec
import graft.plans.{AcAutomaton, AcRedactTyped}
import org.apache.spark.unsafe.types.UTF8String

/** Round-16 operator semantics: typed (per-pattern-class) redaction, the
  * AVI chunk-walker corruption guards, the persisted BM25 index round
  * trip, and the corpus-adaptive linkage-blocking rule. */
class Round16Spec extends SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  private def typed(text: String, pats: Seq[(String, String)]): String = {
    val ac = AcAutomaton(pats.map(_._1.getBytes("UTF-8")).toArray)
    ac.redactTyped(u(text), pats.map(_._2.getBytes("UTF-8")).toArray).toString
  }

  // ---------------- typed redaction ----------------

  test("redactTyped replaces each match with ITS pattern's class mask") {
    val pats = Seq("mail kudu" -> "<EMAIL>", "ring vole" -> "<PHONE>")
    assert(typed("x mail kudu y ring vole z", pats) === "x <EMAIL> y <PHONE> z")
  }

  test("redactTyped is leftmost-longest WITHIN a class sharing a prefix") {
    val pats = Seq(
      "mail kudu at vole dot net" -> "<EMAIL>", "mail kudu" -> "<EMAIL2>")
    // same start: the longer pattern wins, its own mask is used
    assert(typed("a mail kudu at vole dot net b", pats) === "a <EMAIL> b")
    // alone, the short one fires with ITS mask
    assert(typed("a mail kudu b", pats) === "a <EMAIL2> b")
  }

  test("redactTyped adjudicates CROSS-class overlap by leftmost, skip past the match") {
    val pats = Seq("mail kudu" -> "<EMAIL>", "kudu seven" -> "<PHONE>",
      "seven vole" -> "<ID>")
    // "mail kudu seven vole": EMAIL wins at 0 (leftmost), consuming "kudu";
    // the overlapped PHONE start is dead; scan resumes at " seven vole" → ID
    assert(typed("mail kudu seven vole", pats) === "<EMAIL> <ID>")
    // without the EMAIL lead-in, PHONE fires first and ID is overlapped away
    assert(typed("kudu seven vole", pats) === "<PHONE> vole")
  }

  test("redactTyped never rescans mask bytes (a mask containing another class's pattern cannot cascade)") {
    val pats = Seq("aa" -> "xbbx", "bb" -> "<B>")
    assert(typed("aa bb", pats) === "xbbx <B>")
  }

  test("redactTyped returns the input unchanged (same instance) when nothing matches") {
    val ac = AcAutomaton(Array("zzz".getBytes("UTF-8")))
    val in = u("no hits here")
    assert(ac.redactTyped(in, Array("<Z>".getBytes("UTF-8"))) eq in)
  }

  test("AcRedactTyped rejects mismatched mask arity and duplicate patterns") {
    import org.apache.spark.sql.graft.ColumnBridge
    val c = ColumnBridge.expression(lit("x"))
    intercept[IllegalArgumentException] {
      AcRedactTyped(c, Seq("a", "b"), Seq("<A>"))
    }
    intercept[IllegalArgumentException] {
      AcRedactTyped(c, Seq("a", "a"), Seq("<A>", "<B>"))
    }
  }

  test("ac_redact_typed agrees with ac_redact when every class shares one mask") {
    val docs = spark.read.parquet(sf() + "/documents.parquet").limit(200)
    val pats = Seq("the", "and", "data")
    val both = docs.select(
      graft.plans.AcRedact.acRedact(col("text"), pats, "[X]").as("a"),
      graft.plans.AcRedactTyped.acRedactTyped(col("text"), pats,
        pats.map(_ => "[X]")).as("b"))
    assert(both.where(col("a") =!= col("b")).count() === 0L)
  }

  // ---------------- AVI corruption guards ----------------

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def riff(chunks: Array[Byte]): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le32(chunks.length + 4L) ++
      "AVI ".getBytes("US-ASCII") ++ chunks

  test("a chunk size >= 2^31 throws instead of hanging the walker (ADVICE r15)") {
    // size 0xFFFFFFF8 truncates to -8 as Int: the pre-guard walker
    // advanced by ZERO bytes forever; the guard must throw
    val evil = riff("LIST".getBytes("US-ASCII") ++ le32(0xFFFFFFF8L) ++
      "hdrl".getBytes("US-ASCII"))
    val e = intercept[IllegalArgumentException] {
      AviCodec.decodeMeta(1L, evil, "video")
    }
    assert(e.getMessage.contains("declares"), e.getMessage)
  }

  test("a chunk size overrunning its container throws, not reads past the buffer") {
    val evil = riff("LIST".getBytes("US-ASCII") ++ le32(1 << 20) ++
      "hdrl".getBytes("US-ASCII"))
    intercept[IllegalArgumentException] { AviCodec.decodeMeta(2L, evil, "video") }
  }

  test("an inner hdrl chunk with an oversized size throws (inner walker guard)") {
    // hdrl LIST of 12 bytes whose inner chunk claims 2^31-ish
    val inner = "avih".getBytes("US-ASCII") ++ le32(0xFFFFFFF0L)
    val lst = "LIST".getBytes("US-ASCII") ++ le32(inner.length + 4L) ++
      "hdrl".getBytes("US-ASCII") ++ inner
    intercept[IllegalArgumentException] { AviCodec.decodeMeta(3L, riff(lst), "video") }
  }

  // ---------------- persisted BM25 index ----------------

  test("LexIndex build+query reproduces Retrieval.bm25 exactly") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val terms = Seq("spark", "vector", "stream")
    val dir = s"target/test_lex_index/${System.nanoTime()}"
    graft.operators.LexIndex.build(docs, col("doc_id"), col("text"), dir)
    val fromIndex = graft.operators.LexIndex.query(spark, dir, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val direct = graft.operators.Retrieval.bm25(
        docs, col("doc_id"), col("text"), terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(fromIndex === direct)
    assert(fromIndex.nonEmpty)
  }

  test("LexIndex.append: build(A)+append(B) answers identically to build(A∪B)") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val terms = Seq("spark", "data")
    val full = s"target/test_lex_full/${System.nanoTime()}"
    val inc = s"target/test_lex_inc/${System.nanoTime()}"
    graft.operators.LexIndex.build(docs, col("doc_id"), col("text"), full)
    graft.operators.LexIndex.build(
      docs.where(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"), inc)
    graft.operators.LexIndex.append(spark, inc,
      docs.where(col("doc_id") % 7 === 0), col("doc_id"), col("text"))
    def res(dir: String) = graft.operators.LexIndex.query(spark, dir, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(res(inc) === res(full))
    assert(res(full).nonEmpty)
  }

  test("LexIndex query path scans ONLY the artifact, partition-pruned to the terms' buckets") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val dir = s"target/test_lex_index_plan/${System.nanoTime()}"
    graft.operators.LexIndex.build(docs, col("doc_id"), col("text"), dir)
    val q = graft.operators.LexIndex.query(spark, dir, Seq("spark", "stream"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      "query path must never touch the corpus:\n" + p.take(1500))
    assert(p.contains("tok_bucket"),
      "postings scan lost its partition filter:\n" + p.take(1500))
    assert("PartitionFilters: \\[[^\\]]*tok_bucket".r.findFirstIn(p).isDefined,
      "tok_bucket not in PartitionFilters:\n" +
        "PartitionFilters[^\\n]*".r.findAllIn(p).mkString("\n"))
    assert(p.contains("PushedFilters") && p.contains("In(token"),
      "token IN filter not pushed to the postings scan")
  }

  // ---------------- linkage blocking rule ----------------

  test("linkagePfxLen steps one char per decade of distinct names") {
    import graft.queries.QueryHelpers.linkagePfxLen
    assert(linkagePfxLen(64) === 3)
    assert(linkagePfxLen(10000) === 3)
    assert(linkagePfxLen(10001) === 4)
    assert(linkagePfxLen(100000) === 4)
    assert(linkagePfxLen(100001) === 5)
  }

  // ---------------- unigram cost capture ----------------

  test("UnigramLm.train captures one cost table per round plus the final table") {
    val sp = spark
    import sp.implicits._
    val vocab = Seq(("banana", 5L), ("bandana", 3L), ("anna", 2L))
      .toDF("word", "freq")
    // topSubs = 9 keeps this train's (maxPieceLen, topSubs, rounds) key
    // unique in the suite JVM (Round15Spec trains (3, 10, 2) on a
    // different vocab; same-params-different-vocab is deliberately
    // AMBIGUOUS under the r17 keyed capture)
    val out = graft.operators.UnigramLm.train(vocab, maxPieceLen = 3,
      topSubs = 9, rounds = 2)
    val tabs = graft.operators.UnigramLm.capturedCostsFor(3, 9, 2).get
    assert(tabs.length === 3) // rounds + final
    val finalCosts = tabs.last.toMap
    out.foreach { case (p, _, c6) => assert(finalCosts(p) === c6, p) }
  }
}
