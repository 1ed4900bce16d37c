package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.TextExprs
import graft.operators.{DemoAnswerClassifier, SurveyPipeline}
import graft.sources.Tables

/** Property-based invariants (SURVEY.md §5): clean_text idempotence, explode
  * fan-out arithmetic, summary count conservation, row-order independence. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** scalatest/scalacheck bridge is not in the offline cache — drive the
    * generators directly, fixed trial count, deterministic seed via retry. */
  private def trials[T](g: Gen[T], n: Int = 8): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val textGen: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.const(null.asInstanceOf[String]), // null answers must flow through
    Gen.listOf(Gen.oneOf("hola", "  ", "🙂", "love", "\t", "n/a", "—", "x"))
      .map(_.mkString(" ")),
  )

  test("cleanText is idempotent and never yields leading/trailing/double spaces") {
    trials(Gen.listOfN(20, textGen)).foreach { texts =>
      {
        val df = texts.toDF("t")
        val once = df.select(TextExprs.cleanText(col("t")).as("c"))
        val twice = once.select(TextExprs.cleanText(col("c")).as("c"))
        val a = once.collect().map(_.getString(0))
        val b = twice.collect().map(_.getString(0))
        assert(a.sameElements(b))
        assert(a.forall(s => s == s.trim && !s.contains("  ")))
      }
    }
  }

  /** The two-regex form [[TextExprs.cleanText]]'s native scan implements:
    * strip, drop astral codepoints (survey_analysis.py:79), collapse \s+, strip. */
  private def cleanTextRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(trim(coalesce(c, lit(""))),
      "[\\x{10000}-\\x{10FFFF}]", ""), "\\s+", " "))

  test("native cleanText == the two-regex reference form on adversarial inputs") {
    val hardGen: Gen[String] = Gen.listOf(Gen.oneOf(
      "a", "🙂", "😕", "é", "中", "\t", "\n", "\r", "", "\f",
      " ", "  ", "ß", "x🙂y", "—")).map(_.mkString(""))
    trials(Gen.listOfN(40, Gen.oneOf(hardGen, textGen)), n = 6).foreach { texts =>
      val df = texts.toDF("t")
      val got = df.select(
        TextExprs.cleanText(col("t")).as("native"),
        cleanTextRegex(col("t")).as("regex")).collect()
      got.foreach(r => assert(r.getString(0) == r.getString(1),
        s"native='${r.getString(0)}' regex='${r.getString(1)}'"))
    }
  }

  test("explode fan-out: wide rows == Σ max(1, #non-empty products)") {
    val productsGen = Gen.listOf(Gen.oneOf("A", "B", "C", " ", "")).map(_.mkString(","))
    trials(Gen.listOfN(12, productsGen)).foreach { prods =>
      {
        val df = prods.zipWithIndex
          .map { case (p, i) => (s"e$i", s"n$i", p, "some answer") }
          .toDF("Email", "Name", "Products", "Q1")
        val wide = SurveyPipeline.analyzeWide(df, "retail")
        val expected = prods.map { p =>
          math.max(1, p.split(",").map(_.trim).count(_.nonEmpty))
        }.sum
        assert(wide.count() == expected)
      }
    }
  }

  test("summary counts conserve wide rows x questions; invariant under row order") {
    trials(Gen.zip(Gen.listOfN(10, textGen), Gen.listOfN(10, textGen)), 5).foreach {
      case (q1, q2) =>
        {
          val rows = q1.zip(q2).zipWithIndex.map { case ((a, b), i) =>
            (s"e$i", s"n$i", if (i % 3 == 0) "P1,P2" else "P1", a, b)
          }
          val df = rows.toDF("Email", "Name", "Products", "QA", "QB")
          val shuffled = rows.reverse.toDF("Email", "Name", "Products", "QA", "QB")
          val wide = SurveyPipeline.analyzeWide(df, "retail")
          val s1 = SurveyPipeline.buildSummary(wide)
          val s2 = SurveyPipeline.buildSummary(
            SurveyPipeline.analyzeWide(shuffled, "retail"))
          val total = s1.select(
            sum(col("Positive") + col("Neutral") + col("Negative") + col("Mixed")))
            .collect()(0).getLong(0)
          assert(total == wide.count() * 2)
          assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0)
        }
    }
  }

  test("SpanDedup ≡ brute force on random small corpora (L=3, tiny vocab)") {
    // a 4-token vocabulary forces heavy span sharing; random lengths cover
    // the < L (excluded), == L (one window), and within-doc-only-repeat
    // (NOT counted — cross-doc requires >= 2 distinct docs) boundaries
    val L = 3
    val docGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    trials(Gen.listOfN(12, docGen), 5).foreach { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.SpanDedup
        .perDocDupShare(rows.toDF("id", "text"), col("id"), col("text"), L)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val toks = rows.map { case (i, t) => i -> t.split(" ").filter(_.nonEmpty).toSeq }
      val dupSet = toks
        .flatMap { case (i, ts) =>
          if (ts.size >= L) ts.sliding(L).map(w => (w.mkString(" "), i)) else Iterator.empty }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expect = toks.collect { case (i, ts) if ts.size >= L =>
        i -> (((ts.size - (L - 1)).toLong,
          ts.sliding(L).count(w => dupSet(w.mkString(" "))).toLong))
      }.filter(_._2._2 > 0).toMap
      assert(got == expect, s"corpus=$texts")
    }
  }

  test("incremental dedup ≡ self-join near-dups restricted to cross-slice pairs") {
    // the A×B banded join must find exactly the corpus∪batch self-join's
    // pairs that cross the slice boundary — same LSH params, same verify
    val docs = Tables.table(spark, sf(), "documents")
    val isBatch: Long => Boolean = _ % 10 == 0
    val got = graft.operators.Dedup.minhashNearDupsAgainst(
        corpus = docs.where(col("doc_id") % 10 =!= 0),
        batch = docs.where(col("doc_id") % 10 === 0),
        id = col("doc_id"), text = col("text"),
        shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = graft.operators.Dedup.minhashNearDups(
        docs, col("doc_id"), col("text"),
        shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .collect {
        case (a, b) if isBatch(a) && !isBatch(b) => (a, b)
        case (a, b) if isBatch(b) && !isBatch(a) => (b, a)
      }.toSet
    assert(got == expect)
    assert(got.nonEmpty, "the slice boundary must cut through some near-dup pairs")
  }

  test("banded LSH recall: every exact-Jaccard ≥ 0.7 cross-slice pair is produced (q113 oracle precondition)") {
    // The q113 DuckDB oracle is exact all-pairs Jaccard while the engine
    // generates candidates via 16×2 banded minhash — miss probability
    // (1−s²)^16 > 0 for pairs just above threshold. This pins the
    // data-dependent assumption the hash match rests on: on the shipped
    // fixture, brute-force exact Jaccard and the banded join agree.
    import graft.plans.MinHashExprs
    val docs = Tables.table(spark, sf(), "documents")
      .select(col("doc_id"), MinHashExprs.shingleHashes(
        TextExprs.cleanText(col("text")), 3).as("shh"))
      .where(size(col("shh")) > 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("batch_id"), col("shh").as("shh_a"))
    val corp = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("shh").as("shh_b"))
    val brute = batch.crossJoin(corp)
      .select(col("batch_id"), col("corpus_id"),
        MinHashExprs.jaccardSorted(col("shh_a"), col("shh_b")).as("j"))
      .where(col("j") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Tables.table(spark, sf(), "documents")
    val banded = graft.operators.Dedup.minhashNearDupsAgainst(
        corpus = full.where(col("doc_id") % 10 =!= 0),
        batch = full.where(col("doc_id") % 10 === 0),
        id = col("doc_id"), text = col("text"),
        shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture must contain cross-slice near-dups")
    assert(banded == brute,
      s"LSH missed ${(brute -- banded).take(5)} / extra ${(banded -- brute).take(5)}")
  }

  test("native hyperplane_bucket ≡ the unrolled when-chain form at 30 planes") {
    // sub-Int-width regime: values must match the old Int packing widened
    val planes = graft.functions.VectorExprs.deterministicPlanes(30, 64)
    val unrolled = {
      val bits = planes.zipWithIndex.map { case (p, i) =>
        when(graft.functions.VectorExprs.dot(col("embedding"),
          array(p.map(lit): _*)) >= 0.0, lit(1L << i)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }
    val e = Tables.table(spark, sf(), "embeddings")
    val diff = e.select(
        graft.functions.VectorExprs.hyperplaneBucket(col("embedding"), planes).as("a"),
        unrolled.as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0, s"$diff rows diverge between native and unrolled buckets")
  }

  test("hyperplane_bucket packs planes ≥32 into distinct high Long bits") {
    // the regime the old Int form silently wrapped: 1 << j aliases mod 32.
    // 40 planes → bits 32..39 must be reachable and must match a Long
    // unrolled form bit-for-bit.
    val planes = graft.functions.VectorExprs.deterministicPlanes(40, 64)
    val unrolled = {
      val bits = planes.zipWithIndex.map { case (p, i) =>
        when(graft.functions.VectorExprs.dot(col("embedding"),
          array(p.map(lit): _*)) >= 0.0, lit(1L << i)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }
    val e = Tables.table(spark, sf(), "embeddings")
    val res = e.select(
        graft.functions.VectorExprs.hyperplaneBucket(col("embedding"), planes).as("a"),
        unrolled.as("b"))
    assert(res.where(col("a") =!= col("b")).count() == 0,
      "native and unrolled Long buckets diverge")
    // high bits actually used: with 40 gaussian planes, some vector lands
    // on the positive side of at least one plane ≥32
    assert(res.where(shiftright(col("a"), 32) =!= 0L).count() > 0,
      "no bucket uses bits ≥32 — Int-wrap aliasing would be undetectable")
    // >64 planes is a clear error, not silent aliasing
    val err = intercept[IllegalArgumentException] {
      graft.functions.VectorExprs.hyperplaneBucket(col("embedding"),
        graft.functions.VectorExprs.deterministicPlanes(65, 8))
    }
    assert(err.getMessage.contains("max 64"))
  }

  test("cache-join classifier ≡ direct classify for any cache subset") {
    trials(Gen.zip(Gen.listOfN(15, textGen), Gen.choose(0, 15)), 5).foreach {
      case (answers, take) =>
      {
        val keys = answers.zipWithIndex
          .map { case (a, i) =>
            ("retail", "Q", Option(a).map(TextExprs.sanitizeBase).getOrElse("null") + i)
          }
          .toDF("industry", "question", "answer")
        val full = DemoAnswerClassifier.classify(keys)
        val cacheSubset = full.limit(take)
        val viaCache = new graft.operators.CacheJoinClassifier(cacheSubset, DemoAnswerClassifier)
          .classify(keys)
        assert(viaCache.except(full).count() == 0 && full.except(viaCache).count() == 0)
      }
    }
  }
}
