package graft

import org.apache.spark.sql.functions._
import graft.functions.Vader
import graft.operators.{SurveyPipeline, VaderDemoClassifier}

/** The VADER-compound port, verified against the reference's own shipped
  * artifacts: every one of the 278 (industry, question, answer) →
  * (sentiment, category) entries in /root/reference/.analysis_cache.json
  * was produced by the reference running its VADER demo branch — exact
  * agreement on all of them is the parity bar SURVEY.md §7.5 deferred. */
class VaderSpec extends SparkSpec {
  import spark.implicits._

  private lazy val lex = Vader.loadLexicon(ReferenceAssets.VaderLexicon)

  /** Every test reads reference artifacts (lexicon, memo cache, survey
    * csv) — skip cleanly, don't fail, on a checkout without them. */
  private def assumeRef(): Unit =
    ReferenceAssets.assume(ReferenceAssets.VaderLexicon, ReferenceAssets.memoCache)

  private lazy val cacheEntries: Seq[(String, String, String, String, String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(ReferenceAssets.memoCache))
    val it = root.fields()
    val buf = Seq.newBuilder[(String, String, String, String, String)]
    while (it.hasNext) {
      val e = it.next()
      val Array(ind, q, ans) = e.getKey.split("\\Q|||\\E", 3)
      buf += ((ind, q, ans, e.getValue.get(0).asText(), e.getValue.get(1).asText()))
    }
    buf.result()
  }

  test("lexicon loads the published ratings") {
    assumeRef()
    assert(lex.valence.size > 7000)
    assert(math.abs(lex.get("excellent") - 2.7) < 1e-9)
  }

  test("compound: hand-checked rule behaviors") {
    assumeRef()
    def c(s: String) = Vader.compound(s, lex)
    assert(c("") == 0.0)
    assert(c("the the the") == 0.0) // no lexicon hits
    assert(c("good") > 0 && c("bad") < 0)
    assert(c("very good") > c("good")) // booster
    assert(c("not good") < 0) // negation flips
    assert(c("GOOD stuff here") > c("good stuff here")) // caps emphasis
    assert(c("good!!!") > c("good")) // exclamation amplifier
    assert(c("bad but good") > c("good but bad")) // but-clause reweighting
    // normalize bound
    assert(math.abs(c("excellent excellent excellent excellent excellent")) <= 1.0)
  }

  test("BMP emoji convert to their descriptions before scoring (reference emoji pass)") {
    assumeRef()
    // only single-codepoint keys can ever fire (the reference probes the
    // dict one codepoint at a time); 1212 of the file's 3569 entries
    assert(lex.emoji.size == 1212)
    def c(s: String) = Vader.compound(s, lex)
    // U+263A "smiling face", U+2764 "red heart" — BMP codepoints that
    // survive clean_text's astral strip
    assert(c("I ☺ this") == c("I smiling face this"))
    assert(c("❤❤") == c("red heart red heart"))   // back-to-back get a separator
    assert(c("it☺") == c("it smiling face"))           // space inserted mid-token
    assert(c("service was ☺") > 0.0)                   // "smiling" carries valence
  }

  test("ALL 278 shipped memo-cache entries reproduce exactly (sentiment AND category)") {
    assumeRef()
    val keys = cacheEntries.map { case (i, q, a, _, _) => (i, q, a) }
      .toDF("industry", "question", "answer")
    val got = new VaderDemoClassifier(lex).classify(keys)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getString(3), r.getString(4))).toMap
    val diffs = cacheEntries.flatMap { case (i, q, a, sent, cat) =>
      val (gs, gc) = got((i, q, a))
      if (gs != sent || gc != cat) Some(s"($i|$q|$a): got ($gs,$gc) want ($sent,$cat)")
      else None
    }
    assert(cacheEntries.size == 278)
    assert(diffs.isEmpty, s"${diffs.size} mismatches:\n${diffs.take(10).mkString("\n")}")
  }

  test("VaderCompound expression survives codegen and matches direct eval") {
    assumeRef()
    val texts = cacheEntries.take(50).map(_._3).toDF("t")
    val viaExpr = texts.select(graft.plans.VaderCompound.compound(col("t"), lex))
      .collect().map(_.getDouble(0))
    val direct = texts.collect().map(r => Vader.compound(r.getString(0), lex))
    assert(viaExpr.toSeq == direct.toSeq)
  }

  test("full demo pipeline with the VADER classifier matches the cache on the corpus") {
    assumeRef()
    // end-to-end: the reference corpus through analyzeWide with the VADER
    // classifier — every classified (question, answer) must agree with the
    // shipped cache (filler rows short-circuit and are not in the cache)
    val df = SurveyPipeline.readSurveyCsv(spark, ReferenceAssets.SurveyCsv)
    val wide = SurveyPipeline.analyzeWide(PandasNa(df), "Apparel", new VaderDemoClassifier(lex))
    val cache = cacheEntries.map { case (_, q, a, s, _) => (q, a) -> s }.toMap
    val qcols = SurveyPipeline.questionColumns(df)
    val bases = SurveyPipeline.questionBases(qcols)
    val mismatches = bases.flatMap { case (base, q) =>
      wide.select(col(s"${base}_Answer"), col(s"${base}_Sentiment"))
        .collect()
        .flatMap { r =>
          val (ans, sent) = (r.getString(0), r.getString(1))
          cache.get((q, ans)) match {
            case Some(want) if want != sent => Some(s"$q|$ans: got $sent want $want")
            case _ => None
          }
        }
    }
    assert(mismatches.isEmpty, mismatches.take(10).mkString("\n"))
  }
}
