package graft

import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Table-driven checks of the core text expressions against the reference
  * rules (survey_analysis.py:60,76-84,90-93,112-141). */
class TextExprsSpec extends SparkSpec {
  import spark.implicits._

  private def one(input: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
    Seq(input).toDF("s").select(c(col("s"))).collect()(0).get(0)

  /** The regex form [[TextExprs.tokenCountBpe]]'s native scan implements. */
  private def tokenCountBpeRegex(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(regexp_extract_all(coalesce(c, lit("")), lit(TextExprs.BpeTokenRegex), lit(0))).cast("int")

  test("cleanText strips, drops astral codepoints, collapses whitespace") {
    // verified reference semantics: "hola 🙂  mundo\t x" → "hola mundo x" (SURVEY.md §2.2)
    assert(one("hola 🙂  mundo\t x", TextExprs.cleanText) == "hola mundo x")
    assert(one("  a  b  ", TextExprs.cleanText) == "a b")
    assert(one("", TextExprs.cleanText) == "")
    assert(one("😕", TextExprs.cleanText) == "")
    val nullRes = Seq((1, null: String)).toDF("i", "s")
      .select(TextExprs.cleanText(col("s"))).collect()(0).get(0)
    assert(nullRes == "")
  }

  test("isFiller matches the FILLER_VALUES set after trim+lower") {
    val yes = Seq("", " ", "N/A", "na", "No", "NONE", "null", "nan",
      "Sin Comentarios", "NINGUNO", "-", "  -  ")
    val no = Seq("—", "ok", "n/a x", "0", "nulls")
    yes.foreach(v => assert(one(v, TextExprs.isFiller) == true, s"'$v' should be filler"))
    no.foreach(v => assert(one(v, TextExprs.isFiller) == false, s"'$v' should NOT be filler"))
  }

  test("normalizeSentiment canonicalizes, unknown → Neutral") {
    assert(one("  POSITIVE ", TextExprs.normalizeSentiment) == "Positive")
    assert(one("mixed", TextExprs.normalizeSentiment) == "Mixed")
    assert(one("meh", TextExprs.normalizeSentiment) == "Neutral")
    assert(one("", TextExprs.normalizeSentiment) == "Neutral")
  }

  test("demoCategory: ordered first-hit keyword table, substring semantics") {
    assert(one("the price is high but quality is poor", TextExprs.demoCategory) == "Price") // Price before Quality
    assert(one("llegó tarde el envío", TextExprs.demoCategory) == "Shipping")
    assert(one("great MATERIAL overall", TextExprs.demoCategory) == "Quality")
    assert(one("la talla es grande", TextExprs.demoCategory) == "Fit")
    assert(one("me encanta el diseño", TextExprs.demoCategory) == "Design")
    assert(one("need a refund", TextExprs.demoCategory) == "Support")
    assert(one("nothing relevant here", TextExprs.demoCategory) == "General")
    // substring (not word) semantics: "shipment" contains "ship"
    assert(one("shipment ok", TextExprs.demoCategory) == "Shipping")
  }

  test("demoSentiment: fallback lexicon p/n rules") {
    assert(one("I love it", TextExprs.demoSentiment) == "Positive")
    assert(one("terrible product", TextExprs.demoSentiment) == "Negative")
    assert(one("love it but arrived late", TextExprs.demoSentiment) == "Mixed")
    assert(one("it exists", TextExprs.demoSentiment) == "Neutral")
    assert(one("muy bueno", TextExprs.demoSentiment) == "Positive")
    assert(one("carísimo", TextExprs.demoSentiment) == "Negative")
  }

  test("withClassification: filler short-circuits to (Neutral, No Feedback)") {
    def classify(s: String) = TextExprs.withClassification(Seq(s).toDF("s"), col("s"), "c")
      .select("c.sentiment", "c.category").collect()(0)
    val r = classify("n/a")
    assert(r.getString(0) == "Neutral" && r.getString(1) == "No Feedback")
    // em-dash is NOT filler (FIXTURES.md A1) — classifies as Neutral/General
    val r2 = classify("—")
    assert(r2.getString(0) == "Neutral" && r2.getString(1) == "General")
  }

  test("token counts and langId") {
    assert(one("a b  c", TextExprs.tokenCountWs) == 3)
    assert(one("", TextExprs.tokenCountWs) == 0)
    assert(one("don't stop", TextExprs.tokenCountBpe) == 4) // don + ' + t + stop
    def langId(s: String): String =
      TextExprs.withLangId(Seq(s).toDF("s"), col("s"), "lang").select("lang").as[String].head()
    assert(langId("the cat and the hat") == "en")
    assert(langId("el gato y la casa de que") == "es")
    assert(langId("你好世界") == "zh")
    assert(langId("xyz qrs") == "und")
  }

  test("wordHitCount == the \\b-alternation regex count on adversarial inputs") {
    import graft.functions.Lexicons
    val texts = Seq(
      "the cat and the hat", // 3 en hits (the, and, the)
      "él el level elf _el el_ EL", // only the bare 'el' + lowercased 'EL' count
      "aTHEb the_x x_the the", // embedded/underscore-joined runs don't count
      "de la de-de de", // punctuation breaks runs
      "", "   ", "中文 the 中", "tab\tthe\nnewline the")
    val df = texts.toDF("t")
    Seq(Lexicons.StopwordsEn, Lexicons.StopwordsEs, Lexicons.StopwordsDe).foreach { set =>
      val got = df.select(
        TextExprs.wordHitCount(col("t"), set).as("native"),
        TextExprs.hitCount(col("t"), Lexicons.wordAlternation(set)).as("regex")).collect()
      got.zip(texts).foreach { case (r, t) =>
        assert(r.getInt(0) == r.getInt(1), s"set mismatch on '$t'")
      }
    }
  }

  test("punctCount (native char scan) == the regex char-class count") {
    val texts = Seq("a.b,c;d:e!f?g", "no punct", "...", "", "中.文!", "a . b ? !")
    val got = texts.toDF("t").select(
      TextExprs.punctCount(col("t")).as("native"),
      size(regexp_extract_all(lower(coalesce(col("t"), lit(""))),
        lit("[\\.,;:!\\?]"), lit(0))).cast("int").as("regex")).collect()
    got.zip(texts).foreach { case (r, t) =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on '$t'")
    }
  }

  test("tokenCountBpe (native scan) == the regex form on adversarial inputs") {
    val texts = Seq("hello world", "abc123def", "a.b!c", "  spaced  out  ",
      "中文mixed漢字", "émoji 🙂 test", "", "123", "___", "tab\there")
    val got = texts.toDF("t").select(
      TextExprs.tokenCountBpe(col("t")).as("native"),
      tokenCountBpeRegex(col("t")).as("regex")).collect()
    got.zip(texts).foreach { case (r, t) =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on '$t': ${r.getInt(0)} vs ${r.getInt(1)}")
    }
  }

  test("jaroWinkler matches the DuckDB-verified reference values") {
    import graft.plans.JaroWinklerImpl.{jaroWinkler => jw}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def eq(a: String, b: String, expect: Double): Unit =
      assert(math.abs(jw(u(a), u(b)) - expect) < 1e-12, s"jw($a, $b)")
    eq("martha", "marhta", 0.9611111111111111)
    eq("dixon", "dicksonx", 0.8133333333333332)
    eq("jellyfish", "smellyfish", 0.8962962962962964)
    eq("abc", "xyz", 0.0)
    eq("abcdef", "abcdef", 1.0)
    eq("a", "", 0.0)
    eq("", "", 0.0) // DuckDB convention: either side empty -> 0
    eq("ab", "ba", 0.0) // window 0: adjacent transposition can't match
    eq("crate", "trace", 0.7333333333333334)
    eq("aaaa", "aaab", 0.8833333333333334)
    eq("abcxxxxx", "abcyyzzz", 0.5833333333333334) // jaro <= 0.7: no boost
    eq("abcde", "aebdc", 0.76) // odd transposition count, integer halving
    eq("abcdef", "badcfe", 0.8333333333333334)
    eq("information", "informant", 0.9414141414141414)
  }

  test("sanitizeBase / sanitizeSheetName (driver-side)") {
    assert(TextExprs.sanitizeBase("  What  did you like? ") == "What_did_you_like?")
    assert(TextExprs.sanitizeSheetName("a/b:c*d") == "a b c d")
    assert(TextExprs.sanitizeSheetName("") == "Sheet")
    assert(TextExprs.sanitizeSheetName("x" * 40).length == 31)
  }
}
