package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Core text expressions of the engine, all pure Catalyst expression trees
  * (codegen'd, pushdown-friendly — no UDFs on the hot path).
  *
  * Reference semantics (cites into /root/reference/survey_analysis.py):
  *  - cleanText          :76-81   strip → drop astral codepoints → collapse \s+ → strip
  *  - isFiller           :60,83-84
  *  - normalizeSentiment :90-93
  *  - demoCategory       :63-70,112-116  ordered first-hit keyword table
  *  - demoSentiment      :131-136        fallback-lexicon branch (VADER absent on JVM)
  *  - withClassification :138-141,284-285 incl. the filler short-circuit
  */
object TextExprs {

  /** survey_analysis.py:76-81. Null-safe: non-string/null → "".
    * Native single-pass byte scan (plans.CleanText) — semantically equal to
    * trim(regexp_replace(regexp_replace(trim(s), astral, ''), '\\s+', ' '))
    * and asserted so by PropertySpec's differential property test. */
  def cleanText(c: Column): Column =
    graft.plans.CleanText.clean(coalesce(c, lit("")))

  /** Whitespace token COUNT over [[cleanText]]'d lowercased text with empty
    * tokens dropped — THE counting convention shared by every token-
    * accounting query (the token streams q148/q152/q161/q166 aggregate
    * filter `tok != ''`; a whitespace-only doc counts 0 tokens, never 1),
    * so per-source n_tokens agrees suite-wide. Twin SQL:
    * `len(list_filter(string_split(lower(<clean>), ' '), t -> t <> ''))`. */
  def tokenCount(c: Column): Column =
    size(filter(split(lower(cleanText(c)), " "), t => t =!= "")).cast("long")

  /** survey_analysis.py:83-84 — lower(trim(s)) ∈ FILLER_VALUES. */
  def isFiller(c: Column): Column =
    lower(trim(coalesce(c, lit("")))).isin(Lexicons.FillerValues: _*)

  /** survey_analysis.py:90-93 — canonicalize a free-form sentiment string. */
  def normalizeSentiment(c: Column): Column = {
    val low = lower(trim(coalesce(c, lit(""))))
    when(low === "positive", "Positive")
      .when(low === "neutral", "Neutral")
      .when(low === "negative", "Negative")
      .when(low === "mixed", "Mixed")
      .otherwise("Neutral")
  }

  /** survey_analysis.py:105-106 — header → wide-column base (driver-side). */
  def sanitizeBase(header: String): String = header.trim.replaceAll("\\s+", "_")

  /** survey_analysis.py:367-368 — Excel sheet-name sanitization (driver-side). */
  def sanitizeSheetName(name: String): String = {
    val cleaned = name.replaceAll("[:\\\\/?*\\[\\]]", " ").take(31).trim
    if (cleaned.isEmpty) "Sheet" else cleaned
  }

  /** `any(k in low)` — the reference's substring-containment test. Native
    * byte-probe expression (plans.ContainsAny): identical semantics to
    * `rlike(alternation)` for the all-literal lexicons (Lexicons.alternation
    * asserts no metacharacters), minus the regex engine — the classifier
    * runs 8 of these per answer column, making this THE hot scan. */
  private def hitsAny(low: Column, words: Seq[String]): Column =
    graft.plans.ContainsAny.containsAny(low, words)

  /** The category rule over already-lowered text. */
  private def categoryOfLow(low: Column): Column =
    Lexicons.DemoKeywords.foldRight(lit("General")) { case ((cat, kws), rest) =>
      when(hitsAny(low, kws), cat).otherwise(rest)
    }

  /** The sentiment rule over already-lowered text. */
  private def sentimentOfLow(low: Column): Column = {
    val hasPos = hitsAny(low, Lexicons.PositiveWords)
    val hasNeg = hitsAny(low, Lexicons.NegativeWords)
    when(hasPos && hasNeg, "Mixed")
      .when(hasPos, "Positive")
      .when(hasNeg, "Negative")
      .otherwise("Neutral")
  }

  /** Ordered keyword-table category — survey_analysis.py:112-116.
    * First category whose keyword list hits wins; else "General". */
  def demoCategory(c: Column): Column = categoryOfLow(lower(coalesce(c, lit(""))))

  /** Fallback-lexicon sentiment — survey_analysis.py:131-136.
    * Mixed if both polarities hit, else Positive / Negative / Neutral. */
  def demoSentiment(c: Column): Column = sentimentOfLow(lower(coalesce(c, lit(""))))

  /** VADER-branch demo sentiment — survey_analysis.py:118-127, the branch
    * the reference takes when vaderSentiment is installed (it scored the
    * shipped golden workbook and memo cache). Thresholds ±0.35 on the
    * compound score; "but/aunque/pero" texts inside the neutral band are
    * Mixed. The `abs(sc) < 0.35` guard of the reference is implied by
    * branch order (a CASE WHEN arm only runs once ±0.35 failed). */
  def demoSentimentVader(c: Column, lex: Vader.Lexicon): Column = {
    val txt = coalesce(c, lit(""))
    val sc = graft.plans.VaderCompound.compound(txt, lex)
    when(sc >= 0.35, "Positive")
      .when(sc <= -0.35, "Negative")
      .when(hitsAny(lower(txt), Seq("but", "aunque", "pero")), "Mixed")
      .otherwise("Neutral")
  }

  /** Staged classifier over pre-computed `cln = cleanText(text)` and
    * `low = lower(cln)` attribute columns. Each regex input is an attribute,
    * so the whole struct is a small expression tree that evaluates cln/low
    * exactly once per row inside whole-stage codegen. */
  def classifyFromCleaned(cln: Column, low: Column): Column =
    // cln is already trimmed, so filler test reduces to low ∈ FILLER_VALUES
    when(low.isin(Lexicons.FillerValues: _*),
        struct(lit("Neutral").as("sentiment"), lit("No Feedback").as("category")))
      .otherwise(struct(sentimentOfLow(low).as("sentiment"), categoryOfLow(low).as("category")))

  /** The demo classifier with the filler short-circuit
    * (survey_analysis.py:284-285 routing + :138-141 compose): adds `outCol`
    * = struct(sentiment, category) of `text`. The CASE WHEN guard keeps the
    * keyword scans off filler rows. The two intermediate projections are the
    * whole point: composed as one Column, the cleanText tree is re-embedded
    * in every branch (conditionals block Catalyst subexpression
    * elimination), and the generated method outgrows the JIT and runs
    * interpreted, ~50× slower. */
  def withClassification(df: org.apache.spark.sql.DataFrame, text: Column,
      outCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn(s"_${outCol}_cln", cleanText(text))
      .withColumn(s"_${outCol}_low", lower(col(s"_${outCol}_cln")))
      .withColumn(outCol, classifyFromCleaned(col(s"_${outCol}_cln"), col(s"_${outCol}_low")))
      .drop(s"_${outCol}_cln", s"_${outCol}_low")

  // ------------------------------------------------------------------
  // Text-analysis extensions (engine scope beyond the reference — token
  // counting, quality scoring, language ID, fingerprinting).
  // ------------------------------------------------------------------

  /** Whitespace token count of the cleaned text; "" → 0. */
  def tokenCountWs(c: Column): Column = {
    val cleaned = cleanText(c)
    when(cleaned === "", lit(0)).otherwise(size(split(cleaned, " "))).cast("int")
  }

  /** BPE-ish token count: runs of letters, single digits, single
    * non-alphanumeric marks — a cheap proxy for subword token cost.
    * Native single-scan form (plans.BpeCount); the regex it implements is
    * kept here for the oracle twins (TextExprsSpec checks the two agree). */
  val BpeTokenRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def tokenCountBpe(c: Column): Column =
    graft.plans.BpeCount.bpeCount(coalesce(c, lit("")))

  /** Count of regex hits in lowercased text (kept for char-class patterns,
    * e.g. the CJK range; plain word sets go through [[wordHitCount]]). */
  def hitCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(lower(coalesce(c, lit(""))), lit(pattern), lit(0))).cast("int")

  /** `\b(w1|w2|...)\b` hit count in lowercased text as a native byte scan
    * (plans.WordSetCount) — a maximal \w-run is a \b-token, so set
    * membership over token runs is exactly the regex count, minus the
    * regex engine. The five-per-document language-ID scans run through
    * this. Differential-tested against [[hitCount]] in TextExprsSpec. */
  def wordHitCount(c: Column, words: Seq[String]): Column =
    graft.plans.WordSetCount.wordSetCount(lower(coalesce(c, lit(""))), words)

  /** Decision rule of the stopword-count language ID, over pre-computed hit
    * counts (attributes — keep the regex scans in a prior projection).
    * Ties broken by fixed priority en > es > de > fr; no hits → "und". */
  def langIdFromHits(en: Column, es: Column, de: Column, fr: Column, cjk: Column): Column = {
    val best = greatest(en, es, de, fr)
    when(cjk > 0, "zh")
      .when(best === 0, "und")
      .when(en === best, "en")
      .when(es === best, "es")
      .when(de === best, "de")
      .otherwise("fr")
  }

  /** Stopword-count language ID over {en, es, de, fr} + CJK detection,
    * staged: one projection runs the five hit-count scans, the next applies
    * the decision rule over the attribute columns. */
  def withLangId(df: org.apache.spark.sql.DataFrame, text: Column,
      outCol: String): org.apache.spark.sql.DataFrame = {
    val p = s"_${outCol}_"
    df.withColumns(Map(
        s"${p}en" -> wordHitCount(text, Lexicons.StopwordsEn),
        s"${p}es" -> wordHitCount(text, Lexicons.StopwordsEs),
        s"${p}de" -> wordHitCount(text, Lexicons.StopwordsDe),
        s"${p}fr" -> wordHitCount(text, Lexicons.StopwordsFr),
        s"${p}cjk" -> hitCount(text, "[\\x{4e00}-\\x{9fff}]")))
      .withColumn(outCol, langIdFromHits(
        col(s"${p}en"), col(s"${p}es"), col(s"${p}de"), col(s"${p}fr"), col(s"${p}cjk")))
      .drop(s"${p}en", s"${p}es", s"${p}de", s"${p}fr", s"${p}cjk")
  }

  /** Document quality features + composite score (length, punctuation
    * density, stopword ratio) — the standard pretraining-corpus filters. */
  def punctCount(c: Column): Column =
    graft.plans.WordSetCount.charSetCount(coalesce(c, lit("")), ".,;:!?")
  def stopwordCount(c: Column): Column = wordHitCount(c, Lexicons.StopwordsEn)

  /** xxhash64 fingerprint of the cleaned text (exact-dup key at scale —
    * 64-bit, cheap, codegen'd). */
  def fingerprint(c: Column): Column = xxhash64(cleanText(c))

  /** md5 fingerprint (portable across engines; used for oracle parity). */
  def fingerprintMd5(c: Column): Column = md5(cleanText(c))
}
