package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Lexicons, TextExprs}
import graft.operators.{Dedup, GlobalRank, TextAnalysis}
import graft.queries.QueryHelpers._

/** Text analysis for training-data curation: language ID, quality,
  * tokenization, LM scoring, vocabulary statistics.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object TextQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q24_lang_id" -> ((s, dir) => {
      TextExprs.withLangId(t(s, dir, "documents"), col("text"), "lang_pred")
        .select("doc_id", "lang", "lang_pred")
    }),

    "q25_text_profile" -> ((s, dir) => {
      // staged: projection 1 = one scan per feature, projection 2 = ratios
      val text = col("text")
      val base = t(s, dir, "documents").select(
        col("doc_id"),
        length(TextExprs.cleanText(text)).cast("int").as("n_chars"),
        TextExprs.tokenCountWs(text).as("n_tokens_ws"),
        TextExprs.tokenCountBpe(text).as("n_tokens_bpe"),
        TextExprs.punctCount(text).as("_np"),
        TextExprs.stopwordCount(text).as("_ns"))
      val nChars = col("n_chars"); val nTokens = col("n_tokens_ws")
      base.select(
        col("doc_id"), nChars, nTokens, col("n_tokens_bpe"),
        round(when(nTokens === 0, 0.0).otherwise(nChars.cast("double") / nTokens), 4).as("avg_token_len"),
        round(when(nChars === 0, 0.0).otherwise(col("_np").cast("double") / nChars), 4).as("punct_ratio"),
        round(when(nTokens === 0, 0.0).otherwise(col("_ns").cast("double") / nTokens), 4).as("stopword_ratio"),
        TextAnalysis.qualityScoreFromCounts(nChars, nTokens, col("_np")).as("quality"))
    }),

    "q65_token_entropy" -> ((s, dir) => {
      // corpus vocabulary statistics per source: Shannon entropy of the
      // token distribution (H = ln N − Σ c·ln c / N — one pass over the
      // (source, token) counts) and type-token ratio
      val tok = t(s, dir, "documents")
        .select(col("source"), lower(TextExprs.cleanText(col("text"))).as("cln"))
        .select(col("source"), explode(split(col("cln"), " ")).as("token"))
        .where(col("token") =!= "")
      tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("vocab"),
          round(log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c"), 6).as("entropy"),
          round(count(lit(1)).cast("double") / sum("c"), 6).as("ttr"))
    }),

    "q70_pii_redact" -> ((s, dir) => {
      // PII audit + redaction (operators.Privacy). The corpus is PII-free,
      // so deterministic synthetic PII is spliced in — built by the exact
      // same expression in the DuckDB twin, so the redaction rules (not the
      // synthesis) are what the hash compares.
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(substring(col("text"), 1, 60),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1-555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7")).as("raw"))
      graft.operators.Privacy.redactAudit(withPii, col("doc_id"), col("raw"))
        .withColumnRenamed("id", "doc_id")
    }),

    "q79_quality_rules" -> ((s, dir) => {
      // Gopher-style hard keep/drop rule layer (oracle generated from the
      // same constants by TextAnalysis.gopherRulesOracleSql)
      TextAnalysis.gopherRules(t(s, dir, "documents"), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    }),

    "q80_repetition" -> ((s, dir) => {
      // repetition profile: top-unigram / top-bigram frequency share — the
      // Gopher duplication-rule statistic for machine-generated-text spikes
      TextAnalysis.repetitionProfile(t(s, dir, "documents"), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    }),

    "q82_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization — native expression (plans.NfcNormalize,
      // also registered as the SQL function nfc_normalize). The corpus is
      // ASCII, so decomposed sequences are spliced in identically on both
      // engines; codepoint lengths expose the composition.
      // decomposed by construction: combining acute after "cafe",
      // combining cedilla after "prec" -- NFC composes both; the
      // eszett is untouched
      val raw = concat(substring(col("text"), 1, 20),
        lit(" cafe\u0301 prec\u0327o stra\u00dfe"))
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.plans.NfcNormalize.nfc(raw).as("nfc"),
        length(raw).cast("long").as("len_raw"),
        length(graft.plans.NfcNormalize.nfc(raw)).cast("long").as("len_nfc"))
    }),

    "q102_zipf" -> ((s, dir) => {
      // Zipf-law fit over the corpus unigram distribution: slope/intercept
      // of ln(freq) on ln(rank) — the one-number corpus-health diagnostic
      // (natural text ≈ -1; synthetic/templated text diverges). The only
      // full-corpus work is the explode + hash-agg to type frequencies; the
      // rank runs on the vocab-sized table — but a 100 TB web corpus has
      // 10^8-10^9 types, so the rank is GlobalRank.withRowNumber (range
      // exchange + per-partition offsets), NOT a partition-less window that
      // would funnel the whole vocabulary through one task.
      // regr_slope/regr_intercept are the built-in one-pass moments aggs;
      // 6dp rounding absorbs merge-order float jitter on both engines.
      val freq = t(s, dir, "documents")
        .select(explode(split(TextExprs.cleanText(col("text")), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      GlobalRank.withRowNumber(freq,
          Seq(col("freq").desc, col("tok").asc), "rnk")
        .agg(
          round(expr("regr_slope(ln(freq), ln(rnk))"), 6).as("zipf_slope"),
          round(expr("regr_intercept(ln(freq), ln(rnk))"), 6).as("zipf_intercept"),
          count(lit(1)).as("n_types"),
          sum("freq").as("n_tokens"))
    }),

    "q106_bigram_lm" -> ((s, dir) => {
      // CCNet-style LM quality scoring upgraded from q89's unigram to a
      // bigram model with Laplace smoothing: per-doc cross-entropy of
      // P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) under the self-trained corpus
      // bigram model. The bigram stream is one codegen'd per-doc stage
      // (transform over sequence — no self-join on position); the model
      // tables are vocab- and bigram-type-sized and join UNHINTED exactly
      // like q89's (a web-scale bigram table exceeds any broadcast
      // threshold; AQE still broadcasts while it measures small). Only
      // the one-row vocabulary size rides a broadcast cross join.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
      val v = docs.select(explode(col("toks")).as("tok"))
        .where(col("tok") =!= "").agg(countDistinct("tok").as("v"))
      val bg = docs.where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(
          graft.plans.WordGramsExprs.adjacentPairs(col("toks"))).as("bg"))
        .select(col("doc_id"), col("bg.u").as("w1"), col("bg.v").as("w2"))
      val m2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val m1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      bg.join(m2, Seq("w1", "w2")).join(m1, Seq("w1"))
        .crossJoin(broadcast(v))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log((col("c12") + 1.0) / (col("c1") + col("v")))), 4).as("xent"),
          round(exp(avg(-log((col("c12") + 1.0) / (col("c1") + col("v"))))), 4).as("ppl"))
    }),

    "q116_tokenizer_fertility" -> ((s, dir) => {
      // Tokenizer fertility accounting per language slice — the metric
      // that converts a mixture's BYTE budget into its TOKEN budget
      // (fertility varies by language/script, so equal bytes never means
      // equal tokens; the data card line every multilingual pretraining
      // mix reports). ONE scan: the per-doc counts are three codegen'd
      // byte-scan expressions (CleanText length, whitespace tokens, the
      // BPE-proxy regex count), and the per-language rollup is a
      // lang-cardinality-sized hash aggregate.
      val d = t(s, dir, "documents").select(col("lang"),
        length(TextExprs.cleanText(col("text"))).cast("long").as("nc"),
        TextExprs.tokenCountWs(col("text")).cast("long").as("nw"),
        TextExprs.tokenCountBpe(col("text")).cast("long").as("nb"))
      d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("nc").as("n_chars"), sum("nw").as("n_words"), sum("nb").as("n_bpe"),
        round(sum("nc") / sum("nb").cast("double"), 4).as("chars_per_bpe"),
        round(sum("nb") / sum("nw").cast("double"), 4).as("fertility"))
    }),

    "q133_hash_classifier" -> ((s, dir) => {
      // Supervised hashed-feature NB quality filter (TextAnalysis
      // .hashNbClassifier): seed positives = sources src0–src4; 4096
      // md5-prefix buckets keep the model constant-sized at any corpus
      // scale (the fastText hashing trick), so the model join onto the
      // token stream broadcasts even at 100 TB.
      val posSources = (0 to 4).map(i => s"src$i")
      graft.operators.TextAnalysis.hashNbClassifier(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        col("source").isin(posSources: _*))
    }),

    "q138_novelty" -> ((s, dir) => {
      // Incremental novelty curve — per-doc share of distinct 3-gram
      // shingles FIRST seen in that doc (ingest order = doc_id): the
      // "how much new content does each increment add" diagnostic that
      // decides when a source is mined out (complements q108's pairwise
      // overlap and q113's incremental dedup). No sort, no window:
      // "first seen" is min(doc_id), not an ordered scan.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          // native word_grams (round 17): interpreted transform/slice/
          // concat_ws HOF → one codegen call, zero-copy gram spans
          graft.plans.WordGramsExprs.wordGrams(
            TextExprs.cleanText(col("text")), 3).as("grams"))
        .where(size(col("grams")) >= 1)
      val u = docs.select(col("doc_id"),
        explode(array_distinct(col("grams"))).as("h"))
      // both facts are AGGREGATES of the shingle stream — novel counts come
      // from rolling the first-occurrence table up by its min-doc (never
      // joining the corpus-sized stream back against it), so the only join
      // is doc-count-sized
      val counts = u.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val novel = u.groupBy("h").agg(min("doc_id").as("_fd"))
        .groupBy(col("_fd").as("doc_id")).agg(count(lit(1)).as("n_novel"))
      counts.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"), 6)
            .as("novel_share"))
    }),

    "q142_stupid_backoff" -> ((s, dir) => {
      // Stupid Backoff held-out scoring (Brants et al. 2007 — the
      // smoothing that wins at web scale precisely because it does NOT
      // normalize): S(w2|w1) = c(w1w2)/c(w1) when the bigram is in the
      // TRAIN slice, else 0.4·(c(w2)+1)/(N+V) (unigram backoff with an
      // epsilon floor for train-OOV types). Unlike q106 (Laplace,
      // self-trained), the model here is fit on doc_id % 5 ≠ 0 and
      // scores the HELD-OUT % 5 = 0 slice, so unseen bigrams genuinely
      // occur and backoff_rate measures them. Model tables are bigram-
      // type-sized and join UNHINTED (q89 posture); scalars ride one-row
      // broadcast cross joins.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
      def bigrams(d: DataFrame) = d.where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(
          graft.plans.WordGramsExprs.adjacentPairs(col("toks"))).as("bg"))
        .select(col("doc_id"), col("bg.u").as("w1"), col("bg.v").as("w2"))
      val train = docs.where(col("doc_id") % 5 =!= 0)
      val uni = train.select(explode(col("toks")).as("tok")).where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val scal = uni.agg(sum("c").as("n"), count(lit(1)).as("v"))
      val m2 = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val m1 = bigrams(train).groupBy("w1").agg(count(lit(1)).as("c1"))
      val held = bigrams(docs.where(col("doc_id") % 5 === 0))
      val s12 = when(col("c12").isNotNull,
          col("c12").cast("double") / col("c1"))
        .otherwise(lit(0.4) * (coalesce(col("_c2"), lit(0L)) + 1.0) / (col("n") + col("v")))
      held
        .join(m2, Seq("w1", "w2"), "left")
        .join(m1.withColumnRenamed("w1", "w1"), Seq("w1"), "left")
        .join(uni.select(col("tok").as("w2"), col("c").as("_c2")), Seq("w2"), "left")
        .crossJoin(broadcast(scal))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log(s12)), 4).as("xent"),
          round(avg(when(col("c12").isNull, 1.0).otherwise(0.0)), 4).as("backoff_rate"))
    }),

    "q144_lang_confusion" -> ((s, dir) => {
      // Language-ID EVALUATION: confusion matrix of the stopword-scan
      // classifier (q24) against the fixture's gold labels, with
      // per-true-language share — the quality gate you run before
      // trusting a lang filter at 100 TB (a systematic es→fr confusion
      // silently reweights the training mixture). One scan + one
      // |langs|²-bounded hash-agg; per-lang totals broadcast.
      val pred = TextExprs.withLangId(t(s, dir, "documents"), col("text"), "lang_pred")
        .select(col("lang"), col("lang_pred"))
      val cells = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      val tot = cells.groupBy("lang").agg(sum("n").as("_t"))
      cells.join(broadcast(tot), "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          round(col("n").cast("double") / col("_t"), 6).as("share"),
          (col("lang") === col("lang_pred")).as("correct"))
    }),

    "q150_rater_agreement" -> ((s, dir) => {
      // Filter AGREEMENT: Cohen's κ between two independent quality
      // gates — the learned NB filter (q133 `keep`) and the rule-based
      // Gopher pass (q79 `passes`) — per language. Two curation filters
      // that agree only at chance level (κ ≈ 0) cannot both be trusted;
      // this is the cross-check a 100 TB pipeline runs before composing
      // them. Shape: both classifier passes are corpus scans; the κ
      // arithmetic runs on a |langs|-row contingency aggregate.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val nb = graft.operators.TextAnalysis.hashNbClassifier(
          docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
        .select(col("doc_id"), col("keep"))
      val rules = graft.operators.TextAnalysis.gopherRules(
          docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
      val cells = nb.join(rules, "doc_id")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep") && col("passes"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("keep") && !col("passes"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("keep") && col("passes"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("keep") && !col("passes"), 1L).otherwise(0L)).as("n00"))
      val po = (col("n11") + col("n00")).cast("double") / col("n")
      val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01"))
          + (col("n01") + col("n00")) * (col("n10") + col("n00")))
        .cast("double") / (col("n") * col("n"))
      cells.select(col("lang"), col("n"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        when(pe === 1.0, lit(1.0))
          .otherwise(round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
    }),

    "q149_boilerplate" -> ((s, dir) => {
      // Segment-level BOILERPLATE detection (the CCNet/RefinedWeb
      // paragraph-hash recipe, on fixed 3-token segments since the
      // fixture has no line structure): a segment whose hash recurs in
      // ≥2 documents and >5% of its source's documents is boilerplate
      // (nav bars, footers, licence blurbs). Shape: one corpus scan →
      // segment-hash stream → one (source, hash) aggregate → broadcast
      // per-source doc totals → |sources|-row summary. The doc-frequency
      // aggregate is the only corpus-sized shuffle; nothing rejoins the
      // text.
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
        .where(size(col("toks")) >= 1)
      val segs = base
        .select(col("doc_id"), col("source"),
          explode(transform(
            sequence(lit(0), ceil(size(col("toks")) / lit(3.0)).cast("int") - 1),
            i => concat_ws(" ", slice(col("toks"), i * 3 + 1, lit(3))))).as("seg"))
        .where(col("seg") =!= "")
        .select(col("doc_id"), col("source"),
          substring(md5(col("seg")), 1, 16).as("h"))
      val df = segs.groupBy("source", "h")
        .agg(count(lit(1)).as("occ"), countDistinct("doc_id").as("ndf"))
      // round 18 (guide §2.4): the per-source doc totals never needed the
      // tokenize — `base`'s size(toks) >= 1 filter is provably always
      // true (split returns at least one element on any input and
      // cleanText never yields null), so counting the raw table gives
      // the same integers without re-running the cleanText scan
      val srcTot = t(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("sdocs"))
      df.join(broadcast(srcTot), "source")
        .select(col("source"), col("occ"),
          (col("ndf") >= 2 && col("ndf") * 20 > col("sdocs")).as("boiler"))
        .groupBy("source")
        .agg(sum("occ").as("n_seg_occ"),
          count(lit(1)).as("n_distinct_segs"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler_segs"),
          sum(when(col("boiler"), col("occ")).otherwise(0L)).as("boiler_occ"))
        .withColumn("boiler_share",
          round(col("boiler_occ").cast("double") / col("n_seg_occ"), 6))
    }),

    "q161_vocab_coverage" -> ((s, dir) => {
      // Vocabulary COVERAGE curve (the tokenizer-design companion to
      // q116's fertility): corpus-token share covered by the top-2^k
      // types, read at every power-of-two vocab size — the curve that
      // decides a vocab budget before training a tokenizer. ONE
      // frequency aggregate, then GlobalRank's range-exchange rank AND
      // running sum over (cnt DESC, tok) — no partition-less window at
      // any vocabulary size; the power-of-two filter keeps the output
      // log-sized.
      val counts = t(s, dir, "documents")
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val ord = Seq(col("cnt").desc, col("tok").asc)
      val ranked = graft.operators.GlobalRank.withRowNumber(counts, ord, "_rn")
      val summed = graft.operators.GlobalRank.withRunningSum(
        ranked, ord, col("cnt"), "_cum")
      val tot = counts.agg(sum("cnt").as("_t"), count(lit(1)).as("_v"))
      summed
        .where(expr("(_rn & (_rn - 1)) = 0")) // powers of two (and rank 1)
        .crossJoin(broadcast(tot))
        .select(col("_rn").as("vocab_size"), col("tok").as("boundary_tok"),
          col("_cum").as("covered_tokens"), col("_t").as("total_tokens"),
          round(col("_cum").cast("double") / col("_t"), 6).as("coverage"),
          col("_v").as("n_types"))
    }),

    "q164_effective_tokens" -> ((s, dir) => {
      // EFFECTIVE dataset size under near-dup weighting: each doc's
      // tokens count as n/cluster_size, so a 5-copy near-dup family
      // contributes its content once across the corpus — the honest
      // per-source token accounting a mixture should be built on (raw
      // counts overpay sources that re-post the same content; Muennighoff
      // 2023's repeated-data discount starts from exactly this number).
      // Composition: q27's ids-only pair stream → CC → cluster sizes,
      // joined back onto a slim (doc, source, tokens) manifest;
      // singletons default to weight 1.
      val docs = t(s, dir, "documents")
      val ntok = docs.select(col("doc_id"), col("source"),
        TextExprs.tokenCount(col("text")).as("n_toks"))
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("_csz"))
      val weighted = ntok
        .join(cc, Seq("doc_id"), "left")
        .join(sizes, Seq("component"), "left")
        .select(col("source"), col("n_toks"),
          coalesce(col("_csz"), lit(1L)).as("csz"))
      weighted.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("raw_tokens"),
          round(sum(col("n_toks").cast("double") / col("csz")), 4)
            .as("effective_tokens"))
        .withColumn("dup_discount",
          round(lit(1.0) - col("effective_tokens") / col("raw_tokens"), 6))
    }),

    "q166_lexical_richness" -> ((s, dir) => {
      // Per-source LEXICAL RICHNESS: type/token ratio and Herdan's C
      // (ln types / ln tokens — the length-robust variant; raw TTR
      // collapses as tokens grow, so cross-source comparisons need C).
      // Template-generated or spun content shows depressed richness at
      // normal repetition stats — a complementary signal to q80. Shape:
      // one scan → one (source, token) aggregate → |sources|-row
      // arithmetic; distinct-counting rides the grouped aggregate, not
      // a count(DISTINCT) expansion of the stream.
      val tk = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      tk.groupBy("source")
        .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
          max("c").as("top_tok_freq"))
        .select(col("source"), col("n_types"), col("n_tokens"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(log(col("n_types").cast("double"))
            / log(col("n_tokens").cast("double")), 6).as("herdan_c"),
          round(col("top_tok_freq").cast("double") / col("n_tokens"), 6)
            .as("top_tok_share"))
    }),

    "q169_bpe_pairs" -> ((s, dir) => {
      // First BPE merge-step statistics (Sennrich et al. 2016): adjacent
      // CHARACTER-pair frequencies within tokens, top-20 — the merge a
      // byte-pair tokenizer trained on this corpus would perform first.
      // Counted over the PRE-AGGREGATED vocabulary (type × count — the
      // standard BPE trick: pair extraction costs O(|vocab| · token_len),
      // never O(corpus tokens); the only corpus-sized pass is the vocab
      // groupBy's map-combined shuffle). Top-20 rides GlobalRank's range
      // exchange — no single-partition sort at any pair-vocabulary size.
      val tc = t(s, dir, "documents")
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val pairs = tc
        .where(length(col("tok")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("freq"))
      graft.operators.GlobalRank.withRowNumber(pairs,
          Seq(col("freq").desc, col("pair").asc), "rnk")
        .where(col("rnk") <= 20)
        .select(col("pair"), col("freq"), col("rnk"))
    }),

    "q171_script_profile" -> ((s, dir) => {
      // Character-CLASS profile per source: shares of lower-alpha, digit,
      // space, and other codepoints over the cleaned lowered text — the
      // cheap script/charset monitor that catches a source flipping
      // register (a code dump entering a prose feed, mojibake, a
      // non-Latin script appearing in an en-labeled source) without any
      // language model. One scan; counts via length-difference after
      // class removal (Spark regexp_replace replaces ALL matches; the
      // twin passes the 'g' flag — the cleanSql posture).
      val c = lower(TextExprs.cleanText(col("text")))
      def cnt(re: String): Column =
        (length(c) - length(regexp_replace(c, re, ""))).cast("long")
      t(s, dir, "documents")
        .select(col("source"), length(c).cast("long").as("nc"),
          cnt("[a-z]").as("na"), cnt("[0-9]").as("nd"), cnt(" ").as("ns"))
        .groupBy("source")
        .agg(sum("nc").as("n_chars"), sum("na").as("_a"),
          sum("nd").as("_d"), sum("ns").as("_s"))
        .select(col("source"), col("n_chars"),
          round(col("_a").cast("double") / col("n_chars"), 6).as("alpha_share"),
          round(col("_d").cast("double") / col("n_chars"), 6).as("digit_share"),
          round(col("_s").cast("double") / col("n_chars"), 6).as("space_share"),
          round((col("n_chars") - col("_a") - col("_d") - col("_s"))
            .cast("double") / col("n_chars"), 6).as("other_share"))
    }),

    "q172_label_fusion" -> ((s, dir) => {
      // Rater FUSION (one-round Dawid–Skene flavor): three deterministic
      // binary raters — the q133 NB classifier, the q79 Gopher rule gate,
      // and a length rule — fused by accuracy-above-chance weighted vote:
      // majority vote → per-rater agreement with the majority → weights
      // w_r = acc_r − 0.5 → signed revote. The label-aggregation step a
      // pipeline runs when multiple cheap quality signals disagree and no
      // gold labels exist. ALL-RATIONAL weights (no log-odds): exact
      // integer sums / exact counts, so both engines compute bit-equal
      // scores. Shape: two classifier corpus passes → slim per-doc vote
      // manifest (checkpointed; accuracies AND revote read it) → 1-row
      // accuracy aggregate broadcast back.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val nb = graft.operators.TextAnalysis.hashNbClassifier(
          docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
        .select(col("doc_id"), col("keep").as("r1"))
      val gp = graft.operators.TextAnalysis.gopherRules(
          docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes").as("r2"))
      val ln = docs.select(col("doc_id"), (col("n_chars") >= 200).as("r3"))
      val votes = nb.join(gp, "doc_id").join(ln, "doc_id")
        .select(col("doc_id"), col("r1"), col("r2"), col("r3"),
          ((col("r1").cast("int") + col("r2").cast("int")
            + col("r3").cast("int")) >= 2).as("maj"))
        .localCheckpoint(true)
      val acc = votes.agg(
        avg((col("r1") === col("maj")).cast("double")).as("a1"),
        avg((col("r2") === col("maj")).cast("double")).as("a2"),
        avg((col("r3") === col("maj")).cast("double")).as("a3"))
      def signed(v: Column, a: Column): Column =
        when(v, a - 0.5).otherwise(lit(0.5) - a)
      votes.crossJoin(broadcast(acc))
        .select(col("doc_id"), col("r1"), col("r2"), col("r3"), col("maj"),
          round(signed(col("r1"), col("a1")) + signed(col("r2"), col("a2"))
            + signed(col("r3"), col("a3")), 6).as("fused_score"))
        .select(col("doc_id"), col("r1"), col("r2"), col("r3"), col("maj"),
          col("fused_score"),
          when(col("fused_score") > 0, lit(true))
            .when(col("fused_score") < 0, lit(false))
            .otherwise(col("maj")).as("fused"))
    }),

    "q175_novelty_curve" -> ((s, dir) => {
      // Ingest-order NOVELTY curve — the diminishing-returns audit for
      // data collection: cut the doc stream into 10 deciles (GlobalRank
      // all-integer cut on doc_id order), and per decile report how many
      // of its distinct 3-gram shingles were never seen in an earlier
      // decile. A flattening curve says new data is re-covering old
      // content — the signal to rebalance sources before paying for more
      // crawl. Shape: rank pass + one shingle explode → (decile, gram)
      // distinct → gram-keyed min-decile → 10-row aggregate; the gram
      // stream shuffles once on the gram key, never per decile. Grams are
      // the native 64-bit shingleHashes fold (no per-gram string built or
      // shuffled); the twin counts md5-string grams — equal counts up to
      // 64-bit collisions, and the output carries only counts.
      val docs = t(s, dir, "documents")
      val ranked = graft.operators.GlobalRank.withRowNumber(
        docs.select(col("doc_id")), Seq(col("doc_id").asc), "_rn")
      val tot = docs.agg(count(lit(1)).as("_n"))
      val dec = ranked.crossJoin(broadcast(tot))
        .select(col("doc_id"), expr("((_rn - 1) * 10) DIV _n").as("decile"))
      // pinned ONCE (round 18, guide §2.4): the min-decile aggregate and
      // the final join both consume `gd`; unpinned, the shingle explode +
      // decile join + distinct exchange (the query's whole corpus cost)
      // ran twice
      val gd = docs.select(col("doc_id"),
          explode(graft.plans.MinHashExprs.shingleHashes(
            TextExprs.cleanText(col("text")), 3)).as("g"))
        .join(dec, "doc_id")
        .select(col("decile"), col("g")).distinct()
        .localCheckpoint(true)
      val first = gd.groupBy("g").agg(min("decile").as("_fd"))
      gd.join(first, "g")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_distinct_grams"),
          sum(when(col("_fd") === col("decile"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_share",
          round(col("n_novel").cast("double") / col("n_distinct_grams"), 6))
    }),

    "q207_token_weighted_length" -> ((s, dir) => {
      // Token-WEIGHTED doc-length percentiles per source: the length a
      // randomly drawn TOKEN lives in (a 10k-token doc counts 10k times,
      // not once) — the number packing actually cares about, since token
      // mass in long docs dominates the sequence budget even when long
      // docs are rare by count. Percentiles.weightedByGroup: one range
      // exchange + global weight prefix sum; the unweighted p50 rides
      // alongside for the count-vs-mass contrast.
      // Pinned ONCE (round 18, guide §2.4 — the q202/q215 grain-pin
      // posture): both percentile passes consume `d`, and unpinned the
      // cleanText+tokenCount scan ran twice, once under each pass's
      // range exchange.
      val d = t(s, dir, "documents")
        .select(col("source"), TextExprs.tokenCount(col("text")).as("n_toks"))
        .where(col("n_toks") > 0)
        .localCheckpoint(true)
      val weighted = graft.operators.Percentiles.weightedByGroup(
          d, col("source"), col("n_toks"), col("n_toks"),
          Seq(0.5, 0.9), Seq("w_p50", "w_p90"))
        .select(col("group").as("source"),
          col("w_p50").cast("long").as("w_p50"),
          col("w_p90").cast("long").as("w_p90"))
      val plain = graft.operators.Percentiles.exactByGroup(
          d, col("source"), col("n_toks"), Seq(0.5), Seq("p50"))
        .select(col("group").as("source"), round(col("p50"), 4).as("p50"))
      plain.join(weighted, "source")
    }),

    "q208_distinct_ngrams" -> ((s, dir) => {
      // Generation-diversity audit: distinct-1/2/3 per source (share of
      // unique n-grams in the n-gram stream) — the standard NLG
      // repetition metric; a templated/looping source scores low where
      // q166's TTR only sees unigrams. One explode per n collapses
      // immediately into (source, n, gram) counts (map-side combine),
      // distinct+total fall out of the SAME aggregate — no second pass.
      val toks = t(s, dir, "documents")
        .select(col("source"),
          split(TextExprs.cleanText(col("text")), " ").as("toks"))
        .select(col("source"),
          expr("filter(toks, t -> t != '')").as("toks"))
      def grams(n: Int) = toks.where(size(col("toks")) >= n)
        .select(col("source"), lit(n.toLong).as("n"), explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $n)))")).as("gram"))
      (1 to 3).map(grams).reduce(_ unionAll _)
        .groupBy("source", "n", "gram").agg(count(lit(1)).as("c"))
        .groupBy("source", "n")
        .agg(sum("c").as("total_ngrams"), count(lit(1)).as("distinct_ngrams"))
        .select(col("source"), col("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") / col("total_ngrams"), 4)
            .as("distinct_ratio"))
    }),

    "q240_heaps_law" -> ((s, dir) => {
      // Heaps'-law SHINGLE-vocabulary growth: V(n) = #distinct token
      // 3-grams whose FIRST occurrence lies in the first n docs — the
      // curve that sizes the distinct-shingle table every minhash/dedup
      // index materializes (the fixture's raw token vocabulary is a
      // closed 31-word set, so growth is only measurable at the shingle
      // grain — exactly the grain the index stores). One corpus explode,
      // a min-per-gram aggregate (map-side combining), per-rank
      // increments, and TWO GlobalRank.withRunningSum prefix sums (range
      // exchange, no single-partition window); 20 checkpoints sampled
      // from the running curve, then the Heaps β (V ≈ K·Nᵝ) as a
      // closed-form log-log OLS over the 20 points. Checkpoints are
      // all-integer; only the fit is float, with 9-dp-pinned logs so
      // both engines regress identical inputs.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          // native word_grams (round 17): the transform/concat_ws HOF ran
          // interpreted per window; each gram is now a zero-copy char
          // span of the single-space cleaned text — identical strings
          graft.plans.WordGramsExprs.wordGrams(
            lower(TextExprs.cleanText(col("text"))), 3).as("grams"))
      val ranked = graft.operators.GlobalRank.withRowNumber(
          docs, Seq(col("doc_id").asc), "rk")
        .select(col("rk"), col("grams"), size(col("grams")).cast("long").as("ng"))
        .localCheckpoint() // feeds the explode AND the per-rank gram counts
      val first = ranked.select(col("rk"), explode(col("grams")).as("g"))
        .groupBy("g").agg(min("rk").as("frk"))
      val vIncr = first.groupBy("frk").agg(count(lit(1)).as("v_incr"))
      val perRank = ranked.select(col("rk"), col("ng"))
        .join(vIncr, col("rk") === col("frk"), "left")
        .select(col("rk"), col("ng"), coalesce(col("v_incr"), lit(0L)).as("v_incr"))
      // Round 18 (guide §2.4, the q244 pattern): both prefix sums ride ONE
      // range exchange + pass pair via the fused appender — the nested
      // form re-range-partitioned data already ordered by rk and re-ran
      // the inner appender under the outer's passes.
      val run = graft.operators.GlobalRank.withRunningSums(
        perRank, Seq(col("rk").asc),
        Seq(col("ng") -> "n_grams", col("v_incr") -> "vocab"))
      val cuts = broadcast(ranked.agg(max("rk").as("nd")))
        .select(explode(sequence(lit(1L), lit(20L))).as("checkpoint"), col("nd"))
        .select(col("checkpoint"), expr("(checkpoint * nd) div 20").as("cut"))
      val cp = run.join(broadcast(cuts), col("rk") === col("cut"))
        .select(col("checkpoint"), col("rk").as("n_docs"),
          col("n_grams"), col("vocab"))
      val fit = cp.where(col("n_grams") > 0 && col("vocab") > 0)
        .select(round(log(col("n_grams").cast("double")), 9).as("x"),
          round(log(col("vocab").cast("double")), 9).as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      cp.crossJoin(broadcast(fit))
        .select(col("checkpoint"), col("n_docs"), col("n_grams"), col("vocab"),
          round(beta, 6).as("heaps_beta"),
          round(exp((col("sy") - beta * col("sx")) / col("n")), 6).as("heaps_k"))
    }),

    "q265_kneser_ney" -> ((s, dir) => {
      // Interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995;
      // Chen & Goodman 1998) — the LM-quality upgrade over q106's
      // Laplace: P(w2|w1) = max(c−D,0)/c(w1) + λ(w1)·N1+(•w2)/B with
      // D=0.75. The KN insight is that EVERY model table here is a
      // re-aggregate of the one bigram-TYPE table (continuation counts
      // N1+(w1•), N1+(•w2), the type total B) — the corpus shuffles
      // once to bigram grain and never again; the type table is pinned
      // so its four consumers share one computation.
      val docs = t(s, dir, "documents")
        .select(split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
      val bg = docs.where(size(col("toks")) >= 2)
        .select(explode(
          graft.plans.WordGramsExprs.adjacentPairs(col("toks"))).as("bg"))
        .select(col("bg.u").as("w1"), col("bg.v").as("w2"))
        .where(col("w1") =!= "" && col("w2") =!= "")
      val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val ctx = bc.groupBy("w1")
        .agg(sum("c").as("cw1"), count(lit(1)).as("n1_fwd"))
      val cont = bc.groupBy("w2").agg(count(lit(1)).as("n1_rev"))
      val btypes = broadcast(bc.agg(count(lit(1)).as("btypes")))
      bc.join(ctx, Seq("w1")).join(cont, Seq("w2")).crossJoin(btypes)
        .select(col("w1"), col("w2"), col("c"), col("cw1"),
          col("n1_fwd"), col("n1_rev"),
          round((col("c").cast("double") - 0.75) / col("cw1") +
            (lit(0.75) * col("n1_fwd") / col("cw1")) *
            (col("n1_rev").cast("double") / col("btypes")), 6).as("p_kn"))
    }),

    "q278_fightin_words" -> ((s, dir) => {
      // "Fightin' words" (Monroe, Colaresi & Quinn 2008): per-source
      // DISTINCTIVE vocabulary via log-odds ratios with an informative
      // Dirichlet prior — the corpus-vs-rest comparison TF-IDF gets
      // wrong for common-but-skewed tokens. All counts are exact LONG
      // re-aggregates of the ONE (source, token) table; the prior
      // α_w = α0·y_w/N shrinks rare-token noise; z = δ/√var with the
      // variance from the standard 1/(y+α) approximation. Top-10 per
      // source on the ROUNDED z (4dp) with token tie-break — a bounded
      // per-source window over the vocab.
      val st = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " "))
            .as("token"))
        .where(col("token") =!= "")
        .groupBy("source", "token").agg(count(lit(1)).as("y_sw"))
        .localCheckpoint() // token totals, source totals, N all re-agg it
      val yw = st.groupBy("token").agg(sum("y_sw").as("y_w"))
      val ns = st.groupBy("source").agg(sum("y_sw").as("n_s"))
      val tot = broadcast(st.agg(sum("y_sw").as("nn")))
      val a0 = 1000.0
      val scored = st.join(yw, Seq("token")).join(broadcast(ns), Seq("source"))
        .crossJoin(tot)
        .withColumn("a_w", lit(a0) * col("y_w") / col("nn"))
        .withColumn("delta",
          log((col("y_sw") + col("a_w")) /
            (col("n_s") + lit(a0) - col("y_sw") - col("a_w"))) -
          log((col("y_w") - col("y_sw") + col("a_w")) /
            (col("nn") - col("n_s") + lit(a0)
              - (col("y_w") - col("y_sw")) - col("a_w"))))
        .withColumn("z", round(col("delta") /
          sqrt(lit(1.0) / (col("y_sw") + col("a_w")) +
            lit(1.0) / (col("y_w") - col("y_sw") + col("a_w"))), 4))
      val w = Window.partitionBy("source")
        .orderBy(col("z").desc, col("token").asc)
      scored.withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 10)
        .select(col("source"), col("rnk"), col("token"), col("y_sw"),
          col("z"))
    }),

    "q285_oov_drift" -> ((s, dir) => {
      // Frozen-vocabulary OOV drift: build the top-512 vocabulary on
      // the corpus's FIRST half (by doc_id — the standing snapshot),
      // then measure each source's out-of-vocabulary token rate on
      // BOTH halves; the in-sample rate is the baseline that makes the
      // second-half rate interpretable. The tokenizer-freeze question
      // every multi-epoch ingest faces: is new data drifting out of
      // the vocab the model was built on? Vocab cut on exact counts
      // with token tie-break (TakeOrdered); OOV flags via one left
      // join against the broadcast vocab.
      val docs = t(s, dir, "documents")
      val mx = broadcast(docs.agg(max("doc_id").as("mxid")))
      val tk = docs.crossJoin(mx)
        .select(when(col("doc_id") * 2 <= col("mxid"), lit("A"))
            .otherwise(lit("B")).as("epoch"),
          col("source"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " "))
            .as("token"))
        .where(col("token") =!= "")
        .localCheckpoint() // vocab build + both epoch rates read it
      val vocab = broadcast(tk.where(col("epoch") === "A")
        .groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token").asc).limit(512)
        .select(col("token").as("_vt")))
      val flagged = tk.join(vocab, col("token") === col("_vt"), "left")
        .select(col("epoch"), col("source"),
          when(col("_vt").isNull, 1L).otherwise(0L).as("oov"))
      val rates = flagged.groupBy("source", "epoch")
        .agg(count(lit(1)).as("toks"), sum("oov").as("oovs"))
      val a = rates.where(col("epoch") === "A")
        .select(col("source"), col("toks").as("tokens_a"),
          col("oovs").as("oov_a"))
      val b = rates.where(col("epoch") === "B")
        .select(col("source"), col("toks").as("tokens_b"),
          col("oovs").as("oov_b"))
      a.join(b, Seq("source"))
        .select(col("source"), col("tokens_a"), col("oov_a"),
          col("tokens_b"), col("oov_b"),
          round(col("oov_a").cast("double") / col("tokens_a"), 6)
            .as("oov_rate_a"),
          round(col("oov_b").cast("double") / col("tokens_b"), 6)
            .as("oov_rate_b"),
          round(col("oov_b").cast("double") / col("tokens_b")
            - col("oov_a").cast("double") / col("tokens_a"), 6)
            .as("oov_drift"))
    }),

    "q89_perplexity" -> ((s, dir) => {
      // perplexity-style quality filter (CCNet-ish, self-trained): score
      // each doc by its cross-entropy under the corpus unigram model.
      // Two-pass dataflow: token counts (vocab-sized), then score by
      // joining the model back onto the token stream. The model join is
      // deliberately NOT hinted: a web-scale corpus vocabulary (1e8+
      // types) exceeds any broadcast threshold, and a shuffled hash join
      // on `tok` is well-spread; AQE still converts it to broadcast at
      // runtime when the model measures small. Only the one-row corpus
      // total rides a broadcast cross join (BM25's N/avgdl pattern).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
      val model = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = model.agg(sum("c").as("n"))
      toks.join(model, "tok")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          round(avg(-log(col("c") / col("n"))), 4).as("xent"),
          round(exp(avg(-log(col("c") / col("n")))), 4).as("ppl"))
    }),

    "q303_langdetect_nb" -> ((s, dir) => {
      // langdetect-parity language ID (the reference's print-only
      // diagnostic, survey_analysis.py:95-103, made a first-class
      // operator): charset 1..3-gram Naive Bayes over the PUBLISHED
      // langdetect profiles, deterministic (no sampling trials), with
      // ×10⁶-pinned integer log-likelihoods materialized once so the
      // DuckDB twin scores from the SAME model table — order-free LONG
      // sums, no logarithm recomputed oracle-side. One executor pass;
      // no shuffle carries text.
      graft.functions.LangDetectNB.withPrediction(t(s, dir, "documents"))
    }),

    "q304_langdetect_confusion" -> ((s, dir) => {
      // The q144-style confusion matrix for the NB detector: fixture
      // label × prediction, with each label-row's share. On THIS
      // fixture the text carries no language signal (the same synthetic
      // vocabulary under every label — see BASELINE.md), so the matrix
      // measures the detector's prior on English-ish ASCII, not its
      // skill; LangDetectNBSpec carries the real-text evaluation.
      val p = graft.functions.LangDetectNB
        .withPrediction(t(s, dir, "documents"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n_docs"))
      p.join(p.groupBy("lang").agg(sum("n_docs").as("_t")), Seq("lang"))
        .select(col("lang"), col("pred"), col("n_docs"),
          round(col("n_docs").cast("double") / col("_t"), 4).as("share"))
    }),

    "q311_bpe_train" -> ((s, dir) => {
      // BPE merge TRAINING (r14) — q169 counted the first merge's
      // statistics; this runs the full iterative loop: 20 rounds of
      // argmax-pair → greedy merge over the top-500 word-frequency vocab,
      // deterministic by construction (total tie-break order). Output is
      // the learned merge SEQUENCE — 20 rows the DuckDB twin re-derives by
      // unrolling the identical rounds. Per-round cost is one agg over the
      // bounded vocab + a one-row argmax collect; the corpus only flows
      // through the initial word count (BpeTrain scaladoc).
      val merges = graft.operators.BpeTrain.trainMerges(
        graft.operators.BpeTrain.wordVocab(t(s, dir, "documents"), col("text"), 20, 500), 20)
      val sp = s
      import sp.implicits._
      merges.zipWithIndex.map { case ((l, r2, c), i) =>
        ((i + 1).toLong, l, r2, l + r2, c)
      }.toDF("round", "lhs", "rhs", "merged", "pair_count")
    }),

    "q321_bpe_fertility" -> ((s, dir) => {
      // The trained tokenizer APPLIED: the q311 merge sequence replayed
      // over the FULL word vocabulary (executor-side greedy fold, one pass
      // per merge), reporting corpus fertility (symbols per word
      // occurrence) against the character-level baseline — the number a
      // tokenizer-training pipeline actually tunes. Integer sums up to the
      // final display divisions.
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrain.trainMerges(
        graft.operators.BpeTrain.wordVocab(docs, col("text"), 20, 500), 20)
      val allWords = docs
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("word"))
        .where(col("word").rlike("^[a-z]{2,20}$"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.BpeTrain.applyMerges(allWords, merges.map(m => (m._1, m._2)))
        .agg(count(lit(1)).as("n_words"),
          sum("freq").as("n_occurrences"),
          sum(col("freq") * col("n_syms")).as("total_syms"),
          round(sum(col("freq") * col("n_syms")).cast("double") / sum("freq"), 6)
            .as("fertility"),
          sum(col("freq") * length(col("word"))).as("total_chars"),
          round(sum(col("freq") * length(col("word"))).cast("double") / sum("freq"), 6)
            .as("char_fertility"))
    }),

    "q328_canary_scan" -> ((s, dir) => {
      // Canary / blocklist scan via the Aho–Corasick native expression
      // (plans/AhoCorasickExpr.scala): one O(n + matches) automaton pass
      // counts DISTINCT blocklist phrases per document, independent of
      // blocklist size — ContainsAny's per-pattern probing is right for
      // dozen-lexeme classifier lexicons, wrong for the 10k-entry
      // blocklists a contamination sweep carries. Canaries are injected
      // by doc_id residue from the SAME constants the twin's generated
      // SQL uses (lexicon-twin pattern); decoys are scanned but never
      // injected, so their count contribution must be zero.
      val tail = canaryList.foldLeft(lit("")) { case (acc, (m, c)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
        .select(col("doc_id"),
          graft.plans.AcCountMatches.acCountMatches(col("_t"),
            canaryList.map(_._2) ++ canaryDecoys).as("n_canaries"))
    }),

    "q337_unigram_train" -> ((s, dir) => {
      // Unigram-LM tokenizer TRAINING (operators/UnigramLm.scala) — the
      // SentencePiece complement to q311's BPE: seed an over-complete
      // candidate vocab (all chars + top-60 substrings ≤ 4 of the bounded
      // word vocab), then 3 rounds of hard (Viterbi) EM with integer-
      // pinned costs round(1e6·ln(total/cnt)) — exact cross-engine
      // comparisons, deterministic (cost, mask) tie-break. Output is the
      // final piece table; the twin re-derives it by enumerating ALL
      // 2^(n−1) segmentations per word (a different algorithm than the
      // engine's DP — same unique argmin). Per-round cost is one
      // flatMap+agg over the bounded vocab; only the word count sees the
      // corpus.
      val trained = graft.operators.UnigramLm.train(
        graft.operators.BpeTrain.wordVocab(t(s, dir, "documents"), col("text"), 12, 300),
        maxPieceLen = 4, topSubs = 60, rounds = 3)
      val sp = s
      import sp.implicits._
      trained.toDF("piece", "cnt", "cost6")
    }),

    "q338_unigram_fertility" -> ((s, dir) => {
      // The trained unigram LM APPLIED: Viterbi segmentation (executor-
      // side O(n·maxPieceLen) DP, corpus-size-free over the distinct-word
      // table) of the FULL word vocabulary under the q337 costs, reporting
      // fertility against the character baseline — the direct comparison
      // row for q321's BPE fertility on the same corpus grain. Unknown-
      // character words fall back to per-char <unk> (n_syms = length);
      // the twin replays the same fallback via its left join.
      val docs = t(s, dir, "documents")
      val trained = graft.operators.UnigramLm.train(
        graft.operators.BpeTrain.wordVocab(docs, col("text"), 12, 300),
        maxPieceLen = 4, topSubs = 60, rounds = 3)
      val costs = trained.map(p => p._1 -> p._3).toMap
      val allWords = docs
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("word"))
        .where(col("word").rlike("^[a-z]{2,12}$"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.UnigramLm.segmentWords(allWords, costs, maxPieceLen = 4)
        .agg(count(lit(1)).as("n_words"),
          sum("freq").as("n_occurrences"),
          sum(col("freq") * col("n_syms")).as("total_syms"),
          round(sum(col("freq") * col("n_syms")).cast("double") / sum("freq"), 6)
            .as("fertility"),
          sum(col("freq") * length(col("word"))).as("total_chars"),
          round(sum(col("freq") * length(col("word"))).cast("double") / sum("freq"), 6)
            .as("char_fertility"))
    }),

    "q336_blocklist_redact" -> ((s, dir) => {
      // Blocklist REDACTION — the scrub a curation pipeline actually
      // applies (q328 counts; this rewrites): one Aho–Corasick pass
      // replaces every LEFTMOST-LONGEST non-overlapping blocklist match
      // with the mask (plans.AcRedact — O(n + matches), independent of
      // blocklist size). Secrets are injected by doc_id residue from the
      // SAME constants the twin reads; the list is overlap-adversarial
      // ("scrub zebra card" ⊃ "scrub zebra", ⊅-aligned "zebra card"), so
      // a shortest-match or overlap-rescanning engine diverges. The twin
      // replays the greedy policy exactly via a recursive leftmost-pick
      // CTE. Decoys are scanned but never injected.
      val tail = redactList.foldLeft(lit("")) { case (acc, (m, c)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
        .select(col("doc_id"),
          graft.plans.AcRedact.acRedact(col("_t"),
            redactList.map(_._2) ++ redactDecoys, "[X]").as("_r"))
        .select(col("doc_id"),
          md5(col("_r")).as("red_md5"),
          length(col("_r")).cast("long").as("red_len"),
          (size(split(col("_r"), "\\[X\\]", -1)) - 1).cast("long")
            .as("n_redactions"))
    }),

    "q345_stream_redact" -> ((s, dir) => {
      // STREAMING redaction (VERDICT r15 #7): q336's scrub composed into
      // the q323 replay rig — documents arrive as a 4-batch file stream,
      // each micro-batch is scrubbed IN the batch plan by the same
      // Aho–Corasick automaton (one per-plan reference object reused
      // across batches; at 100 TB this is scrub-at-ingest, the posture
      // that never lands unscrubbed bytes), and the appended per-batch
      // per-source ledgers roll up to totals that must equal the one-shot
      // batch scrub — the twin derives them from the SAME recursive
      // leftmost-longest replay as q336, so a partial scrub in any single
      // micro-batch breaks the hash.
      val tail = redactList.foldLeft(lit("")) { case (acc, (m, c)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      val pats = redactList.map(_._2) ++ redactDecoys
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
      streamReplay(s, "q345", modSlices(docs, "doc_id", 4), 4) { (stream, ckpt, out) =>
        graft.streaming.EventStreams.redactedSummary(stream, pats, "[X]", out, ckpt)
      }
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"),
          sum("n_redactions").as("n_redactions"),
          sum("len_before").as("len_before"),
          sum("len_after").as("len_after"))
    }),

    "q342_typed_redact" -> ((s, dir) => {
      // PER-CLASS redaction (VERDICT r15 gap: one mask string erases WHAT
      // was scrubbed) — plans.AcRedactTyped replaces each leftmost-longest
      // non-overlapping match with ITS pattern's class mask (<EMAIL> /
      // <PHONE> / <ID>), one automaton pass, so downstream token
      // accounting can distinguish scrub types. The lexicon is overlap-
      // adversarial ACROSS classes: "mail kudu at vole dot net" ⊃ "mail
      // kudu" (longest-at-start within EMAIL), "ring kudu seven" ⊃ "kudu
      // seven" (PHONE), and the %143 docs splice "mail kudu"+" seven
      // vole" so an EMAIL mask's resume point decides whether the ID
      // pattern survives — a shortest-match or rescanning engine gets a
      // different class census. Per-class counts come from splitting on
      // the mask literals; the twin replays the greedy policy with the
      // mask carried through the recursion.
      val tail = typedRedactList.foldLeft(lit("")) { case (acc, (m, c, _)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      val pats = typedRedactList.map(_._2) ++ typedRedactDecoys.map(_._1)
      val masks = typedRedactList.map(_._3) ++ typedRedactDecoys.map(_._2)
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
        .select(col("doc_id"),
          graft.plans.AcRedactTyped.acRedactTyped(col("_t"), pats, masks)
            .as("_r"))
        .select(col("doc_id"),
          md5(col("_r")).as("red_md5"),
          length(col("_r")).cast("long").as("red_len"),
          (size(split(col("_r"), "<EMAIL>", -1)) - 1).cast("long").as("n_email"),
          (size(split(col("_r"), "<PHONE>", -1)) - 1).cast("long").as("n_phone"),
          (size(split(col("_r"), "<ID>", -1)) - 1).cast("long").as("n_id"))
    }),

    "q351_stream_typed_redact" -> ((s, dir) => {
      // Per-class STREAMING redaction ledger (VERDICT r16 #8): q342's
      // typed masks composed into the q345 scrub-at-ingest rig — each
      // micro-batch is scrubbed by the one-pass AcRedactTyped automaton
      // and the per-source ledger SPLITS by mask class (<EMAIL>/<PHONE>/
      // <ID>), completing the typed-scrub story end to end: at ingest,
      // the pipeline knows not just how much it scrubbed per source but
      // WHAT. The rollup is batch-membership-invariant, so the 4-slice
      // replay must land exactly on the one-shot typed scrub; the twin
      // reuses the q342 constants and recursion rolled to source totals.
      val tail = typedRedactList.foldLeft(lit("")) { case (acc, (m, c, _)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      val pats = typedRedactList.map(_._2) ++ typedRedactDecoys.map(_._1)
      val masks = typedRedactList.map(_._3) ++ typedRedactDecoys.map(_._2)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
      streamReplay(s, "q351", modSlices(docs, "doc_id", 4), 4) { (stream, ckpt, out) =>
        graft.streaming.EventStreams.typedRedactedSummary(stream, pats, masks,
          Seq("<EMAIL>", "<PHONE>", "<ID>"), out, ckpt)
      }
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"),
          sum("n_email").as("n_email"),
          sum("n_phone").as("n_phone"),
          sum("n_id").as("n_id"),
          sum("len_before").as("len_before"),
          sum("len_after").as("len_after"))
    }),

    "q341_redaction_audit" -> ((s, dir) => {
      // The VERIFICATION step a scrub pipeline runs after q336: rescan
      // the REDACTED text with the same automaton and keep only docs
      // whose scrub is total (hits_after = 0) — one scan→scrub→verify
      // composition per row, all three passes Aho–Corasick O(n+matches).
      // The engine-side hits_after filter is load-bearing: a partial
      // redactor (overlap mishandled, resume-point off by one) leaves a
      // pattern behind, drops the row here, and the oracle — which
      // derives its zero INDEPENDENTLY by containment-scanning its own
      // recursive-CTE redaction — catches the row-count drift. Reported
      // at the flagged-doc grain (hits_before > 0): distinct patterns
      // found, occurrences masked, and the length ledger.
      val tail = redactList.foldLeft(lit("")) { case (acc, (m, c)) =>
        concat(acc, when(pmod(col("doc_id"), lit(m)) === 0, lit(" " + c))
          .otherwise(lit("")))
      }
      val pats = redactList.map(_._2) ++ redactDecoys
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), tail).as("_t"))
        .select(col("doc_id"), col("_t"),
          graft.plans.AcCountMatches.acCountMatches(col("_t"), pats)
            .as("hits_before"),
          graft.plans.AcRedact.acRedact(col("_t"), pats, "[X]").as("_r"))
        .where(col("hits_before") > 0)
        .select(col("doc_id"),
          col("hits_before").cast("long").as("hits_before"),
          (size(split(col("_r"), "\\[X\\]", -1)) - 1).cast("long")
            .as("n_redactions"),
          length(col("_t")).cast("long").as("len_before"),
          length(col("_r")).cast("long").as("len_after"),
          graft.plans.AcCountMatches.acCountMatches(col("_r"), pats)
            .cast("long").as("hits_after"))
        .where(col("hits_after") === 0)
    }),

    "q326_rouge_overlap" -> ((s, dir) => {
      // ROUGE-1 P/R/F1 between blocked candidate pairs — the eval metric
      // pass a synthetic-data pipeline runs over (reference, candidate)
      // text pairs, at corpus scale; see TextAnalysis.rouge1Pairs (blocks
      // on the first-3-token md5, (block, token) equi-join overlap, never
      // all-pairs). Blocked pairs share ≥ the 3-token prefix, so overlap
      // ≥ 3 and the F1 denominator is never zero on either engine.
      TextAnalysis.rouge1Pairs(t(s, dir, "documents"), col("doc_id"), col("text"))
    }),
  )

  /** q328's shared constants (lexicon-twin pattern: the engine expression
    * and the generated twin SQL read the SAME list, so they cannot
    * drift): canaries injected by doc_id residue, decoys scanned but
    * never injected. Phrases are apostrophe-free for SQL literal safety
    * and absent from the synthetic corpus's vocabulary. */
  private val canaryList: Seq[(Int, String)] = Seq(
    3 -> "canary zebra 0xA1", 5 -> "canary heron 0xB2",
    7 -> "canary okapi 0xC3", 11 -> "canary lynx 0xD4",
    13 -> "canary tapir 0xE5", 17 -> "canary gecko 0xF6")
  private val canaryDecoys: Seq[String] =
    Seq("canary never alpha", "canary never beta")

  /** q336's shared constants (same lexicon-twin discipline as q328): an
    * overlap-adversarial blocklist — "scrub zebra card" contains "scrub
    * zebra" at the same start (longest-on-tie) and "zebra card" at a later
    * overlapping start (non-overlapping greedy must skip it) — injected by
    * doc_id residue; decoys scanned but never injected. Apostrophe-free
    * for SQL literal safety, absent from the corpus vocabulary. */
  private val redactList: Seq[(Int, String)] = Seq(
    3 -> "scrub zebra card", 5 -> "scrub zebra",
    7 -> "zebra card", 11 -> "scrub okapi")
  private val redactDecoys: Seq[String] = Seq("scrub never", "okapi card")

  /** Typed-redaction lexicon (q342): (injection residue, pattern, class
    * mask). Overlap-adversarial within AND across classes — see the q342
    * comment; apostrophe-free, absent from the corpus vocabulary. */
  private val typedRedactList: Seq[(Int, String, String)] = Seq(
    (3, "mail kudu at vole dot net", "<EMAIL>"),
    (5, "ring kudu seven", "<PHONE>"),
    (7, "kudu seven", "<PHONE>"),
    (11, "mail kudu", "<EMAIL>"),
    (13, "seven vole", "<ID>"))
  private val typedRedactDecoys: Seq[(String, String)] =
    Seq("ring vole" -> "<PHONE>", "kudu card" -> "<ID>")

  /** Shared q336/q341 twin chain: injected text `w(doc_id, t)` → the
    * greedy leftmost-longest replay (each recursive step picks the match
    * with min position, ties → max length, via the LATERAL LIMIT 1, masks
    * it, and recurses on the SUFFIX only — the accumulated prefix is
    * never rescanned, the engine's no-cascade rule) → `fin(doc_id, red)`;
    * a doc terminates when no pattern remains in its suffix. */
  private def redactCtes: String = {
    val inj = redactList.map { case (m, c) =>
      s"(CASE WHEN doc_id % $m = 0 THEN ' $c' ELSE '' END)"
    }.mkString(" || ")
    val patVals = (redactList.map(_._2) ++ redactDecoys)
      .map(p => s"('$p')").mkString(", ")
    s"""WITH RECURSIVE pats(pat) AS (VALUES $patVals),
       |w AS (SELECT doc_id, coalesce(text, '') || $inj AS t
       |  FROM documents),
       |steps AS (
       |  SELECT doc_id, t AS rest, '' AS acc FROM w
       |  UNION ALL
       |  SELECT doc_id, substr(rest, p.pos + p.plen) AS rest,
       |    acc || substr(rest, 1, p.pos - 1) || '[X]' AS acc
       |  FROM steps,
       |  LATERAL (SELECT strpos(rest, pat) AS pos, length(pat) AS plen
       |           FROM pats WHERE strpos(rest, pat) > 0
       |           ORDER BY pos ASC, plen DESC LIMIT 1) p),
       |fin AS (SELECT doc_id, acc || rest AS red FROM steps s
       |  WHERE NOT EXISTS (SELECT 1 FROM pats
       |    WHERE strpos(s.rest, pat) > 0))""".stripMargin
  }

  /** q342 twin chain: [[redactCtes]] with the mask carried through the
    * recursion — the LATERAL pick returns (pos, plen, mask) and the
    * accumulator appends the picked pattern's OWN mask instead of a
    * constant. Equal-length ties at one position are byte-identical
    * patterns (excluded by the distinct-patterns require on the engine
    * side), so pos ASC, plen DESC stays a total order. */
  private def typedRedactCtes: String = {
    val inj = typedRedactList.map { case (m, c, _) =>
      s"(CASE WHEN doc_id % $m = 0 THEN ' $c' ELSE '' END)"
    }.mkString(" || ")
    val patVals = (typedRedactList.map(t => (t._2, t._3)) ++ typedRedactDecoys)
      .map { case (p, k) => s"('$p', '$k')" }.mkString(", ")
    s"""WITH RECURSIVE pats(pat, mask) AS (VALUES $patVals),
       |w AS (SELECT doc_id, coalesce(text, '') || $inj AS t
       |  FROM documents),
       |steps AS (
       |  SELECT doc_id, t AS rest, '' AS acc FROM w
       |  UNION ALL
       |  SELECT doc_id, substr(rest, p.pos + p.plen) AS rest,
       |    acc || substr(rest, 1, p.pos - 1) || p.mask AS acc
       |  FROM steps,
       |  LATERAL (SELECT strpos(rest, pat) AS pos, length(pat) AS plen,
       |           mask
       |           FROM pats WHERE strpos(rest, pat) > 0
       |           ORDER BY pos ASC, plen DESC LIMIT 1) p),
       |fin AS (SELECT doc_id, acc || rest AS red FROM steps s
       |  WHERE NOT EXISTS (SELECT 1 FROM pats
       |    WHERE strpos(s.rest, pat) > 0))""".stripMargin
  }

  /** Shared NB-prediction CTE for the q303/q304 oracles: DuckDB extracts
    * the IDENTICAL gram occurrences (same normalization regex, same cap,
    * same leading-space-only rule) and sums the SAME integer weights from
    * the materialized model parquet. Ends with a `pred(doc_id, lang, pred,
    * n_grams)` relation. */
  private def langNbCte: String = {
    val model = graft.functions.LangDetectNB.modelPath
    val cap = graft.functions.LangDetectNB.MaxChars
    s"""WITH nrm AS (SELECT doc_id, lang,
       |   ' ' || substring(trim(regexp_replace(lower(text),
       |     '[^a-zà-öø-ÿ]+', ' ', 'g')), 1, $cap) || ' ' AS s
       |  FROM documents),
       |g1 AS (
       |  SELECT doc_id, substring(s, x.range + 1, 1) AS g
       |   FROM nrm JOIN range(${cap + 2}) x ON x.range < length(s)
       |  UNION ALL
       |  SELECT doc_id, substring(s, x.range + 1, 2)
       |   FROM nrm JOIN range(${cap + 2}) x ON x.range + 1 < length(s)
       |  UNION ALL
       |  SELECT doc_id, substring(s, x.range + 1, 3)
       |   FROM nrm JOIN range(${cap + 2}) x ON x.range + 2 < length(s)),
       |gk AS (SELECT doc_id, g FROM g1
       |  WHERE right(g, 1) <> ' ' AND substring(g, 2) NOT LIKE '% %'),
       |sc AS (SELECT k.doc_id, m.lang AS cand,
       |   CAST(sum(m.w) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n
       |  FROM gk k JOIN '$model/*.parquet' m ON m.gram = k.g
       |  GROUP BY 1, 2),
       |pick AS (SELECT doc_id, cand, n FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cand ASC) = 1),
       |pred AS (SELECT d.doc_id, d.lang, coalesce(p.cand, 'unknown') AS pred,
       |   CAST(coalesce(p.n, 0) AS BIGINT) AS n_grams
       |  FROM documents d LEFT JOIN pick p USING (doc_id))""".stripMargin
  }

  /** Generated DuckDB twin of [[graft.operators.BpeTrain]] — the merge
    * rounds UNROLLED (a recursive CTE cannot both aggregate over and
    * window over its recursive term, so each round is its own CTE block).
    * Every CTE is MATERIALIZED: DuckDB inlines CTEs by default and each
    * round references its predecessor 3× — inlined, round 20 would expand
    * to 3^20 copies of the scan (observed as an fd explosion).
    * Per round r: pair counts p_r over the positional vocab v_r, argmax
    * b_r (count desc, pair asc — the pinned tie-break), then the
    * greedy-leftmost merge via the run/alternate machinery: m marks match
    * positions, g groups runs of CONSECUTIVE matches (only possible when
    * lhs == rhs), alternate members of each run merge (provably the
    * Spark-side fold), absorbed right-elements drop via lag(sel), and
    * positions renumber. */
  private def bpeMergeBlock(src: String, best: String, dst: String, pfx: String): String =
    s"""${pfx}x AS MATERIALIZED (SELECT v.word, v.freq, v.pos, v.sym,
       |    CASE WHEN v.sym = b.l AND lead(v.sym) OVER
       |        (PARTITION BY v.word ORDER BY v.pos) = b.r2
       |      THEN 1 ELSE 0 END AS m
       |  FROM $src v CROSS JOIN $best b),
       |${pfx}y AS MATERIALIZED (SELECT *, pos - sum(m) OVER (PARTITION BY word ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS g FROM ${pfx}x),
       |${pfx}z AS MATERIALIZED (SELECT *, CASE WHEN m = 1 AND (row_number() OVER
       |      (PARTITION BY word, g, m ORDER BY pos)) % 2 = 1 THEN 1 ELSE 0 END AS sel
       |  FROM ${pfx}y),
       |$dst AS MATERIALIZED (SELECT word, freq,
       |    CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT) AS pos,
       |    CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
       |      lag(sel) OVER (PARTITION BY word ORDER BY pos) AS psel FROM ${pfx}z)
       |  WHERE coalesce(psel, 0) = 0)""".stripMargin

  /** Positional char-split of a (word, freq) CTE: (word, freq, pos, sym). */
  private def bpeCharSplit(src: String, dst: String): String =
    s"""$dst AS MATERIALIZED (SELECT word, freq, CAST(i.range AS INT) AS pos,
       |    substr(word, CAST(i.range AS INT), 1) AS sym
       |  FROM $src JOIN range(1, 21) i ON i.range <= len(word))""".stripMargin

  private val bpeWordFilter = "regexp_matches(word, '^[a-z]{2,20}$')"

  /** Training prefix: top-500 vocab w, positional v1, and rounds 1..n
    * (each contributes p_r, b_r, and the merge block producing v_{r+1}). */
  /** One Viterbi-by-enumeration block for the q337/q338 twins: segment
    * every word of `wordsCte` under `costCte` by materializing ALL
    * 2^(n−1) cut masks (n ≤ 12 by the word filter), keeping masks whose
    * every piece is in the vocab (count = bit_count+1 pieces matched),
    * and picking min (cost, mask) per word — the same unique argmin the
    * engine's (cost, mask)-lexicographic DP computes. Emits useg/uu/usc/
    * ub CTEs suffixed `$tag`. */
  private def unigramSegBlock(wordsCte: String, costCte: String, tag: String): String =
    s"""useg$tag AS (SELECT word, freq, mask,
       |   list_transform(range(1, len(cuts)), j -> substr(word,
       |     CAST(cuts[j] + 1 AS INT), CAST(cuts[j+1] - cuts[j] AS INT))) AS pieces
       |  FROM (SELECT word, freq, m.range AS mask,
       |     list_concat(list_concat([CAST(0 AS BIGINT)],
       |       [CAST(i AS BIGINT) FOR i IN range(1, len(word))
       |          IF ((m.range >> (i - 1)) & 1) = 1]),
       |       [CAST(len(word) AS BIGINT)]) AS cuts
       |    FROM $wordsCte, range(2048) m
       |    WHERE m.range < (1 << (len(word) - 1)))),
       |uu$tag AS (SELECT word, freq, mask, unnest(pieces) AS piece FROM useg$tag),
       |usc$tag AS (SELECT u.word, u.freq, u.mask, sum(c.cost) AS cost
       |  FROM uu$tag u JOIN $costCte c ON c.piece = u.piece
       |  GROUP BY 1, 2, 3
       |  HAVING count(*) = bit_count(mask) + 1),
       |ub$tag AS (SELECT word, freq, mask FROM usc$tag
       |  QUALIFY row_number() OVER (PARTITION BY word
       |    ORDER BY cost ASC, mask ASC) = 1)""".stripMargin

  /** Integer-pinned unigram piece costs. The twin ALWAYS derives its own
    * (piece, cost) table from its own vocab CTE — round(1e6·ln(total/cnt))
    * — so the piece set and the cost arithmetic stay adversarial. When the
    * engine has trained the q337/q338 configuration in this JVM (always
    * true in a Verify dump — queries run first), the captured table is
    * used ONLY to adjudicate the documented 1-ulp libm boundary (ADVICE
    * r15: JVM `math.log` vs DuckDB `ln()` can differ by one ulp at a .5
    * rounding boundary, flipping the Viterbi tie-break): the picked cost
    * is the engine's, but any piece-set difference or cost gap > 1 raises
    * `error()` and FAILS the dump instead of being silently adopted
    * (ADVICE r16 — the previous VALUES-only injection made the per-round
    * piece set tautological). No capture, or an ambiguous one → the pure
    * ln() derivation. */
  private def unigramCostCte(vocabCte: String, dst: String): String = {
    val idx = dst.stripPrefix("uc").toInt
    def lnCte(name: String) =
      s"""$name AS (SELECT piece, CAST(round(1e6 * ln(
         |   CAST((SELECT sum(cnt) FROM $vocabCte) AS DOUBLE) / cnt)) AS BIGINT) AS cost
         |  FROM $vocabCte)""".stripMargin
    graft.operators.UnigramLm.capturedCostsFor(
        maxPieceLen = 4, topSubs = 60, rounds = 3) match {
      case Some(tabs) if idx < tabs.length =>
        val vals = tabs(idx).map { case (p, c) => s"('$p', $c)" }.mkString(", ")
        s"""${lnCte(s"${dst}_raw")},
           |${dst}_cap(piece, cost) AS (SELECT * FROM (VALUES $vals)),
           |$dst AS (SELECT cap.piece,
           |   CASE WHEN raw.cost IS NULL OR abs(cap.cost - raw.cost) > 1
           |      OR (SELECT count(*) FROM ${dst}_raw)
           |        <> (SELECT count(*) FROM ${dst}_cap)
           |    THEN CAST(error('unigram round $idx: engine-captured cost table drifts from the twin-derived one beyond 1 ulp') AS BIGINT)
           |    ELSE cap.cost END AS cost
           |  FROM ${dst}_cap cap LEFT JOIN ${dst}_raw raw USING (piece))""".stripMargin
      case _ => lnCte(dst)
    }
  }

  /** The full q337 training chain: bounded vocab → seed pieces → `rounds`
    * hard-EM rounds (E: unigramSegBlock; M: recount, drop unused multi-
    * char pieces, floor singles at 1). Ends with uv$rounds/uc$rounds. */
  private def unigramTrainCtes(rounds: Int): String = {
    val seed =
      s"""WITH uw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS word
         |    FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]{2,12}$$')
         |  GROUP BY word ORDER BY freq DESC, word LIMIT 300),
         |usub AS (SELECT substr(word, CAST(s.range + 1 AS INT),
         |    CAST(l.range + 1 AS INT)) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM uw, range(12) s, range(4) l
         |  WHERE s.range + l.range + 1 <= len(word)
         |  GROUP BY 1),
         |uv0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM usub WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (SELECT piece, cnt FROM usub
         |    WHERE len(piece) >= 2 ORDER BY cnt DESC, piece ASC LIMIT 60)),
         |${unigramCostCte("uv0", "uc0")}""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""${unigramSegBlock("uw", s"uc${r - 1}", s"$r")},
         |un$r AS (SELECT u.piece, CAST(sum(u.freq) AS BIGINT) AS cnt
         |  FROM ub$r b JOIN uu$r u ON u.word = b.word AND u.mask = b.mask
         |  GROUP BY 1),
         |uv$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM un$r WHERE len(piece) >= 2
         |  UNION ALL
         |  SELECT v.piece, coalesce(n.cnt, CAST(1 AS BIGINT)) AS cnt
         |  FROM uv0 v LEFT JOIN un$r n ON n.piece = v.piece
         |  WHERE len(v.piece) = 1),
         |${unigramCostCte(s"uv$r", s"uc$r")}""".stripMargin
    }
    (seed +: rs).mkString(",\n")
  }

  private def bpeTrainCtes(rounds: Int): String = {
    val vocab =
      s"""WITH w AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS word
         |    FROM documents)
         |  WHERE $bpeWordFilter
         |  GROUP BY word ORDER BY freq DESC, word LIMIT 500),
         |${bpeCharSplit("w", "v1")}""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT a.sym AS l, b.sym AS r2, sum(a.freq) AS c
         |  FROM v$r a JOIN v$r b ON a.word = b.word AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r2, c FROM p$r ORDER BY c DESC, l, r2 LIMIT 1),
         |${bpeMergeBlock(s"v$r", s"b$r", s"v${r + 1}", s"t$r")}""".stripMargin
    }
    (vocab +: rs).mkString(",\n")
  }

  // def, not val: the q337/q338 twins consult UnigramLm.capturedCostsFor
  // — engine-computed adjudication VALUES only available AFTER the
  // queries ran (Verify dumps oracleSql last), so build the map at dump time
  def oracleSql: ListMap[String, String] = ListMap(
      "q303_langdetect_nb" ->
        s"""$langNbCte
           |SELECT doc_id, lang, pred, n_grams FROM pred""".stripMargin,

      "q304_langdetect_confusion" ->
        s"""$langNbCte,
           |m AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM pred GROUP BY 1, 2),
           |t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS tt
           |  FROM m GROUP BY 1)
           |SELECT m.lang, m.pred, m.n_docs,
           | round(CAST(m.n_docs AS DOUBLE) / t.tt, 4) AS share
           |FROM m JOIN t USING (lang)""".stripMargin,
      "q24_lang_id" -> langPredSql,

      "q25_text_profile" -> {
        val nTok = s"CASE WHEN $cln = '' THEN 0 ELSE len(string_split($cln, ' ')) END"
        val nPunct = hitSql("text", "[\\.,;:!\\?]")
        val nStop = hitSql("text", Lexicons.wordAlternation(Lexicons.StopwordsEn))
        // quality mirrors TextAnalysis.qualityScore: mean of clamped
        // length/token/punctuation components
        val quality = "round((least(nc / 200.0, 1.0) + least(nt / 50.0, 1.0) + " +
          "greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / nc END) * 5.0)) / 3.0, 4)"
        s"""WITH c1 AS (SELECT *, ${cleanSql("text")} AS $cln FROM documents),
           |f AS (SELECT doc_id, text, length($cln) AS nc, $nTok AS nt,
           |  $nPunct AS np, $nStop AS ns FROM c1)
           |SELECT doc_id, CAST(nc AS INT) AS n_chars, CAST(nt AS INT) AS n_tokens_ws,
           | CAST(len(regexp_extract_all(coalesce(text, ''), '${TextExprs.BpeTokenRegex}')) AS INT) AS n_tokens_bpe,
           | round(CASE WHEN nt = 0 THEN 0.0 ELSE CAST(nc AS DOUBLE) / nt END, 4) AS avg_token_len,
           | round(CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / nc END, 4) AS punct_ratio,
           | round(CASE WHEN nt = 0 THEN 0.0 ELSE CAST(ns AS DOUBLE) / nt END, 4) AS stopword_ratio,
           | $quality AS quality
           |FROM f""".stripMargin
      },

      "q65_token_entropy" ->
        s"""WITH tok AS (SELECT source,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token FROM documents),
           |tc AS (SELECT source, token, count(*) AS c FROM tok
           |  WHERE token <> '' GROUP BY 1, 2)
           |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
           | round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
           | round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
           |FROM tc GROUP BY source""".stripMargin,

      "q70_pii_redact" -> {
        val emailRe = graft.operators.Privacy.EmailRe
        val phoneRe = graft.operators.Privacy.PhoneRe
        val ipRe = graft.operators.Privacy.Ipv4Re
        s"""WITH p AS (SELECT doc_id,
           |  substring(text, 1, 60) || ' contact user' || CAST(doc_id AS VARCHAR)
           |   || '@mail.example.com or +1-555-01'
           |   || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
           |   || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
           | FROM documents)
           |SELECT doc_id,
           | regexp_replace(regexp_replace(regexp_replace(raw,
           |   '$emailRe', '<EMAIL>', 'g'),
           |   '$ipRe', '<IP>', 'g'),
           |   '$phoneRe', '<PHONE>', 'g') AS redacted,
           | CAST(len(regexp_extract_all(raw, '$emailRe')) AS BIGINT) AS n_emails,
           | CAST(len(regexp_extract_all(raw, '$phoneRe')) AS BIGINT) AS n_phones,
           | CAST(len(regexp_extract_all(raw, '$ipRe')) AS BIGINT) AS n_ips
           |FROM p""".stripMargin
      },

      "q79_quality_rules" -> TextAnalysis.gopherRulesOracleSql(
        "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')"),

      "q80_repetition" ->
        s"""WITH d AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |d2 AS (SELECT * FROM d WHERE len(toks) >= 2),
           |uni AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS f FROM (
           |   SELECT doc_id, g, count(*) AS c FROM (
           |     SELECT doc_id, unnest(toks) AS g FROM d2) GROUP BY 1, 2
           |  ) GROUP BY doc_id),
           |bi AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS f FROM (
           |   SELECT doc_id, g, count(*) AS c FROM (
           |     SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |       i -> array_to_string(toks[i:i+1], ' '))) AS g FROM d2) GROUP BY 1, 2
           |  ) GROUP BY doc_id)
           |SELECT uni.doc_id AS doc_id, round(uni.f, 6) AS top_uni_frac,
           | round(bi.f, 6) AS top_bi_frac, bi.f > 0.08 AS repetitive
           |FROM uni JOIN bi ON uni.doc_id = bi.doc_id""".stripMargin,

      "q82_nfc_normalize" ->
        """WITH p AS (SELECT doc_id,
          |  substring(text, 1, 20) || ' cafe' || chr(769) || ' prec' || chr(807)
          |   || 'o stra' || chr(223) || 'e' AS raw
          | FROM documents)
          |SELECT doc_id, nfc_normalize(raw) AS nfc,
          | CAST(length(raw) AS BIGINT) AS len_raw,
          | CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
          |FROM p""".stripMargin,

      "q102_zipf" ->
        s"""WITH tok AS (SELECT unnest(string_split(${cleanSql("text")}, ' ')) AS tok
           |  FROM documents),
           |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY tok),
           |r AS (SELECT freq, CAST(row_number()
           |   OVER (ORDER BY freq DESC, tok ASC) AS BIGINT) AS rnk FROM f)
           |SELECT round(regr_slope(ln(freq), ln(rnk)), 6) AS zipf_slope,
           | round(regr_intercept(ln(freq), ln(rnk)), 6) AS zipf_intercept,
           | CAST(count(*) AS BIGINT) AS n_types,
           | CAST(sum(freq) AS BIGINT) AS n_tokens
           |FROM r""".stripMargin,

      "q106_bigram_lm" ->
        s"""WITH d AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |nn AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 2),
           |bg AS (SELECT doc_id, toks[CAST(pos AS BIGINT)] AS w1,
           |   toks[CAST(pos + 1 AS BIGINT)] AS w2
           |  FROM (SELECT doc_id, toks,
           |   unnest(generate_series(1, CAST(n - 1 AS BIGINT))) AS pos FROM nn)),
           |m2 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
           |m1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
           |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM (
           |   SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |   FROM documents) WHERE tok <> '')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           | round(avg(-ln((c12 + 1.0) / (c1 + v))), 4) AS xent,
           | round(exp(avg(-ln((c12 + 1.0) / (c1 + v)))), 4) AS ppl
           |FROM bg JOIN m2 USING (w1, w2) JOIN m1 USING (w1) CROSS JOIN v
           |GROUP BY doc_id""".stripMargin,

      "q116_tokenizer_fertility" -> {
        val c = cleanSql("text")
        s"""WITH f AS (SELECT lang, length($c) AS nc,
           |  CASE WHEN $c = '' THEN 0 ELSE len(string_split($c, ' ')) END AS nw,
           |  len(regexp_extract_all(coalesce(text, ''), '${TextExprs.BpeTokenRegex}')) AS nb
           | FROM documents)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(nc) AS BIGINT) AS n_chars, CAST(sum(nw) AS BIGINT) AS n_words,
           | CAST(sum(nb) AS BIGINT) AS n_bpe,
           | round(sum(nc) / CAST(sum(nb) AS DOUBLE), 4) AS chars_per_bpe,
           | round(sum(nb) / CAST(sum(nw) AS DOUBLE), 4) AS fertility
           |FROM f GROUP BY lang""".stripMargin
      },

      "q133_hash_classifier" -> nbQualitySql,

      "q138_novelty" ->
        s"""$shingleCte,
           |u AS (SELECT doc_id, unnest(s) AS h FROM sh),
           |f AS (SELECT h, min(doc_id) AS fd FROM u GROUP BY h)
           |SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           | CAST(sum(CASE WHEN f.fd = u.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           | round(CAST(sum(CASE WHEN f.fd = u.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           |   / count(*), 6) AS novel_share
           |FROM u JOIN f USING (h) GROUP BY u.doc_id""".stripMargin,

      "q142_stupid_backoff" ->
        s"""WITH d AS (SELECT doc_id, string_split(lower(${cleanSql("text")}), ' ') AS ts FROM documents),
           |un AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
           |   SELECT unnest(ts) AS tok FROM d WHERE doc_id % 5 <> 0)
           |  WHERE tok <> '' GROUP BY tok),
           |sc AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM un),
           |bg AS (SELECT doc_id, unnest(ts[:len(ts)-1]) AS w1, unnest(ts[2:]) AS w2
           |  FROM d WHERE len(ts) >= 2),
           |m2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg
           |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
           |m1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg
           |  WHERE doc_id % 5 <> 0 GROUP BY 1),
           |hb AS (SELECT doc_id, w1, w2 FROM bg WHERE doc_id % 5 = 0),
           |j AS (SELECT hb.doc_id,
           |   CASE WHEN m2.c12 IS NOT NULL THEN CAST(m2.c12 AS DOUBLE) / m1.c1
           |        ELSE 0.4 * (coalesce(u2.c, 0) + 1.0) / (sc.n + sc.v) END AS s,
           |   CASE WHEN m2.c12 IS NULL THEN 1.0 ELSE 0.0 END AS bo
           |  FROM hb LEFT JOIN m2 USING (w1, w2) LEFT JOIN m1 USING (w1)
           |  LEFT JOIN un u2 ON u2.tok = hb.w2, sc)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           | round(avg(-ln(s)), 4) AS xent, round(avg(bo), 4) AS backoff_rate
           |FROM j GROUP BY doc_id""".stripMargin,

      "q144_lang_confusion" ->
        s"""WITH p AS (
           |$langPredSql
           |),
           |c AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2),
           |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1)
           |SELECT c.lang, c.lang_pred, c.n,
           | round(CAST(c.n AS DOUBLE) / t.t, 6) AS share,
           | (c.lang = c.lang_pred) AS correct
           |FROM c JOIN t USING (lang)""".stripMargin,

      "q150_rater_agreement" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |g AS (
           |$gopher
           |),
           |j AS (SELECT d.lang, q.keep, g.passes
           |  FROM q JOIN g USING (doc_id) JOIN documents d USING (doc_id)),
           |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(CASE WHEN keep AND passes THEN 1 ELSE 0 END) AS BIGINT) AS n11,
           |   CAST(sum(CASE WHEN keep AND NOT passes THEN 1 ELSE 0 END) AS BIGINT) AS n10,
           |   CAST(sum(CASE WHEN NOT keep AND passes THEN 1 ELSE 0 END) AS BIGINT) AS n01,
           |   CAST(sum(CASE WHEN NOT keep AND NOT passes THEN 1 ELSE 0 END) AS BIGINT) AS n00
           |  FROM j GROUP BY lang)
           |SELECT lang, n, n11, n10, n01, n00,
           | round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
           | round(CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
           |   / (n * n), 6) AS pe,
           | CASE WHEN CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
           |       / (n * n) = 1.0 THEN 1.0
           |  ELSE round((CAST(n11 + n00 AS DOUBLE) / n
           |    - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
           |      / (n * n))
           |   / (1.0 - CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
           |      / (n * n)), 6) END AS kappa
           |FROM c""".stripMargin
      },

      "q149_boilerplate" ->
        s"""WITH d AS (SELECT doc_id, source,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |w AS (SELECT doc_id, source, toks,
           |   unnest(generate_series(0, CAST(ceil(len(toks) / 3.0) - 1 AS BIGINT))) AS i
           |  FROM d WHERE len(toks) >= 1),
           |sg AS (SELECT doc_id, source,
           |   array_to_string(list_slice(toks, CAST(i * 3 + 1 AS BIGINT),
           |     CAST(i * 3 + 3 AS BIGINT)), ' ') AS seg FROM w),
           |sh AS (SELECT doc_id, source, substring(md5(seg), 1, 16) AS h
           |  FROM sg WHERE seg <> ''),
           |c AS (SELECT source, h, CAST(count(*) AS BIGINT) AS occ,
           |   CAST(count(DISTINCT doc_id) AS BIGINT) AS ndf FROM sh GROUP BY 1, 2),
           |st AS (SELECT source, CAST(count(*) AS BIGINT) AS sdocs FROM d
           |  WHERE len(toks) >= 1 GROUP BY source),
           |f AS (SELECT c.source, c.occ,
           |   (c.ndf >= 2 AND c.ndf * 20 > st.sdocs) AS boiler
           |  FROM c JOIN st USING (source))
           |SELECT source, CAST(sum(occ) AS BIGINT) AS n_seg_occ,
           | CAST(count(*) AS BIGINT) AS n_distinct_segs,
           | CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_segs,
           | CAST(sum(CASE WHEN boiler THEN occ ELSE 0 END) AS BIGINT) AS boiler_occ,
           | round(CAST(sum(CASE WHEN boiler THEN occ ELSE 0 END) AS DOUBLE)
           |   / sum(occ), 6) AS boiler_share
           |FROM f GROUP BY source""".stripMargin,

      "q161_vocab_coverage" ->
        s"""WITH tok0 AS (SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |  FROM documents),
           |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           |  FROM tok0 WHERE tok <> '' GROUP BY tok),
           |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt,
           |   CAST(count(*) AS BIGINT) AS v FROM tc),
           |r AS (SELECT tok, cnt,
           |   CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rn,
           |   CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
           |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM tc)
           |SELECT rn AS vocab_size, tok AS boundary_tok, cum AS covered_tokens,
           | t.tt AS total_tokens, round(CAST(cum AS DOUBLE) / t.tt, 6) AS coverage,
           | t.v AS n_types
           |FROM r, t WHERE (rn & (rn - 1)) = 0""".stripMargin,

      // all-pairs exact twin of a banded-LSH engine path — see the recall
      // caveat at q159's oracle entry (misses a band collision with
      // ≈2e-5 probability per exactly-at-threshold pair)
      "q164_effective_tokens" ->
        s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7),
           |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION SELECT id_b, id_a FROM pairs
           |  UNION SELECT id_a, id_a FROM pairs
           |  UNION SELECT id_b, id_b FROM pairs),
           |reach AS (SELECT src, dst FROM e
           |  UNION SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
           |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
           |csz AS (SELECT component, CAST(count(*) AS BIGINT) AS csz
           |  FROM comp GROUP BY component),
           |nt AS (SELECT doc_id, source,
           |   ${tokenCountSql("text")} AS n_toks
           |  FROM documents),
           |w AS (SELECT nt.source, nt.n_toks, coalesce(csz.csz, 1) AS csz
           |  FROM nt LEFT JOIN comp USING (doc_id) LEFT JOIN csz USING (component))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(n_toks) AS BIGINT) AS raw_tokens,
           | round(sum(CAST(n_toks AS DOUBLE) / csz), 4) AS effective_tokens,
           | round(1.0 - round(sum(CAST(n_toks AS DOUBLE) / csz), 4)
           |   / sum(n_toks), 6) AS dup_discount
           |FROM w GROUP BY source""".stripMargin,

      "q166_lexical_richness" ->
        s"""WITH tk AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT source,
           |     unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |    FROM documents)
           |  WHERE tok <> '' GROUP BY source, tok)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
           | CAST(sum(c) AS BIGINT) AS n_tokens,
           | round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
           | round(ln(CAST(count(*) AS DOUBLE)) / ln(CAST(sum(c) AS DOUBLE)), 6)
           |   AS herdan_c,
           | round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_tok_share
           |FROM tk GROUP BY source""".stripMargin,

      "q169_bpe_pairs" ->
        s"""WITH tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |    FROM documents)
           |  WHERE tok <> '' GROUP BY tok),
           |w AS (SELECT cnt, tok,
           |   unnest(generate_series(1, len(tok) - 1)) AS i
           |  FROM tc WHERE len(tok) >= 2),
           |f AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair,
           |   CAST(sum(cnt) AS BIGINT) AS freq FROM w GROUP BY 1)
           |SELECT pair, freq,
           | CAST(row_number() OVER (ORDER BY freq DESC, pair ASC) AS BIGINT) AS rnk
           |FROM f QUALIFY rnk <= 20""".stripMargin,

      "q171_script_profile" -> {
        def cnt(re: String): String =
          s"len(c) - len(regexp_replace(c, '$re', '', 'g'))"
        s"""WITH d AS (SELECT source, lower(${cleanSql("text")}) AS c FROM documents),
           |k AS (SELECT source, CAST(len(c) AS BIGINT) AS nc,
           |   CAST(${cnt("[a-z]")} AS BIGINT) AS na,
           |   CAST(${cnt("[0-9]")} AS BIGINT) AS nd,
           |   CAST(${cnt(" ")} AS BIGINT) AS ns FROM d)
           |SELECT source, CAST(sum(nc) AS BIGINT) AS n_chars,
           | round(CAST(sum(na) AS DOUBLE) / sum(nc), 6) AS alpha_share,
           | round(CAST(sum(nd) AS DOUBLE) / sum(nc), 6) AS digit_share,
           | round(CAST(sum(ns) AS DOUBLE) / sum(nc), 6) AS space_share,
           | round(CAST(sum(nc) - sum(na) - sum(nd) - sum(ns) AS DOUBLE)
           |   / sum(nc), 6) AS other_share
           |FROM k GROUP BY source""".stripMargin
      },

      "q172_label_fusion" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |g AS (
           |$gopher
           |),
           |v AS (SELECT d.doc_id, q.keep AS r1, g.passes AS r2,
           |   d.n_chars >= 200 AS r3,
           |   (CAST(q.keep AS INT) + CAST(g.passes AS INT)
           |     + CASE WHEN d.n_chars >= 200 THEN 1 ELSE 0 END) >= 2 AS maj
           |  FROM documents d JOIN q USING (doc_id) JOIN g USING (doc_id)),
           |a AS (SELECT avg(CAST(r1 = maj AS DOUBLE)) AS a1,
           |   avg(CAST(r2 = maj AS DOUBLE)) AS a2,
           |   avg(CAST(r3 = maj AS DOUBLE)) AS a3 FROM v),
           |s AS (SELECT doc_id, r1, r2, r3, maj,
           |   round((CASE WHEN r1 THEN a1 - 0.5 ELSE 0.5 - a1 END)
           |     + (CASE WHEN r2 THEN a2 - 0.5 ELSE 0.5 - a2 END)
           |     + (CASE WHEN r3 THEN a3 - 0.5 ELSE 0.5 - a3 END), 6) AS fused_score
           |  FROM v, a)
           |SELECT doc_id, r1, r2, r3, maj, fused_score,
           | CASE WHEN fused_score > 0 THEN true
           |      WHEN fused_score < 0 THEN false
           |      ELSE maj END AS fused
           |FROM s""".stripMargin
      },

      "q175_novelty_curve" ->
        s"""$shingleCte,
           |r AS (SELECT doc_id,
           |   CAST(row_number() OVER (ORDER BY doc_id ASC) AS BIGINT) AS rn
           |  FROM documents),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |dec AS (SELECT doc_id, (rn - 1) * 10 // n AS decile FROM r, t),
           |gd AS (SELECT DISTINCT dec.decile, u.g FROM
           |   (SELECT doc_id, unnest(s) AS g FROM sh) u JOIN dec USING (doc_id)),
           |f AS (SELECT g, CAST(min(decile) AS BIGINT) AS fd FROM gd GROUP BY g)
           |SELECT decile, CAST(count(*) AS BIGINT) AS n_distinct_grams,
           | CAST(sum(CASE WHEN f.fd = gd.decile THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           | round(CAST(sum(CASE WHEN f.fd = gd.decile THEN 1 ELSE 0 END) AS DOUBLE)
           |   / count(*), 6) AS novelty_share
           |FROM gd JOIN f USING (g) GROUP BY decile""".stripMargin,

      "q207_token_weighted_length" ->
        s"""WITH d AS (SELECT source, ${tokenCountSql("text")} AS n
           |  FROM documents),
           |d2 AS (SELECT source, CAST(n AS BIGINT) AS n FROM d WHERE n > 0),
           |c AS (SELECT source, n,
           |   sum(n) OVER (PARTITION BY source ORDER BY n
           |     ROWS UNBOUNDED PRECEDING) AS cw
           |  FROM d2),
           |w AS (SELECT source, CAST(sum(n) AS BIGINT) AS W FROM d2
           |  GROUP BY source),
           |p50 AS (SELECT c.source, min(c.n) AS w_p50 FROM c JOIN w USING (source)
           |  WHERE c.cw >= ceil(0.5 * w.W) AND c.cw - c.n < ceil(0.5 * w.W)
           |  GROUP BY c.source),
           |p90 AS (SELECT c.source, min(c.n) AS w_p90 FROM c JOIN w USING (source)
           |  WHERE c.cw >= ceil(0.9 * w.W) AND c.cw - c.n < ceil(0.9 * w.W)
           |  GROUP BY c.source),
           |q AS (SELECT source, round(quantile_cont(n, 0.5), 4) AS p50
           |  FROM d2 GROUP BY source)
           |SELECT q.source, q.p50, p50.w_p50, p90.w_p90
           |FROM q JOIN p50 USING (source) JOIN p90 USING (source)""".stripMargin,

      "q208_distinct_ngrams" ->
        s"""WITH d AS (SELECT source,
           |   list_filter(string_split(${cleanSql("text")}, ' '),
           |     t -> t <> '') AS toks FROM documents),
           |g AS (
           | SELECT source, 1 AS n, unnest(toks) AS gram FROM d
           |  WHERE len(toks) >= 1
           | UNION ALL
           | SELECT source, 2, unnest(list_transform(range(1, len(toks)),
           |   i -> array_to_string(toks[i:i+1], ' ')))
           |  FROM d WHERE len(toks) >= 2
           | UNION ALL
           | SELECT source, 3, unnest(list_transform(range(1, len(toks) - 1),
           |   i -> array_to_string(toks[i:i+2], ' ')))
           |  FROM d WHERE len(toks) >= 3)
           |SELECT source, CAST(n AS BIGINT) AS n,
           | CAST(count(*) AS BIGINT) AS total_ngrams,
           | CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
           | round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 4)
           |   AS distinct_ratio
           |FROM g GROUP BY source, n""".stripMargin,

      "q240_heaps_law" ->
        s"""WITH d0 AS (SELECT doc_id,
           |   list_filter(string_split(lower(${cleanSql("text")}), ' '),
           |     t -> t <> '') AS toks FROM documents),
           |d AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
           |   list_transform(range(1, len(toks) - 1),
           |     i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
           |       || ' ' || toks[CAST(i + 2 AS INT)])
           |  ELSE [] END AS grams FROM d0),
           |r AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rk,
           |   grams, CAST(len(grams) AS BIGINT) AS ng FROM d),
           |e AS (SELECT rk, unnest(grams) AS g FROM r),
           |fst AS (SELECT g, min(rk) AS frk FROM e GROUP BY g),
           |vi AS (SELECT frk, CAST(count(*) AS BIGINT) AS v_incr
           |  FROM fst GROUP BY frk),
           |pr AS (SELECT r.rk, r.ng, coalesce(vi.v_incr, 0) AS v_incr
           |  FROM r LEFT JOIN vi ON vi.frk = r.rk),
           |run AS (SELECT rk,
           |   CAST(sum(ng) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING)
           |     AS BIGINT) AS n_grams,
           |   CAST(sum(v_incr) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING)
           |     AS BIGINT) AS vocab FROM pr),
           |cuts AS (SELECT CAST(i.i AS BIGINT) AS checkpoint,
           |   (CAST(i.i AS BIGINT) * (SELECT max(rk) FROM r)) // 20 AS cut
           |  FROM (SELECT unnest(range(1, 21)) AS i) i),
           |cp AS (SELECT c.checkpoint, run.rk AS n_docs, run.n_grams, run.vocab
           |  FROM run JOIN cuts c ON run.rk = c.cut),
           |l AS (SELECT round(ln(CAST(n_grams AS DOUBLE)), 9) AS x,
           |   round(ln(CAST(vocab AS DOUBLE)), 9) AS y
           |  FROM cp WHERE n_grams > 0 AND vocab > 0),
           |fit AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
           |   sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy FROM l)
           |SELECT cp.checkpoint, cp.n_docs, cp.n_grams, cp.vocab,
           | round((fit.n * fit.sxy - fit.sx * fit.sy)
           |   / (fit.n * fit.sxx - fit.sx * fit.sx), 6) AS heaps_beta,
           | round(exp((fit.sy - ((fit.n * fit.sxy - fit.sx * fit.sy)
           |     / (fit.n * fit.sxx - fit.sx * fit.sx)) * fit.sx) / fit.n), 6)
           |   AS heaps_k
           |FROM cp, fit""".stripMargin,

      "q265_kneser_ney" ->
        s"""WITH toks AS (SELECT string_split(lower(${cleanSql("text")}), ' ')
          |   AS ts FROM documents),
          |bgs AS (SELECT unnest(list_transform(range(1, len(ts)),
          |   i -> ts[i] || ' ' || ts[i + 1])) AS b
          |  FROM toks WHERE len(ts) >= 2),
          |pairs AS (SELECT string_split(b, ' ')[1] AS w1,
          |   string_split(b, ' ')[2] AS w2 FROM bgs),
          |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pairs
          |  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
          |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw1,
          |   CAST(count(*) AS BIGINT) AS n1_fwd FROM bc GROUP BY 1),
          |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1_rev
          |  FROM bc GROUP BY 1),
          |bt AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM bc)
          |SELECT bc.w1, bc.w2, bc.c, ctx.cw1, ctx.n1_fwd, cont.n1_rev,
          | round((CAST(bc.c AS DOUBLE) - 0.75) / ctx.cw1 +
          |   (0.75 * ctx.n1_fwd / ctx.cw1) *
          |   (CAST(cont.n1_rev AS DOUBLE) / bt.btypes), 6) AS p_kn
          |FROM bc JOIN ctx ON bc.w1 = ctx.w1
          | JOIN cont ON bc.w2 = cont.w2, bt""".stripMargin,

      "q278_fightin_words" ->
        s"""WITH st AS (SELECT source, token,
           |   CAST(count(*) AS BIGINT) AS y_sw FROM (
           |   SELECT source,
           |    unnest(string_split(lower(${cleanSql("text")}), ' ')) AS token
           |   FROM documents) WHERE token <> '' GROUP BY 1, 2),
           |yw AS (SELECT token, CAST(sum(y_sw) AS BIGINT) AS y_w
           |  FROM st GROUP BY 1),
           |ns AS (SELECT source, CAST(sum(y_sw) AS BIGINT) AS n_s
           |  FROM st GROUP BY 1),
           |tot AS (SELECT CAST(sum(y_sw) AS BIGINT) AS nn FROM st),
           |sc AS (SELECT st.source, st.token, st.y_sw,
           |   1000.0 * yw.y_w / tot.nn AS a_w,
           |   yw.y_w, ns.n_s, tot.nn
           |  FROM st JOIN yw USING (token) JOIN ns USING (source), tot),
           |z AS (SELECT source, token, y_sw,
           |   round((ln((y_sw + a_w) / (n_s + 1000.0 - y_sw - a_w))
           |     - ln((y_w - y_sw + a_w)
           |        / (nn - n_s + 1000.0 - (y_w - y_sw) - a_w)))
           |    / sqrt(1.0 / (y_sw + a_w) + 1.0 / (y_w - y_sw + a_w)), 4)
           |    AS z FROM sc)
           |SELECT source, CAST(row_number() OVER (PARTITION BY source
           |   ORDER BY z DESC, token ASC) AS BIGINT) AS rnk,
           | token, y_sw, z FROM z
           |QUALIFY rnk <= 10""".stripMargin,

      "q285_oov_drift" ->
        s"""WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
           |tk AS (SELECT CASE WHEN d.doc_id * 2 <= mx.mxid THEN 'A'
           |    ELSE 'B' END AS epoch, d.source, t.token
           |  FROM (SELECT doc_id, source,
           |     unnest(string_split(lower(${cleanSql("text")}), ' '))
           |       AS token FROM documents) t
           |  JOIN documents d USING (doc_id), mx
           |  WHERE t.token <> ''),
           |vocab AS (SELECT token FROM (
           |   SELECT token, count(*) AS c FROM tk WHERE epoch = 'A'
           |   GROUP BY 1) ORDER BY c DESC, token ASC LIMIT 512),
           |rates AS (SELECT source, epoch,
           |   CAST(count(*) AS BIGINT) AS toks,
           |   CAST(sum(CASE WHEN tk.token IN (SELECT token FROM vocab)
           |     THEN 0 ELSE 1 END) AS BIGINT) AS oovs
           |  FROM tk GROUP BY 1, 2)
           |SELECT a.source, a.toks AS tokens_a, a.oovs AS oov_a,
           | b.toks AS tokens_b, b.oovs AS oov_b,
           | round(CAST(a.oovs AS DOUBLE) / a.toks, 6) AS oov_rate_a,
           | round(CAST(b.oovs AS DOUBLE) / b.toks, 6) AS oov_rate_b,
           | round(CAST(b.oovs AS DOUBLE) / b.toks
           |   - CAST(a.oovs AS DOUBLE) / a.toks, 6) AS oov_drift
           |FROM (SELECT * FROM rates WHERE epoch = 'A') a
           | JOIN (SELECT * FROM rates WHERE epoch = 'B') b
           | USING (source)""".stripMargin,

      "q89_perplexity" ->
        s"""WITH toks AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |  FROM documents),
           |t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
           |m AS (SELECT tok, count(*) AS c FROM t2 GROUP BY 1),
           |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM m)
           |SELECT t2.doc_id AS doc_id, count(*) AS n_toks,
           | round(avg(-ln(m.c / n.n)), 4) AS xent,
           | round(exp(avg(-ln(m.c / n.n))), 4) AS ppl
           |FROM t2 JOIN m USING (tok) CROSS JOIN n
           |GROUP BY 1""".stripMargin,

      "q311_bpe_train" -> {
        val rows = (1 to 20).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round, l AS lhs, r2 AS rhs,
             |   l || r2 AS merged, CAST(c AS BIGINT) AS pair_count FROM b$r""".stripMargin)
        s"""${bpeTrainCtes(20)}
           |${rows.mkString("\nUNION ALL\n")}""".stripMargin
      },

      "q321_bpe_fertility" -> {
        // the training chain re-derived, then the 20 learned merges applied
        // to the FULL vocab (a1..a21) via the same greedy machinery
        val apply = (1 to 20).map(r =>
          bpeMergeBlock(s"a$r", s"b$r", s"a${r + 1}", s"u$r")).mkString(",\n")
        s"""${bpeTrainCtes(20)},
           |aw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS word
           |    FROM documents)
           |  WHERE $bpeWordFilter GROUP BY word),
           |${bpeCharSplit("aw", "a1")},
           |$apply,
           |f AS MATERIALIZED (SELECT word, freq, CAST(count(*) AS BIGINT) AS n_syms
           |  FROM a21 GROUP BY 1, 2)
           |SELECT CAST(count(*) AS BIGINT) AS n_words,
           | CAST(sum(freq) AS BIGINT) AS n_occurrences,
           | CAST(sum(freq * n_syms) AS BIGINT) AS total_syms,
           | round(CAST(sum(freq * n_syms) AS DOUBLE) / sum(freq), 6) AS fertility,
           | CAST(sum(freq * len(word)) AS BIGINT) AS total_chars,
           | round(CAST(sum(freq * len(word)) AS DOUBLE) / sum(freq), 6)
           |   AS char_fertility
           |FROM f""".stripMargin
      },

      // the hard-EM chain re-derived end to end; the final piece table is
      // the training artifact (counts + integer-pinned costs)
      "q337_unigram_train" ->
        s"""${unigramTrainCtes(3)}
           |SELECT v.piece, v.cnt, c.cost AS cost6
           |FROM uv3 v JOIN uc3 c ON v.piece = c.piece""".stripMargin,

      // the training chain + one more enumeration-Viterbi block over the
      // FULL word vocab under the final costs; unsegmentable words fall
      // back to per-char <unk> via the left join's coalesce
      "q338_unigram_fertility" ->
        s"""${unigramTrainCtes(3)},
           |aw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
           |    SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS word
           |    FROM documents)
           |  WHERE regexp_matches(word, '^[a-z]{2,12}$$')
           |  GROUP BY word),
           |${unigramSegBlock("aw", "uc3", "a")},
           |uf AS (SELECT a.word, a.freq,
           |   CAST(coalesce(bit_count(b.mask) + 1, len(a.word)) AS BIGINT) AS n_syms
           |  FROM aw a LEFT JOIN uba b ON b.word = a.word)
           |SELECT CAST(count(*) AS BIGINT) AS n_words,
           | CAST(sum(freq) AS BIGINT) AS n_occurrences,
           | CAST(sum(freq * n_syms) AS BIGINT) AS total_syms,
           | round(CAST(sum(freq * n_syms) AS DOUBLE) / sum(freq), 6) AS fertility,
           | CAST(sum(freq * len(word)) AS BIGINT) AS total_chars,
           | round(CAST(sum(freq * len(word)) AS DOUBLE) / sum(freq), 6)
           |   AS char_fertility
           |FROM uf""".stripMargin,

      // the injection chain and the per-phrase containment sum are both
      // GENERATED from canaryList/canaryDecoys — the twin of one AC pass
      "q328_canary_scan" -> {
        val inj = canaryList.map { case (m, c) =>
          s"(CASE WHEN doc_id % $m = 0 THEN ' $c' ELSE '' END)"
        }.mkString(" || ")
        val hits = (canaryList.map(_._2) ++ canaryDecoys).map(c =>
          s"(CASE WHEN contains(t, '$c') THEN 1 ELSE 0 END)").mkString("\n   + ")
        s"""WITH w AS (SELECT doc_id, coalesce(text, '') || $inj AS t
           |  FROM documents)
           |SELECT doc_id, CAST($hits AS INT) AS n_canaries FROM w""".stripMargin
      },

      // the greedy leftmost-longest policy replayed exactly: each
      // recursive step picks the match with min position (ties → max
      // length) via the LATERAL LIMIT 1, masks it, and recurses on the
      // suffix only (the accumulated prefix is never rescanned — same
      // no-cascade rule as the engine); a doc terminates when no pattern
      // remains in its suffix
      "q336_blocklist_redact" ->
        s"""$redactCtes
           |SELECT doc_id, md5(red) AS red_md5,
           | CAST(length(red) AS BIGINT) AS red_len,
           | CAST(len(string_split(red, '[X]')) - 1 AS BIGINT) AS n_redactions
           |FROM fin""".stripMargin,

      // streaming scrub twin: the q336 recursive replay rolled to source
      // totals — batch-membership-invariant sums, so the 4-slice replay
      // must land exactly here
      "q345_stream_redact" ->
        s"""$redactCtes
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(len(string_split(f.red, '[X]')) - 1) AS BIGINT)
           |   AS n_redactions,
           | CAST(sum(length(w.t)) AS BIGINT) AS len_before,
           | CAST(sum(length(f.red)) AS BIGINT) AS len_after
           |FROM fin f JOIN w ON f.doc_id = w.doc_id
           |JOIN documents d ON d.doc_id = f.doc_id
           |GROUP BY d.source""".stripMargin,

      // typed twin: the same greedy leftmost-longest recursion, with the
      // picked pattern's CLASS MASK carried through the accumulator — the
      // per-class splits then audit that both engines assigned every
      // match to the same class
      "q342_typed_redact" ->
        s"""$typedRedactCtes
           |SELECT doc_id, md5(red) AS red_md5,
           | CAST(length(red) AS BIGINT) AS red_len,
           | CAST(len(string_split(red, '<EMAIL>')) - 1 AS BIGINT) AS n_email,
           | CAST(len(string_split(red, '<PHONE>')) - 1 AS BIGINT) AS n_phone,
           | CAST(len(string_split(red, '<ID>')) - 1 AS BIGINT) AS n_id
           |FROM fin""".stripMargin,

      // typed streaming twin: the q342 recursion (mask carried through
      // the accumulator) rolled to per-source per-class totals — a
      // partial or misclassified scrub in any single micro-batch breaks
      // the class census
      "q351_stream_typed_redact" ->
        s"""$typedRedactCtes
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(len(string_split(f.red, '<EMAIL>')) - 1) AS BIGINT)
           |   AS n_email,
           | CAST(sum(len(string_split(f.red, '<PHONE>')) - 1) AS BIGINT)
           |   AS n_phone,
           | CAST(sum(len(string_split(f.red, '<ID>')) - 1) AS BIGINT)
           |   AS n_id,
           | CAST(sum(length(w.t)) AS BIGINT) AS len_before,
           | CAST(sum(length(f.red)) AS BIGINT) AS len_after
           |FROM fin f JOIN w ON f.doc_id = w.doc_id
           |JOIN documents d ON d.doc_id = f.doc_id
           |GROUP BY d.source""".stripMargin,

      // the audit twin recomputes hits_after from the REDACTED text with
      // the same containment scan it used for hits_before — both engines
      // derive the zero independently, so a partial scrub on either side
      // breaks row or value parity
      "q341_redaction_audit" -> {
        def hitsSql(c: String) = (redactList.map(_._2) ++ redactDecoys)
          .map(p => s"(CASE WHEN contains($c, '$p') THEN 1 ELSE 0 END)")
          .mkString("\n   + ")
        s"""$redactCtes
           |SELECT w.doc_id,
           | CAST(${hitsSql("w.t")} AS BIGINT) AS hits_before,
           | CAST(len(string_split(f.red, '[X]')) - 1 AS BIGINT) AS n_redactions,
           | CAST(length(w.t) AS BIGINT) AS len_before,
           | CAST(length(f.red) AS BIGINT) AS len_after,
           | CAST(${hitsSql("f.red")} AS BIGINT) AS hits_after
           |FROM w JOIN fin f ON w.doc_id = f.doc_id
           |WHERE ${hitsSql("w.t")} > 0""".stripMargin
      },

      // ROUGE-1 replayed relationally: same first-3-token blocking, same
      // multiset-min overlap, same (dot-shaped) double arithmetic for the
      // three ratios — blocked pairs share the 3-token prefix so overlap
      // ≥ 3 and the F1 denominator is never zero.
      "q326_rouge_overlap" ->
        s"""WITH c AS (SELECT doc_id, string_split(${cleanSql("text")}, ' ') AS toks
           |  FROM documents),
           |k AS (SELECT doc_id, md5(array_to_string(toks[1:3], ' ')) AS h, toks
           |  FROM c WHERE len(toks) >= 3),
           |tc AS (SELECT doc_id, h, tok, CAST(count(*) AS BIGINT) AS cnt
           |  FROM (SELECT doc_id, h, unnest(toks) AS tok FROM k)
           |  GROUP BY doc_id, h, tok),
           |ln AS (SELECT doc_id, h, CAST(sum(cnt) AS BIGINT) AS len
           |  FROM tc GROUP BY doc_id, h),
           |pr AS (SELECT a.doc_id AS id_a, a.len AS len_a,
           |    b.doc_id AS id_b, b.len AS len_b
           |  FROM ln a JOIN ln b ON a.h = b.h AND a.doc_id < b.doc_id),
           |ov AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           |    CAST(sum(least(x.cnt, y.cnt)) AS BIGINT) AS overlap
           |  FROM tc x JOIN tc y ON x.h = y.h AND x.tok = y.tok
           |    AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT p.id_a, p.id_b, o.overlap,
           | round(CAST(o.overlap AS DOUBLE) / p.len_b, 6) AS rouge1_p,
           | round(CAST(o.overlap AS DOUBLE) / p.len_a, 6) AS rouge1_r,
           | round(2.0 * (CAST(o.overlap AS DOUBLE) / p.len_b)
           |     * (CAST(o.overlap AS DOUBLE) / p.len_a)
           |   / ((CAST(o.overlap AS DOUBLE) / p.len_b)
           |     + (CAST(o.overlap AS DOUBLE) / p.len_a)), 6) AS rouge1_f1
           |FROM pr p JOIN ov o ON p.id_a = o.id_a AND p.id_b = o.id_b""".stripMargin,
  )
}
