package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Lexicons, TextExprs}
import graft.operators.{Dedup, GlobalRank, TextAnalysis}
import graft.multimodal.Multimodal
import graft.queries.QueryHelpers._

/** Corpus curation: mixing, packing, sharding, sampling, privacy
  * (k-anonymity family), curriculum and export pipelines.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object CurationQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q44_curate" -> ((s, dir) => {
      // THE capstone composition: raw docs → profile → filter → exact dedup
      // → near-dup removal = curated training corpus (operators/Curate)
      graft.operators.Curate.curate(t(s, dir, "documents"), col("doc_id"), col("text"),
        minQuality = 0.5, langs = Seq("en"), nearDupThreshold = 0.7)
    }),

    "q41_frame_sample" -> ((s, dir) => {
      // multimodal frame-extraction shape: binary payload → executor-side
      // decode (stubbed deterministic codec) → per-frame explode
      Multimodal.sampleFrames(
        Multimodal.decodeMeta(Multimodal.packFake(t(s, dir, "documents"))), stride = 30)
    }),

    "q56_stratified_sample" -> ((s, dir) => {
      // deterministic stratified sampling: md5-keyed order within each
      // stratum = a reproducible pseudo-random draw, identical on any engine
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 20)
    }),

    "q81_mix_sample" -> ((s, dir) => {
      // deterministic dataset-mixing sampler: per-language acceptance rates
      // applied via an md5 hex draw compared against a hex threshold STRING
      // (lexicographic = numeric for fixed-width lowercase hex) — fully
      // engine-neutral, no float parsing, reproducible on any cluster
      val w = when(col("lang") === "en", lit("g")) // accept all
        .when(col("lang").isin("es", "fr"), lit("80000000"))
        .when(col("lang") === "de", lit("40000000"))
        .otherwise(lit("20000000"))
      t(s, dir, "documents")
        .where(substring(md5(col("doc_id").cast("string")), 1, 8) < w)
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "q93_seq_pack" -> ((s, dir) => {
      // sequence packing for pretraining exports: documents in a stable
      // global order are assigned to fixed-token-budget packs,
      // pack = floor(tokens_before_this_doc / budget) — the greedy
      // "sequence rolls over where the budget ran out" rule. The global
      // cumulative token count comes from GlobalRank.withRunningSum (range
      // exchange + per-partition value offsets), NOT a single-partition
      // `sum OVER (ORDER BY)` window — at 100 TB the prefix sum is the
      // whole job, and this dataflow keeps it partition-parallel.
      val budget = 2048.0
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      graft.operators.GlobalRank
        .withRunningSum(docs, Seq(col("doc_id").asc), col("n_toks"), "cum_toks")
        .select(col("doc_id"), col("n_toks"), col("cum_toks"),
          floor((col("cum_toks") - col("n_toks")).cast("double") / budget)
            .cast("long").as("pack_id"))
    }),

    "q94_seq_pack_split" -> ((s, dir) => {
      // sequence packing, first-fit-WITH-splitting: every pack holds
      // EXACTLY `budget` tokens (except the trailing one) — a document
      // whose global token span [start, end) crosses pack boundaries is
      // split into one segment per pack it touches, the real pretraining
      // packer contract (q93 is the roll-over variant where docs stay
      // whole). On top of the same distributed prefix sum: each doc's
      // touched packs are start DIV B .. (end-1) DIV B — one sequence()
      // + explode, no second shuffle; segment arithmetic is pure
      // projection. Integer division throughout (DIV here, // in the
      // DuckDB twin) so the math is exact at any corpus size.
      val budget = 2048L
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      val spans = graft.operators.GlobalRank
        .withRunningSum(docs, Seq(col("doc_id").asc), col("n_toks"), "cum_toks")
        .where(col("n_toks") > 0) // 0-token doc touches no pack (and would
                                  // make sequence() descend — see guard note)
        .select(col("doc_id"),
          (col("cum_toks") - col("n_toks")).as("_beg"), col("cum_toks").as("_end"))
        .withColumn("_first", expr(s"_beg DIV $budget"))
        .withColumn("_last", expr(s"(_end - 1) DIV $budget"))
      spans
        .select(col("doc_id"), col("_beg"), col("_end"), col("_first"),
          explode(sequence(col("_first"), col("_last"))).as("pack_id"))
        .select(col("doc_id"), col("pack_id"),
          (col("pack_id") - col("_first")).as("seg_idx"),
          (greatest(col("_beg"), col("pack_id") * budget) - col("_beg")).as("tok_offset"),
          (least(col("_end"), (col("pack_id") + 1) * budget)
            - greatest(col("_beg"), col("pack_id") * budget)).as("seg_toks"))
    }),

    "q95_chunk" -> ((s, dir) => {
      // RAG/embedding-export chunking: fixed-size token windows (64) with
      // stride overlap (48) — one row per (doc, chunk), the export unit an
      // embedding index or context-window packer consumes. Pure PER-DOC
      // computation: split → sequence-of-starts → explode → slice, no
      // shuffle anywhere; the whole operator is one codegen'd stage, so at
      // 100 TB it runs at scan speed and partitions stay wherever the
      // source put them. sequence(0, n-1, S) is safe: n = size(split) >= 1
      // (the 0-token descending-sequence trap cannot fire).
      val W = 64L; val S = 48L
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), split(TextExprs.cleanText(col("text")), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
      toks
        .select(col("doc_id"), col("toks"), col("n"),
          explode(sequence(lit(0L), col("n") - 1, lit(S))).as("tok_start"))
        .select(col("doc_id"),
          expr(s"tok_start DIV $S").as("chunk_idx"),
          col("tok_start"),
          least(lit(W), col("n") - col("tok_start")).as("chunk_toks"),
          concat_ws(" ", slice(col("toks"),
            (col("tok_start") + 1).cast("int"), lit(W.toInt))).as("chunk_text"))
    }),

    "q96_temperature_mix" -> ((s, dir) => {
      // Temperature-based dataset mixing (the multilingual-pretraining
      // sampler: per-language quota ∝ count^(1/T), T=2, which upsamples
      // tail languages relative to proportional sampling), with the
      // WHICH-docs choice made by an md5 draw so the selected set is
      // deterministic and engine-neutral. Every number is integer:
      // w = floor(sqrt(cnt)) is the same correctly-rounded IEEE sqrt in
      // any engine, quota = K*w DIV sum(w) is integer division — no
      // float-boundary can flip a doc in or out of the sample.
      // Scale shape: per-language rank comes from the GlobalRank range
      // exchange over (lang, draw, doc_id) — NOT a per-group window,
      // whose dominant language would concentrate in ONE task at 100 TB.
      // Each language's rank base is its predecessors' cumulative count
      // (counts is language-cardinality-sized; its window is driver-tiny),
      // and the lang→(base, quota) table is broadcast.
      val K = 200L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("doc_id").cast("string")).as("_draw"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .withColumn("w", floor(sqrt(col("cnt"))).cast("long"))
      val quota = counts
        .join(prevCumByKey(counts, "lang", "cnt"), "lang")
        .crossJoin(broadcast(counts.agg(sum("w").as("wsum"))))
        .withColumn("quota", expr(s"($K * w) DIV wsum"))
        .select("lang", "prev_cum", "quota")
      GlobalRank.withRowNumber(docs,
          Seq(col("lang").asc, col("_draw").asc, col("doc_id").asc), "_grn")
        .join(broadcast(quota), "lang")
        .withColumn("lrank", col("_grn") - col("prev_cum"))
        .where(col("lrank") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("source"), col("lrank"))
    }),

    "q100_strat_split" -> ((s, dir) => {
      // Deterministic stratified train/val/test split: within each
      // language, EXACTLY floor(0.8·n) docs go to train and floor(0.1·n)
      // to val (remainder test) — the split-manifest op every training
      // pipeline needs, with integer quotas (no float-boundary can move a
      // doc) and an md5 draw so membership is a pure function of doc_id,
      // stable across runs, engines, and partitionings. Scale shape is
      // q96's: the per-language rank comes from the GlobalRank range
      // exchange over (lang, draw, doc_id) — NOT a per-group window whose
      // dominant language would serialize through one task at 100 TB —
      // and the lang→(base, quotas) table is language-cardinality-sized,
      // broadcast.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("_draw"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val quota = counts
        .join(prevCumByKey(counts, "lang", "cnt"), "lang")
        .select(col("lang"), col("prev_cum"),
          expr("(cnt * 8) DIV 10").as("n_train"),
          expr("cnt DIV 10").as("n_val"))
      GlobalRank.withRowNumber(docs,
          Seq(col("lang").asc, col("_draw").asc, col("doc_id").asc), "_grn")
        .join(broadcast(quota), "lang")
        .withColumn("lrank", col("_grn") - col("prev_cum"))
        .select(col("doc_id"), col("lang"),
          when(col("lrank") <= col("n_train"), lit("train"))
            .when(col("lrank") <= col("n_train") + col("n_val"), lit("val"))
            .otherwise(lit("test")).as("split"))
    }),

    "q104_shuffle_pack" -> ((s, dir) => {
      // Deterministic global training-order shuffle + packing: docs are
      // ordered by an md5 draw (a pure function of doc_id — the epoch
      // shuffle every training pipeline needs, reproducible across runs
      // and engines), then packed by fixed token-budget boundaries over
      // the running token sum IN THAT ORDER. Exercises the distributed
      // prefix sum under a non-identity total order: the range exchange
      // partitions by draw, so the shuffled order never funnels through a
      // single-partition window. Boundary rule is q94's arithmetic one
      // (pack = start DIV B), kept here without splitting.
      val B = 2048L
      val docs = t(s, dir, "documents").select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("_draw"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      GlobalRank.withRunningSum(docs,
          Seq(col("_draw").asc, col("doc_id").asc), col("n_toks"), "cum_toks")
        .select(col("doc_id"), col("n_toks"), col("cum_toks"),
          expr(s"(cum_toks - n_toks) DIV $B").as("pack_id"))
    }),

    "q105_dsir" -> ((s, dir) => {
      // DSIR-style data selection (Xie et al. 2023, "Data Selection for
      // Language Models via Importance Resampling"): score every raw doc
      // by its log importance ratio under two bag-of-hashed-ngram unigram
      // models — the target distribution (here: the English slice) vs the
      // raw corpus. Features are HASHED into 256 buckets exactly as the
      // paper does (bucket = first md5 byte, engine-neutral as a 2-hex-char
      // string), so the model tables are CONSTANT-sized regardless of
      // corpus vocabulary: at 100 TB both models are still 256 rows and
      // the stream-model joins broadcast. Laplace-smoothed with the bucket
      // count as the literal; corpus totals ride one-row broadcast cross
      // joins (the BM25 N/avgdl pattern — no driver collect). The weight
      // is the per-token MEAN log ratio (bounded magnitude → stable 4dp
      // rounding); `+ 0.0` collapses IEEE -0.0 onto 0.0 identically in
      // both engines so near-zero weights hash-match.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .select(col("doc_id"), col("lang"), substring(md5(col("tok")), 1, 2).as("b"))
      val raw = toks.groupBy("b").agg(count(lit(1)).as("cr"))
      val tgt = toks.where(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("ct"))
      val nr = raw.agg(sum("cr").as("nr"))
      val nt = toks.where(col("lang") === "en").agg(count(lit(1)).as("nt"))
      toks.join(raw, "b").join(tgt, Seq("b"), "left")
        .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          (round(avg(log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("nt") + 256))
            - log((col("cr") + 1.0) / (col("nr") + 256))), 4) + 0.0).as("dsir_w"))
    }),

    "q107_weighted_sample" -> ((s, dir) => {
      // Deterministic weighted sampling WITHOUT replacement (Efraimidis &
      // Spirakis 2006): each doc draws u from its md5 (first 13 hex
      // digits / 16^13 — exactly representable, engine-neutral) and the
      // k docs with the largest u^(1/w) win, scored in log space as
      // ln(u)/w with w = n_chars (long docs proportionally likelier —
      // quality- or length-weighted corpus subsampling). Reproducible
      // across runs, engines, and partitionings; the 6dp-rounded key with
      // doc_id tie-break makes both engines cut the same 200. Scale
      // shape: orderBy+limit plans TakeOrderedAndProject — per-partition
      // top-k then a k-sized driver merge, never a global sort.
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10).cast("long")
          / lit(4503599627370496.0)).as("u"))
      d.select(col("doc_id"), col("n_chars"),
          round(log(greatest(col("u"), lit(2.220446049250313e-16))) / col("n_chars"), 6)
            .as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id").asc)
        .limit(200)
    }),

    "q110_curriculum" -> ((s, dir) => {
      // Curriculum ordering (easy→hard scheduling a la Bengio 2009 /
      // competence-based curricula): per-doc difficulty = mean token
      // surprisal -ln(p(tok)) under the corpus unigram model, then four
      // equal-depth phases. The unigram table is vocab-sized, the corpus
      // total rides a one-row broadcast cross join, and the phase split is
      // GlobalRank.withNtile's range exchange over (difficulty, doc_id) —
      // never a single-partition ntile window, so the phase assignment
      // scales with partitions, not one task. 6dp rounding before the
      // ntile keeps the order identical in both engines.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
      val f = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      val n = toks.agg(count(lit(1)).as("total"))
      val diff = toks.join(f, "tok").crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("freq") / col("total").cast("double"))), 6)
          .as("difficulty"))
      GlobalRank.withNtile(diff, 4,
          Seq(col("difficulty").asc, col("doc_id").asc), "phase")
    }),

    "q112_curation_funnel" -> ((s, dir) => {
      // The curation attrition funnel — per-stage surviving doc and token
      // counts for the standard filter chain (language → length → lexical
      // diversity → benchmark decontamination), the accounting every
      // dataset card reports. ONE pass computes every per-doc flag and ONE
      // hash aggregate folds all cumulative stages (conditional sums) —
      // never a re-scan per stage, so a 10-stage funnel over 100 TB still
      // costs one corpus read; the 1-row aggregate unstacks driver-side
      // for free. The contamination flag is operators.Decontaminate (q71's
      // operator: distinct 8-grams, benchmark gram set broadcast).
      val d = t(s, dir, "documents")
        .where(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
      val all = t(s, dir, "documents")
      val contaminated = graft.operators.Decontaminate.report(
          train = all.where(col("doc_id") % 20 =!= 0),
          bench = all.where(col("doc_id") % 20 === 0),
          id = col("doc_id"), text = col("text"), n = 8)
        .select(col("id").as("doc_id"))
      val flags = d.join(contaminated.withColumn("_hit", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          (col("lang") === "en").as("f1"),
          (col("n_chars") >= 100).as("f2"),
          (size(array_distinct(col("toks"))) / size(col("toks")).cast("double") >= 0.3)
            .as("f3"),
          col("_hit").isNull.as("f4"))
      val one = flags.agg(
        count(lit(1)).as("d0"), sum("n_toks").as("t0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("f1"), col("n_toks")).otherwise(0L)).as("t1"),
        sum(when(col("f1") && col("f2"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("f1") && col("f2"), col("n_toks")).otherwise(0L)).as("t2"),
        sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("f1") && col("f2") && col("f3"), col("n_toks")).otherwise(0L)).as("t3"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4"), 1L).otherwise(0L)).as("d4"),
        sum(when(col("f1") && col("f2") && col("f3") && col("f4"), col("n_toks")).otherwise(0L)).as("t4"))
      one.select(expr(
        """stack(5,
          | 0L, 'all', d0, t0,
          | 1L, 'lang_en', d1, t1,
          | 2L, 'min_length', d2, t2,
          | 3L, 'lexical_diversity', d3, t3,
          | 4L, 'decontaminated', d4, t4) AS (stage, name, docs, tokens)""".stripMargin))
    }),

    "q121_curation_pipeline" -> ((s, dir) => {
      // The END-TO-END curation pipeline in ONE oracle-checked plan:
      // Gopher hard rules → benchmark decontamination → minhash near-dup
      // dedup → temperature-mixed sampling → fixed-budget packing. Every
      // stage is the engine's existing operator (q79/q71/q27/q96/q93
      // respectively) — the point of the query is that they COMPOSE in a
      // single dataflow without driver materialization between stages.
      // Scale notes: the decontamination gram set broadcasts (q71), the
      // near-dup candidate join is banded LSH with cached ids-only
      // signatures (q27; exact-Jaccard-oracle recall caveat documented at
      // Dedup.minhashNearDupsAgainst), and the ONLY cached intermediate is
      // the post-dedup manifest — a slim (id, lang, n_toks, draw) columnar
      // projection, exactly what a production pipeline checkpoints between
      // its filter and sampling phases; the mix/rank/pack stages then read
      // the manifest, not the corpus, so `documents` is scanned a bounded
      // number of times regardless of how many downstream stages follow
      // (PlanSpec pins the scan count).
      val all = t(s, dir, "documents")
      val train = all.where(col("doc_id") % 20 =!= 0)
      val gopherPass = TextAnalysis.gopherRules(train, col("doc_id"), col("text"))
        .where(col("passes")).select(col("id").as("doc_id"))
      val contaminated = graft.operators.Decontaminate.report(
          train = train, bench = all.where(col("doc_id") % 20 === 0),
          id = col("doc_id"), text = col("text"), n = 8)
        .select(col("id").as("doc_id"))
      // SLIM post-filter manifest — ids + mixing metadata, NO text: the
      // first eager pin, so gopher + decontamination run EXACTLY once per
      // execution and every downstream stage reads these blocks. (The r11
      // regression this fixes: the dedup operator's eager signature pin
      // sat on the composed text-bearing filter output, re-running the
      // whole filter pipeline at every build — the r10-binary same-host
      // A/B priced q121 at 1.5 s vs r11's 3.6 s; see BASELINE.md r12.)
      val cleanMeta = train
        .select(col("doc_id"), col("lang"),
          size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
        .join(gopherPass, "doc_id")
        .join(contaminated.withColumn("_hit", lit(true)), Seq("doc_id"), "left")
        .where(col("_hit").isNull)
        .select(col("doc_id"), col("lang"), col("n_toks"))
        .localCheckpoint(true)
      // dedup re-reads text through a SECOND columnar scan semi-joined to
      // the kept ids — at 100 TB that is a pruned (doc_id, text) scan,
      // strictly cheaper than row-serializing the text column into
      // checkpoint blocks
      val cleanText = train.select(col("doc_id"), col("text"))
        .join(cleanMeta.select("doc_id"), "doc_id")
      val dropped = Dedup.minhashNearDups(cleanText, col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select(col("id_b").as("doc_id")).distinct()
      val manifest = cleanMeta
        .select(col("doc_id"), col("lang"), col("n_toks"),
          md5(col("doc_id").cast("string")).as("_draw"))
        .join(dropped.withColumn("_d", lit(true)), Seq("doc_id"), "left")
        .where(col("_d").isNull)
        .select(col("doc_id"), col("lang"), col("n_toks"), col("_draw"))
        .localCheckpoint(true) // slim 4-col pin; counts + rank + pack read it
      // temperature mix (q96's integer-exact quota arithmetic, K=200).
      // Round 18: the quota table is |langs| rows — counts are collected
      // from ONE aggregate over the pinned manifest and the integer-exact
      // quota/prev_cum arithmetic runs driver-side (the q134/q250
      // enum-bounded posture; floor(sqrt(cnt)) is the same IEEE double
      // sqrt both engines evaluate), replacing a triangular self-join +
      // two aggregate subqueries of pure planning overhead.
      val K = 200L
      val countRows = manifest.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val wOf = countRows.map { case (l, c) =>
        l -> math.floor(math.sqrt(c.toDouble)).toLong }.toMap
      val wsum = countRows.map(r => wOf(r._1)).sum
      val prevCum = countRows.map(_._2).scanLeft(0L)(_ + _)
      import s.implicits._
      val quota = countRows.zipWithIndex.map { case ((l, _), i) =>
        (l, prevCum(i), java.lang.Math.floorDiv(K * wOf(l), wsum)) }
        .toSeq.toDF("lang", "prev_cum", "quota")
      val sampled = GlobalRank.withRowNumber(manifest,
          Seq(col("lang").asc, col("_draw").asc, col("doc_id").asc), "_grn")
        .join(broadcast(quota), "lang")
        .where(col("_grn") - col("prev_cum") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("n_toks"), col("_draw"))
      // epoch-shuffle-ordered packing (q104's order, q93's boundary rule)
      GlobalRank.withRunningSum(sampled,
          Seq(col("_draw").asc, col("doc_id").asc), col("n_toks"), "cum_toks")
        .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_toks"),
          expr("(cum_toks - n_toks) DIV 2048").as("pack_id"))
    }),

    "q125_shard_manifest" -> ((s, dir) => {
      // Balanced training-shard assignment: S fixed shards (one per
      // data-parallel loader group), documents dealt in SNAKE order over
      // the token-count-descending global rank — the folded LPT greedy
      // that bounds per-shard token imbalance by roughly one document
      // WITHOUT tracking bin loads (load-tracking greedy is inherently
      // sequential; snake dealing is a pure function of rank, so the
      // assignment is one projection over a distributed rank). The rank
      // is GlobalRank.withRowNumber (range exchange + partition offsets,
      // no single-partition window); output is the S-row shard manifest
      // a loader consumes, with `balance` = shard tokens / ideal share
      // proving the property in the result itself. The corpus total is
      // derived FROM the S-row manifest (broadcast cross join, the BM25
      // N/avgdl pattern) — never a second corpus scan+tokenize; the only
      // full-corpus work in the whole query is the rank's one range
      // exchange, whose shuffle files both downstream branches re-read.
      val S = 8L
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      val ranked = graft.operators.GlobalRank.withRowNumber(docs,
        Seq(col("n_toks").desc, col("doc_id").asc), "rnk")
      val assigned = ranked.select(col("doc_id"), col("n_toks"),
        expr(s"IF(((rnk - 1) DIV $S) % 2 = 0, (rnk - 1) % $S, $S - 1 - ((rnk - 1) % $S))")
          .as("shard_id"))
      val manifest = assigned.groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("shard_toks"),
          max("n_toks").as("max_doc_toks"))
      val total = manifest.agg(sum("shard_toks").as("all_toks"))
      manifest.crossJoin(broadcast(total))
        .select(col("shard_id"), col("n_docs"), col("shard_toks"),
          col("max_doc_toks"),
          round(col("shard_toks").cast("double") * S / col("all_toks"), 6)
            .as("balance"))
    }),

    "q127_repeat_upsample" -> ((s, dir) => {
      // Per-source repeat-factor upsampling — the data-constrained-scaling
      // recipe (Muennighoff et al. 2023: repeat scarce sources for
      // multiple epochs when unique data runs out): each source's epoch
      // factor equalizes its token contribution to the LARGEST source,
      // capped at 4.0 epochs (repetition beyond ~4 stops helping). Every
      // doc emits floor(e) whole copies plus one more iff its md5 u-draw
      // (q107's 13-hex-nibble convention — exactly representable, engine-
      // neutral) lands below frac(e) — expected upsampled tokens hit the
      // target exactly and membership is a pure function of doc_id.
      // Scale: the factor table is |sources| rows (broadcast); the
      // explode is the only fan-out, bounded by cap × corpus; the token
      // recompute on the apply side is the q89 model/apply posture.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      val src = docs.groupBy("source").agg(sum("n_toks").as("src_toks"))
      val maxT = src.agg(max("src_toks").as("max_toks"))
      val eps = src.crossJoin(broadcast(maxT))
        .select(col("source"), least(lit(4.0),
          col("max_toks").cast("double") / greatest(col("src_toks"), lit(1L)))
          .as("epochs"))
      docs.join(broadcast(eps), "source")
        .select(col("doc_id"), col("source"),
          floor(col("epochs")).cast("long").as("_full"),
          (col("epochs") - floor(col("epochs"))).as("_frac"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long") / lit(4503599627370496.0)).as("_u"))
        .select(col("doc_id"), col("source"),
          (col("_full") + when(col("_u") < col("_frac"), 1L).otherwise(0L))
            .as("n_copies"))
        .where(col("n_copies") > 0)
        .select(col("doc_id"), col("source"), col("n_copies"),
          explode(sequence(lit(0L), col("n_copies") - 1)).as("copy_idx"))
    }),

    "q128_export_pipeline" -> ((s, dir) => {
      // Export-side composition — what q121 is to curation, this is to
      // the training-run WRITER: one plan takes the corpus to the
      // (shard, per-shard order, pack) manifest a 1000-GPU loader
      // consumes. Stage 1: snake shard over the token-desc global rank
      // (q125's arithmetic). Stage 2: per-shard epoch order by md5 draw
      // (q104's deterministic shuffle) with per-shard token-budget packs
      // — realized as ONE global running sum ordered (shard, draw, id)
      // minus each shard's exclusive token prefix (prevCumByKey over the
      // S-row manifest), the q100 global-minus-prefix trick: per-shard
      // prefix sums out of a single range exchange, never a per-shard
      // window that would pull a whole shard through one task at 100 TB.
      val S = 8L; val B = 2048L
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      val sharded = graft.operators.GlobalRank.withRowNumber(docs,
          Seq(col("n_toks").desc, col("doc_id").asc), "_rnk")
        .select(col("doc_id"), col("n_toks"),
          expr(s"IF(((_rnk - 1) DIV $S) % 2 = 0, (_rnk - 1) % $S, $S - 1 - ((_rnk - 1) % $S))")
            .as("shard_id"),
          md5(col("doc_id").cast("string")).as("_draw"))
      val shardToks = sharded.groupBy("shard_id").agg(sum("n_toks").as("stoks"))
      val prev = prevCumByKey(shardToks, "shard_id", "stoks")
      graft.operators.GlobalRank.withRunningSum(sharded,
          Seq(col("shard_id").asc, col("_draw").asc, col("doc_id").asc),
          col("n_toks"), "_gcum")
        .join(broadcast(prev), "shard_id")
        .select(col("doc_id"), col("shard_id"),
          (col("_gcum") - col("prev_cum")).as("cum_toks"),
          expr(s"(_gcum - prev_cum - n_toks) DIV $B").as("pack_id"))
    }),

    "q157_k_anonymity" -> ((s, dir) => {
      // k-ANONYMOUS release (k = 5) of per-(source, lang) corpus stats:
      // quasi-identifier groups smaller than k are SUPPRESSED into one
      // '*' bucket instead of being published — the privacy-release
      // counterpart to q70's PII redaction (a group of 2 docs with a
      // rare (source, lang) pair re-identifies even with the text
      // removed). Shape: one aggregate over the quasi-identifier, then
      // a group-count-sized split; the release decision never rescans
      // the corpus.
      val g = t(s, dir, "documents").groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("_sc"))
      val released = g.where(col("n") >= 5)
        .select(col("source"), col("lang"), col("n"),
          round(col("_sc") / col("n"), 2).as("avg_chars"))
      // the residual bucket must itself satisfy k-anonymity: if the
      // suppressed groups sum to fewer than k docs, publishing even the
      // '*' row would expose an equivalence class below k — withhold it
      val supp = g.where(col("n") < 5)
        .agg(coalesce(sum("n"), lit(0L)).as("n"),
          coalesce(sum("_sc"), lit(0L)).as("_sc"))
        .where(col("n") >= 5)
        .select(lit("*").as("source"), lit("*").as("lang"), col("n"),
          round(col("_sc") / col("n"), 2).as("avg_chars"))
      released.unionByName(supp)
    }),

    "q160_mask_corruption" -> ((s, dir) => {
      // Self-supervised EXAMPLE GENERATION: BERT/T5-style token masking
      // with a DETERMINISTIC md5 position draw (≈ 15.6% of positions:
      // first hash byte < 0x28) — corrupted input + extraction targets
      // from one codegen'd pass, no RNG state, bit-reproducible across
      // re-runs and engines (the property a 100 TB example-builder needs
      // for resumable jobs and audit). One scan; everything is per-row
      // array arithmetic inside whole-stage codegen.
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          split(lower(TextExprs.cleanText(col("text"))), " ").as("toks"))
        .where(size(col("toks")) >= 1)
      def masked(i: Column): Column =
        substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          i.cast("string"))), 1, 2) < "28"
      val gen = toks.select(col("doc_id"), size(col("toks")).as("n"),
        transform(sequence(lit(1), size(col("toks"))),
          i => when(masked(i), lit("<mask>"))
            .otherwise(element_at(col("toks"), i))).as("_corr"),
        filter(transform(sequence(lit(1), size(col("toks"))),
          i => when(masked(i), element_at(col("toks"), i))),
          x => x.isNotNull).as("_tgt"))
      gen.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        size(col("_tgt")).cast("long").as("n_masked"),
        concat_ws(" ", col("_corr")).as("corrupted"),
        concat_ws(" ", col("_tgt")).as("targets"),
        round(size(col("_tgt")).cast("double") / col("n"), 4).as("mask_rate"))
    }),

    "q162_quota_alloc" -> ((s, dir) => {
      // EXACT mixture quota allocation (largest-remainder / Hamilton
      // method): a 200-doc budget split across sources proportional to
      // their char mass — floor the ideal shares, then the sources with
      // the largest remainders absorb the deficit. The deterministic
      // integer-exact alternative to q81's acceptance sampling when a
      // mixture must hit its budget EXACTLY (and reproducibly) at any
      // scale. All corpus-sized work is one aggregate; the allocation
      // arithmetic runs on the |sources|-row table, ranking via a
      // triangular self-join (no partition-less window). Weights here
      // are τ=1 (∝ chars) so every float both engines compute is one
      // division of exact integers; a temperature reweight plugs into
      // the same dataflow.
      val stats = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"))
        .localCheckpoint(true) // |sources| rows; read by totals + ranking
      val tot = stats.agg(sum("chars").as("_tc"))
      val ideal = stats.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("chars"),
          (lit(200.0) * col("chars") / col("_tc")).as("_ideal"))
        .withColumn("_base", floor(col("_ideal")).cast("long"))
        .withColumn("_rem", col("_ideal") - col("_base"))
      val deficit = ideal.agg((lit(200L) - sum("_base")).as("_d"))
      // rank by (remainder DESC, source ASC) as a triangular count —
      // bounded by |sources|², no window
      val rnk = ideal.as("a").join(ideal.select(col("source").as("_bs"),
            col("_rem").as("_br")).as("b"),
          col("_br") > col("_rem") ||
            (col("_br") === col("_rem") && col("_bs") < col("source")), "left")
        .groupBy(col("source"), col("n_docs"), col("chars"),
          col("_ideal"), col("_base"))
        .agg((count(col("_bs")) + 1).as("_rnk"))
      rnk.crossJoin(broadcast(deficit))
        .select(col("source"), col("n_docs"), col("chars"),
          round(col("_ideal"), 6).as("ideal"),
          (col("_base") + when(col("_rnk") <= col("_d"), 1L).otherwise(0L))
            .as("quota"))
    }),

    "q163_length_winsorize" -> ((s, dir) => {
      // Length WINSORIZATION: clip each document's token budget at its
      // source's P90 — the outlier-length handling step before packing
      // (one 100×-median doc otherwise dominates its pack and skews
      // per-source token accounting). The cap comes from the rank-
      // dataflow exact percentile (Percentiles.exactByGroup — range
      // exchange + boundary-rank join, NO per-group buffering), then
      // broadcasts back onto the stream; floor() keeps the truncation
      // identical across engines (Spark's double→long cast truncates,
      // DuckDB's rounds).
      // pinned ONCE (round 18, guide §2.4): the percentile pass and the
      // final clip projection both consume `toks`; unpinned, the
      // cleanText+tokenCount scan ran twice
      val toks = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextExprs.tokenCount(col("text")).as("n_tokens"))
        .localCheckpoint(true)
      val caps = graft.operators.Percentiles.exactByGroup(
          toks, col("source"), col("n_tokens"), Seq(0.9), Seq("p90"))
        .select(col("group").as("source"), col("p90"))
      toks.join(broadcast(caps), "source")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          round(col("p90"), 4).as("cap_p90"),
          floor(least(col("n_tokens").cast("double"), col("p90")))
            .cast("long").as("kept_tokens"),
          (col("n_tokens").cast("double") > col("p90")).as("truncated"))
    }),

    "q168_dataset_card" -> ((s, dir) => {
      // Per-source DATASET CARD: the one-row-per-source release digest a
      // curated corpus ships with — volume (docs/tokens/chars), dominant
      // language and its share, rule-gate pass rate, and exact-dup share
      // — composed from slim per-source aggregates (every join is on the
      // 20-row source dimension; the corpus is scanned by each component
      // once). The packaging step after the q121-style pipeline: what a
      // consumer reads before mixing the source in.
      val docs = t(s, dir, "documents")
      val vol = docs.select(col("source"), col("n_chars"),
          TextExprs.tokenCount(col("text")).as("_nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("_nt").as("n_tokens"),
          round(avg("n_chars"), 2).as("avg_chars"))
      val langs = docs.groupBy("source", "lang").agg(count(lit(1)).as("_lc"))
      val topL = langs.groupBy("source").agg(max("_lc").as("_mx"))
      val dominant = langs.join(topL, "source")
        .where(col("_lc") === col("_mx"))
        .groupBy("source", "_mx").agg(min("lang").as("top_lang"))
      val rules = graft.operators.TextAnalysis.gopherRules(
          docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(round(avg(when(col("passes"), 1.0).otherwise(0.0)), 6)
          .as("pass_rate"))
      val dups = docs.select(col("source"),
          md5(TextExprs.cleanText(col("text"))).as("_h"))
        .groupBy("source", "_h").agg(count(lit(1)).as("_hc"))
        .groupBy("source")
        .agg(round(sum(when(col("_hc") > 1, col("_hc")).otherwise(0L))
            .cast("double") / sum("_hc"), 6).as("exact_dup_share"))
      vol.join(dominant.select(col("source"), col("top_lang"), col("_mx")), "source")
        .join(rules, "source").join(dups, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("avg_chars"),
          col("top_lang"),
          round(col("_mx").cast("double") / col("n_docs"), 6).as("top_lang_share"),
          col("pass_rate"), col("exact_dup_share"))
    }),

    "q170_pad_efficiency" -> ((s, dir) => {
      // Length-bucketed batching audit: rank docs by token count
      // (GlobalRank range exchange — no global window), cut into 8
      // equal-count buckets with ALL-INTEGER arithmetic
      // (bucket = (rank−1)·8 DIV n — no float boundary moves a doc), and
      // price the padding a fixed-shape batcher pays per bucket:
      // pad_frac = 1 − Σlen / (n_docs · max_len). THE measurement behind
      // length-bucketed batching: sorting sequences before batching
      // turns the global-max padding waste into the per-bucket number
      // this query reports. Shape: one scan → rank → 8-row aggregate.
      val ntok = t(s, dir, "documents").select(col("doc_id"),
        TextExprs.tokenCount(col("text")).as("n_toks"))
      val ranked = graft.operators.GlobalRank.withRowNumber(ntok,
        Seq(col("n_toks").asc, col("doc_id").asc), "_rn")
      val tot = ntok.agg(count(lit(1)).as("_n"))
      ranked.crossJoin(broadcast(tot))
        .select(col("n_toks"), expr("((_rn - 1) * 8) DIV _n").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), max("n_toks").as("max_len"),
          sum("n_toks").as("sum_toks"))
        .withColumn("pad_frac",
          when(col("max_len") > 0, round(lit(1.0)
            - col("sum_toks").cast("double") / (col("n_docs") * col("max_len")), 6))
          .otherwise(lit(0.0)))
    }),

    "q180_subsample_stability" -> ((s, dir) => {
      // SUBSAMPLE-STABILITY audit: how far the gopher-gate pass rate
      // measured on a 1% / 10% / 100% md5 subsample drifts from the full
      // rate — the "can I tune my filters on a sample?" pre-check a
      // 100 TB pipeline runs before iterating on a slice. Sampling is a
      // pure function of doc_id (md5-prefix threshold, the q81 posture),
      // so membership is reproducible and NESTED (1% ⊂ 10% ⊂ 100%).
      // One classifier pass; the slim (doc_id, passes, u) manifest is
      // checkpointed and the three arms are filtered aggregates of it.
      val docs = t(s, dir, "documents")
      val g = graft.operators.TextAnalysis.gopherRules(
          docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
        .withColumn("_u",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"))
        .localCheckpoint(true)
      val full = g.agg(avg(when(col("passes"), 1.0).otherwise(0.0)).as("_fr"))
      Seq(("01pct", 655L), ("10pct", 6553L), ("100pct", 65536L)).map {
        case (label, thr) =>
          g.where(col("_u") < thr)
            .agg(count(lit(1)).as("n_docs"),
              round(avg(when(col("passes"), 1.0).otherwise(0.0)), 6).as("pass_rate"))
            .select(lit(label).as("sample"), col("n_docs"), col("pass_rate"))
      }.reduce(_ union _)
        .crossJoin(broadcast(full))
        .select(col("sample"), col("n_docs"), col("pass_rate"),
          round(abs(col("pass_rate") - col("_fr")), 6).as("abs_dev"))
    }),

    "q184_ctx_overflow" -> ((s, dir) => {
      // Context-window OVERFLOW accounting per source: the share of docs
      // exceeding 512/2048/8192 tokens and the tokens a 2048 cap would
      // discard — the seq-len budget sheet consulted before fixing a
      // packing window (q93/q94's B) or paying for long-context
      // training. One scan, one aggregate; all-integer sums.
      val ntok = t(s, dir, "documents").select(col("source"),
        TextExprs.tokenCount(col("text")).as("n"))
      ntok.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n").as("n_tokens"),
          round(avg(when(col("n") > 512, 1.0).otherwise(0.0)), 6).as("share_over_512"),
          round(avg(when(col("n") > 2048, 1.0).otherwise(0.0)), 6).as("share_over_2048"),
          round(avg(when(col("n") > 8192, 1.0).otherwise(0.0)), 6).as("share_over_8192"),
          sum(greatest(col("n") - 2048, lit(0L))).as("tokens_lost_2048"))
        .withColumn("loss_share_2048",
          round(col("tokens_lost_2048").cast("double") / col("n_tokens"), 6))
    }),

    "q219_packing_audit" -> ((s, dir) => {
      // GPT-style concat-and-split packing audit: documents concatenated
      // in ingest (doc_id) order and cut into 2048-token contexts; a doc
      // whose token span straddles a cut gets SPLIT — its head and tail
      // train with truncated attention. Context membership is a pure
      // function of the GLOBAL token prefix sum (GlobalRank.withRunningSum
      // — range exchange, no single-partition window): first_ctx =
      // ⌊(cum − n)/C⌋, last_ctx = ⌊(cum − 1)/C⌋, split iff they differ.
      // Per-source rollup shows which feeds lose the most attention
      // continuity (long docs straddle more); all arithmetic integer.
      val C = 2048L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextExprs.tokenCount(col("text")).as("n_tok"))
      val summed = graft.operators.GlobalRank.withRunningSum(
        docs, Seq(col("doc_id").asc), col("n_tok"), "cum")
      summed
        .select(col("source"), col("n_tok"),
          (col("n_tok") > 0 &&
            floor((col("cum") - 1) / C) > floor((col("cum") - col("n_tok")) / C))
            .as("_split"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum(when(col("_split"), 1L).otherwise(0L)).as("n_split"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_split"),
          round(col("n_split").cast("double") / col("n_docs"), 4).as("split_share"))
    }),

    "q233_weighted_sample" -> ((s, dir) => {
      // Weighted sampling without replacement, Efraimidis–Spirakis 2006:
      // each doc draws u from md5 (13 nibbles / 2⁵², deterministic and
      // engine-neutral) and ranks by ln(u)/w — the top-k under that key
      // IS an exact weight-proportional sample without replacement, in
      // one pass with no sequential state (the mixture-construction
      // sampler: length-weighted here, quality-weighted in production).
      // Keys pinned to 12 dp (libm drift is ~1e-16 relative, far below)
      // with doc_id tie-break; top-64 via the GlobalRank range exchange,
      // never a driver-side sort.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .where(col("n_chars") > 0)
        .withColumn("u",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("double") + lit(0.5)) / lit(4503599627370496.0))
        .withColumn("key", round(log(col("u")) / col("n_chars"), 12))
      graft.operators.GlobalRank.withRowNumber(
          docs, Seq(col("key").desc, col("doc_id").asc), "rank")
        .where(col("rank") <= 64)
        .select(col("rank"), col("doc_id"), col("source"), col("n_chars"))
    }),

    "q266_l_diversity" -> ((s, dir) => {
      // l-diversity audit (Machanavajjhala 2007) — the release gate
      // q157's k-anonymity misses: a group can be large yet expose its
      // members if the SENSITIVE value barely varies inside it. Quasi-
      // identifier = (segment, nation, $1k-acctbal bucket); sensitive =
      // order priority. Two-level aggregate (QI×sens counts, then QI) —
      // distinct-l and the modal-value count fall out of plain counts,
      // no countDistinct Expand. All-integer output, hash-exact.
      val qi = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("n_name").as("nation"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      val per = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority").as("sens"))
        .join(qi, col("o_custkey") === col("c_custkey"))
        .groupBy("segment", "nation", "bal_bucket", "sens")
        .agg(count(lit(1)).as("cnt"))
      per.groupBy("segment", "nation", "bal_bucket")
        .agg(sum("cnt").as("n_orders"), count(lit(1)).as("l_distinct"),
          max("cnt").as("top_sens_n"))
        .withColumn("diverse_ok", col("l_distinct") >= 3)
    }),

    "q270_t_closeness" -> ((s, dir) => {
      // t-closeness audit (Li 2007) over q266's quasi-identifier groups:
      // a group can be l-diverse yet still leak if its sensitive
      // DISTRIBUTION diverges from the table's. For the ordinal
      // priority scale the distance is the Earth-Mover's Distance =
      // mean |F_g − F_global| over the ordered values — computed as
      // exact LONG cross-products |cum_g·N − Cum·n_g| on a DENSIFIED
      // QI×sens scaffold (a missing value still shifts the CDF gap);
      // the global CDF rides prevCumByKey (no partition-less window),
      // the per-group one a bounded ≤|sens| window. One division at
      // display.
      val qi = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          col("n_name").as("nation"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
      val per = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority").as("sens"))
        .join(qi, col("o_custkey") === col("c_custkey"))
        .groupBy("segment", "nation", "bal_bucket", "sens")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // feeds groups, the global CDF, and the scaffold
      val groups = per.groupBy("segment", "nation", "bal_bucket")
        .agg(sum("cnt").as("n_g"))
      val gsens = per.groupBy("sens").agg(sum("cnt").as("gcnt"))
      val gcum = gsens.join(prevCumByKey(gsens, "sens", "gcnt"), Seq("sens"))
        .select(col("sens"), (col("prev_cum") + col("gcnt")).as("gcum"))
      val scalars = broadcast(gsens
        .agg(sum("gcnt").as("nn"), count(lit(1)).as("k")))
      val dense = groups.crossJoin(broadcast(gcum))
        .join(per, Seq("segment", "nation", "bal_bucket", "sens"), "left")
        .na.fill(0L, Seq("cnt"))
      val wcum = Window.partitionBy("segment", "nation", "bal_bucket")
        .orderBy("sens").rowsBetween(Window.unboundedPreceding, 0)
      dense
        .withColumn("cum_g", sum("cnt").over(wcum))
        .crossJoin(scalars)
        .groupBy(col("segment"), col("nation"), col("bal_bucket"),
          col("n_g"), col("nn"), col("k"))
        .agg(sum(abs(col("cum_g") * col("nn") - col("gcum") * col("n_g")))
          .as("emd_num"))
        .select(col("segment"), col("nation"), col("bal_bucket"),
          col("n_g").as("n_orders"),
          round(col("emd_num").cast("double")
            / (col("n_g") * col("nn") * (col("k") - 1)), 6).as("t_emd"))
        .withColumn("tclose_ok", col("t_emd") <= 0.2)
    }),

    "q290_mix_independence" -> ((s, dir) => {
      // χ² independence test on the source × language contingency
      // table — the mix-stability check run before treating "source"
      // and "language" as independent axes in a sampling plan. O and
      // both margins are exact LONGs from one corpus scan; E =
      // row·col/N and the per-source χ² contribution divide only at
      // display, over the |sources|×|langs| bounded cell table.
      val o = t(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("o"))
        .localCheckpoint() // margins + the cell pass read it
      val rowm = o.groupBy("source").agg(sum("o").as("r"))
      val colm = o.groupBy("lang").agg(sum("o").as("c"))
      val tot = broadcast(o.agg(sum("o").as("nn")))
      o.join(rowm, Seq("source")).join(broadcast(colm), Seq("lang"))
        .crossJoin(tot)
        .select(col("source"), col("o"), col("r"),
          ((col("r") * col("c")).cast("double") / col("nn")).as("e"))
        .groupBy(col("source"), col("r").as("n_docs"))
        .agg(count(lit(1)).as("n_langs"),
          round(sum(pow(col("o") - col("e"), 2) / col("e")), 4)
            .as("chi_sq_contrib"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("chi_sq_contrib"))
    }),

    "q296_split_half" -> ((s, dir) => {
      // Split-half reliability of the per-source quality ranking:
      // Spearman ρ between the per-source mean q133 scores computed on
      // two md5-parity doc halves (doc_id mod anything small IS the
      // source in this fixture — the md5 draw is the engine-neutral
      // randomizer the suite already uses for sampling) — if the
      // ranking does not replicate against ITSELF, no threshold
      // derived from it deserves trust. Score sums are ×10⁴-pinned
      // LONGs per half; ranks come from two bounded |sources|-row
      // sorts; ρ = 1 − 6Σd²/(n(n²−1)) is exact integers until the
      // display division.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
      val halves = scored
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long") % 2 === 0).as("even"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("quality_w") * 10000).cast("long")).as("w4"))
        .localCheckpoint() // both half rankings read it
      def ranked(even: Boolean, out: String): DataFrame = {
        val h = halves.where(col("even") === even)
          .select(col("source"),
            expr("(w4 * 1000000) div n").as("mean_e4"))
        val rk = h.as("a").join(h.select(col("source").as("_bs"),
            col("mean_e4").as("_bm")).as("b"),
            col("_bm") > col("mean_e4") ||
            (col("_bm") === col("mean_e4") && col("_bs") < col("source")),
            "left")
          .groupBy(col("source")).agg((count(col("_bs")) + 1L).as(out))
        rk
      }
      val joined = ranked(even = true, "rank_even")
        .join(ranked(even = false, "rank_odd"), Seq("source"))
      val d2 = joined
        .agg(count(lit(1)).as("n_sources"),
          sum((col("rank_even") - col("rank_odd")) *
            (col("rank_even") - col("rank_odd"))).as("sum_d2"))
      joined.select(col("source"), col("rank_even"), col("rank_odd"))
        .crossJoin(broadcast(d2))
        .select(col("source"), col("rank_even"), col("rank_odd"),
          col("n_sources"), col("sum_d2"),
          round(lit(1.0) - col("sum_d2") * 6.0 /
            (col("n_sources") * (col("n_sources") * col("n_sources") - 1)), 6)
            .as("spearman_rho"))
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q44_curate" -> {
        val en = hitSql("cln", Lexicons.wordAlternation(Lexicons.StopwordsEn))
        val es = hitSql("cln", Lexicons.wordAlternation(Lexicons.StopwordsEs))
        val de = hitSql("cln", Lexicons.wordAlternation(Lexicons.StopwordsDe))
        val fr = hitSql("cln", Lexicons.wordAlternation(Lexicons.StopwordsFr))
        val cjk = hitSql("cln", "[\\x{4e00}-\\x{9fff}]")
        s"""WITH c1 AS (SELECT doc_id, ${cleanSql("text")} AS cln FROM documents),
           |h AS (SELECT doc_id, cln,
           |   $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr, $cjk AS s_cjk,
           |   greatest($en, $es, $de, $fr) AS s_best,
           |   length(cln) AS nc,
           |   CASE WHEN cln = '' THEN 0 ELSE len(string_split(cln, ' ')) END AS nt,
           |   ${hitSql("cln", "[\\.,;:!\\?]")} AS np
           |  FROM c1),
           |p AS (SELECT doc_id, cln,
           |   CASE WHEN s_cjk > 0 THEN 'zh' WHEN s_best = 0 THEN 'und'
           |    WHEN s_en = s_best THEN 'en' WHEN s_es = s_best THEN 'es'
           |    WHEN s_de = s_best THEN 'de' ELSE 'fr' END AS lang_pred,
           |   round((least(nc / 200.0, 1.0) + least(nt / 50.0, 1.0) +
           |     greatest(0.0, 1.0 - (CASE WHEN nc = 0 THEN 0.0
           |       ELSE CAST(np AS DOUBLE) / nc END) * 5.0)) / 3.0, 4) AS quality
           |  FROM h),
           |f AS (SELECT * FROM p WHERE lang_pred IN ('en') AND quality >= 0.5),
           |ex AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(cln)),
           |s1 AS (SELECT f.* FROM f JOIN ex USING (doc_id)),
           |toks AS (SELECT doc_id, string_split(cln, ' ') AS t FROM s1),
           |shc AS (SELECT doc_id,
           |    list_distinct(list_transform(range(1, len(t) - 1),
           |      i -> array_to_string(t[i:i+2], ' '))) AS s
           |  FROM toks WHERE len(t) >= 3),
           |losers AS (SELECT DISTINCT b.doc_id
           |  FROM shc a JOIN shc b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7)
           |SELECT doc_id, cln AS clean_text, lang_pred, round(quality, 4) AS quality
           |FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin
      },

      "q41_frame_sample" ->
        """WITH f AS (SELECT doc_id,
          |    CAST(1 + octet_length(encode(text)) % 120 AS INT) AS n_frames
          |  FROM documents WHERE doc_id % 3 = 2)
          |SELECT doc_id, n_frames, CAST(unnest(range(0, n_frames, 30)) AS INT) AS frame_idx
          |FROM f""".stripMargin,

      "q56_stratified_sample" ->
        """SELECT o_orderpriority, o_orderkey,
          | row_number() OVER (PARTITION BY o_orderpriority
          |   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
          |FROM orders QUALIFY rn <= 20""".stripMargin,

      "q81_mix_sample" ->
        """SELECT doc_id, lang, source FROM documents
          |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          | CASE WHEN lang = 'en' THEN 'g'
          |      WHEN lang IN ('es', 'fr') THEN '80000000'
          |      WHEN lang = 'de' THEN '40000000'
          |      ELSE '20000000' END""".stripMargin,

      "q93_seq_pack" ->
        s"""WITH d AS (SELECT doc_id,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |c AS (SELECT doc_id, n_toks,
           |   sum(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_toks
           |  FROM d)
           |SELECT doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks,
           | CAST(floor((cum_toks - n_toks) / 2048.0) AS BIGINT) AS pack_id
           |FROM c""".stripMargin,

      "q94_seq_pack_split" ->
        s"""WITH d AS (SELECT doc_id,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |c AS (SELECT doc_id, n_toks,
           |   CAST(sum(n_toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM d),
           |s AS (SELECT doc_id, cum - n_toks AS beg, cum AS fin,
           |   (cum - n_toks) // 2048 AS first_pack, (cum - 1) // 2048 AS last_pack
           |  FROM c WHERE n_toks > 0),
           |e AS (SELECT doc_id, beg, fin, first_pack,
           |   unnest(generate_series(first_pack, last_pack)) AS pack_id FROM s)
           |SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id,
           | CAST(pack_id - first_pack AS BIGINT) AS seg_idx,
           | CAST(greatest(beg, pack_id * 2048) - beg AS BIGINT) AS tok_offset,
           | CAST(least(fin, (pack_id + 1) * 2048)
           |   - greatest(beg, pack_id * 2048) AS BIGINT) AS seg_toks
           |FROM e""".stripMargin,

      "q95_chunk" ->
        s"""WITH d AS (SELECT doc_id,
           |   string_split(${cleanSql("text")}, ' ') AS toks FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM d),
           |s AS (SELECT doc_id, toks, n,
           |   unnest(generate_series(0, n - 1, 48)) AS tok_start FROM n)
           |SELECT doc_id, CAST(tok_start // 48 AS BIGINT) AS chunk_idx,
           | CAST(tok_start AS BIGINT) AS tok_start,
           | CAST(least(64, n - tok_start) AS BIGINT) AS chunk_toks,
           | array_to_string(list_slice(toks, tok_start + 1,
           |   least(tok_start + 64, n)), ' ') AS chunk_text
           |FROM s""".stripMargin,

      "q96_temperature_mix" ->
        """WITH d AS (SELECT doc_id, lang, source,
          |   md5(CAST(doc_id AS VARCHAR)) AS draw FROM documents),
          |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
          |   CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM d GROUP BY lang),
          |q AS (SELECT lang,
          |   CAST((200 * w) // (SELECT sum(w) FROM c) AS BIGINT) AS quota,
          |   CAST(coalesce(sum(cnt) OVER (ORDER BY lang
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |     AS BIGINT) AS prev_cum
          |  FROM c),
          |r AS (SELECT doc_id, lang, source, row_number()
          |   OVER (PARTITION BY lang ORDER BY draw, doc_id) AS lrank FROM d)
          |SELECT r.doc_id, r.lang, r.source, CAST(r.lrank AS BIGINT) AS lrank
          |FROM r JOIN q USING (lang) WHERE r.lrank <= q.quota""".stripMargin,

      "q100_strat_split" ->
        """WITH d AS (SELECT doc_id, lang,
          |   md5(CAST(doc_id AS VARCHAR)) AS draw FROM documents),
          |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY lang),
          |r AS (SELECT doc_id, lang, row_number()
          |   OVER (PARTITION BY lang ORDER BY draw, doc_id) AS lrank FROM d)
          |SELECT r.doc_id, r.lang,
          | CASE WHEN r.lrank <= (c.cnt * 8) // 10 THEN 'train'
          |      WHEN r.lrank <= (c.cnt * 8) // 10 + c.cnt // 10 THEN 'val'
          |      ELSE 'test' END AS split
          |FROM r JOIN c USING (lang)""".stripMargin,

      "q104_shuffle_pack" ->
        s"""WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS draw,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |r AS (SELECT doc_id, n_toks, sum(n_toks) OVER (ORDER BY draw, doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks FROM d)
           |SELECT doc_id, n_toks, CAST(cum_toks AS BIGINT) AS cum_toks,
           | CAST((cum_toks - n_toks) // 2048 AS BIGINT) AS pack_id FROM r""".stripMargin,

      "q105_dsir" ->
        s"""WITH toks AS (SELECT doc_id, lang,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok FROM documents),
           |t2 AS (SELECT doc_id, lang, substring(md5(tok), 1, 2) AS b
           |  FROM toks WHERE tok <> ''),
           |raw AS (SELECT b, count(*) AS cr FROM t2 GROUP BY 1),
           |tgt AS (SELECT b, count(*) AS ct FROM t2 WHERE lang = 'en' GROUP BY 1),
           |nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM raw),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM t2 WHERE lang = 'en')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           | round(avg(ln((coalesce(ct, 0) + 1.0) / (nt + 256))
           |        - ln((cr + 1.0) / (nr + 256))), 4) + 0.0 AS dsir_w
           |FROM t2 JOIN raw USING (b) LEFT JOIN tgt USING (b)
           | CROSS JOIN nr CROSS JOIN nt
           |GROUP BY doc_id""".stripMargin,

      "q107_weighted_sample" ->
        s"""WITH d AS (SELECT doc_id, n_chars,
           |   md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
           |u AS (SELECT doc_id, n_chars,
           |   CAST($hexNum13 AS DOUBLE) / 4503599627370496.0 AS u FROM d)
           |SELECT doc_id, n_chars,
           | round(ln(greatest(u, 2.220446049250313e-16)) / n_chars, 6) AS es_key
           |FROM u ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin,

      "q110_curriculum" ->
        s"""WITH t AS (SELECT doc_id,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok FROM documents),
           |t2 AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
           |f AS (SELECT tok, count(*) AS freq FROM t2 GROUP BY 1),
           |n AS (SELECT count(*) AS total FROM t2),
           |d AS (SELECT doc_id, round(avg(-ln(freq / CAST(total AS DOUBLE))), 6) AS difficulty
           |  FROM t2 JOIN f USING (tok) CROSS JOIN n GROUP BY doc_id)
           |SELECT doc_id, difficulty,
           | CAST(ntile(4) OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS phase
           |FROM d""".stripMargin,

      "q112_curation_funnel" ->
        s"""WITH d AS (SELECT doc_id, lang, n_chars,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents
           |  WHERE doc_id % 20 <> 0),
           |grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')))) AS gram
           |  FROM d WHERE len(toks) >= 8),
           |bgrams AS (SELECT DISTINCT unnest(list_distinct(list_transform(
           |   range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')))) AS gram
           |  FROM (SELECT string_split(lower(${cleanSql("text")}), ' ') AS toks
           |        FROM documents WHERE doc_id % 20 = 0) WHERE len(toks) >= 8),
           |hit AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bgrams USING (gram)),
           |fl AS (SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
           |   (lang = 'en') AS f1, (n_chars >= 100) AS f2,
           |   (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) >= 0.3) AS f3,
           |   (hit.doc_id IS NULL) AS f4
           |  FROM d LEFT JOIN hit ON d.doc_id = hit.doc_id),
           |one AS (SELECT CAST(count(*) AS BIGINT) AS d0, CAST(sum(n_toks) AS BIGINT) AS t0,
           |   CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           |   CAST(sum(CASE WHEN f1 THEN n_toks ELSE 0 END) AS BIGINT) AS t1,
           |   CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
           |   CAST(sum(CASE WHEN f1 AND f2 THEN n_toks ELSE 0 END) AS BIGINT) AS t2,
           |   CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
           |   CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN n_toks ELSE 0 END) AS BIGINT) AS t3,
           |   CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS d4,
           |   CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN n_toks ELSE 0 END) AS BIGINT) AS t4
           |  FROM fl)
           |SELECT CAST(0 AS BIGINT) AS stage, 'all' AS name, d0 AS docs, t0 AS tokens FROM one
           |UNION ALL SELECT 1, 'lang_en', d1, t1 FROM one
           |UNION ALL SELECT 2, 'min_length', d2, t2 FROM one
           |UNION ALL SELECT 3, 'lexical_diversity', d3, t3 FROM one
           |UNION ALL SELECT 4, 'decontaminated', d4, t4 FROM one""".stripMargin,

      "q121_curation_pipeline" -> {
        val gopher = "(" + graft.operators.TextAnalysis.gopherRulesOracleSql(
          "(SELECT * FROM documents WHERE doc_id % 20 <> 0) tr",
          "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')") + "\n) gf"
        s"""WITH tok8 AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')))) AS gram
           |  FROM tok8 WHERE len(toks) >= 8),
           |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
           |hit AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (gram)
           |  WHERE g.doc_id % 20 <> 0),
           |clean AS (SELECT d.doc_id, d.lang,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks,
           |   ${cleanSql("text")} AS ctext
           |  FROM documents d
           |  JOIN $gopher ON gf.doc_id = d.doc_id AND gf.passes
           |  LEFT JOIN hit ON hit.doc_id = d.doc_id
           |  WHERE d.doc_id % 20 <> 0 AND hit.doc_id IS NULL),
           |csh AS (SELECT doc_id, list_distinct(list_transform(
           |    range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))) AS s
           |  FROM (SELECT doc_id, string_split(ctext, ' ') AS toks FROM clean)
           |  WHERE len(toks) >= 3),
           |dropped AS (SELECT DISTINCT b.doc_id FROM csh a JOIN csh b
           |  ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7),
           |manifest AS (SELECT c.doc_id, c.lang, c.n_toks,
           |   md5(CAST(c.doc_id AS VARCHAR)) AS draw
           |  FROM clean c LEFT JOIN dropped dr ON dr.doc_id = c.doc_id
           |  WHERE dr.doc_id IS NULL),
           |mc AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt,
           |   CAST(floor(sqrt(count(*))) AS BIGINT) AS w FROM manifest GROUP BY lang),
           |mq AS (SELECT lang,
           |   CAST((200 * w) // (SELECT sum(w) FROM mc) AS BIGINT) AS quota,
           |   CAST(coalesce(sum(cnt) OVER (ORDER BY lang
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |     AS BIGINT) AS prev_cum
           |  FROM mc),
           |samp AS (SELECT m.doc_id, m.lang, m.n_toks, m.draw FROM
           |  (SELECT *, row_number() OVER (PARTITION BY lang
           |     ORDER BY draw, doc_id) AS lrank FROM manifest) m
           |  JOIN mq USING (lang) WHERE m.lrank <= mq.quota)
           |SELECT doc_id, lang, n_toks, CAST(cum AS BIGINT) AS cum_toks,
           | CAST((cum - n_toks) // 2048 AS BIGINT) AS pack_id
           |FROM (SELECT *, sum(n_toks) OVER (ORDER BY draw, doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM samp)""".stripMargin
      },

      "q125_shard_manifest" ->
        s"""WITH d AS (SELECT doc_id,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |r AS (SELECT doc_id, n_toks,
           |   row_number() OVER (ORDER BY n_toks DESC, doc_id ASC) - 1 AS rnk0
           |  FROM d),
           |a AS (SELECT doc_id, n_toks,
           |   CAST(CASE WHEN (rnk0 // 8) % 2 = 0 THEN rnk0 % 8
           |        ELSE 7 - rnk0 % 8 END AS BIGINT) AS shard_id
           |  FROM r),
           |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS all_toks FROM d)
           |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(n_toks) AS BIGINT) AS shard_toks,
           | CAST(max(n_toks) AS BIGINT) AS max_doc_toks,
           | round(CAST(sum(n_toks) AS DOUBLE) * 8 / all_toks, 6) AS balance
           |FROM a, tot GROUP BY shard_id, all_toks""".stripMargin,

      "q127_repeat_upsample" ->
        s"""WITH d AS (SELECT doc_id, source,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks,
           |   md5(CAST(doc_id AS VARCHAR)) AS h
           |  FROM documents),
           |s AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS src_toks
           |  FROM d GROUP BY source),
           |m AS (SELECT CAST(max(src_toks) AS BIGINT) AS max_toks FROM s),
           |e AS (SELECT source, least(CAST(4.0 AS DOUBLE),
           |   CAST(max_toks AS DOUBLE) / greatest(src_toks, 1)) AS epochs
           |  FROM s, m),
           |j AS (SELECT d.doc_id, d.source,
           |   CAST(floor(epochs) AS BIGINT) AS fullc,
           |   epochs - floor(epochs) AS frac,
           |   CAST($hexNum13 AS DOUBLE) / 4503599627370496.0 AS u
           |  FROM d JOIN e USING (source)),
           |n AS (SELECT doc_id, source,
           |   fullc + CASE WHEN u < frac THEN 1 ELSE 0 END AS n_copies FROM j)
           |SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           | CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
           |FROM n WHERE n_copies > 0""".stripMargin,

      "q128_export_pipeline" ->
        s"""WITH d AS (SELECT doc_id,
           |   CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |r AS (SELECT doc_id, n_toks,
           |   row_number() OVER (ORDER BY n_toks DESC, doc_id ASC) - 1 AS rnk0
           |  FROM d),
           |a AS (SELECT doc_id, n_toks,
           |   CAST(CASE WHEN (rnk0 // 8) % 2 = 0 THEN rnk0 % 8
           |        ELSE 7 - rnk0 % 8 END AS BIGINT) AS shard_id,
           |   md5(CAST(doc_id AS VARCHAR)) AS dr
           |  FROM r),
           |c AS (SELECT doc_id, shard_id, n_toks,
           |   CAST(sum(n_toks) OVER (PARTITION BY shard_id
           |     ORDER BY dr, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
           |  FROM a)
           |SELECT doc_id, shard_id, cum_toks,
           | CAST((cum_toks - n_toks) // 2048 AS BIGINT) AS pack_id
           |FROM c""".stripMargin,

      "q157_k_anonymity" ->
        """WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(n_chars) AS BIGINT) AS sc FROM documents GROUP BY 1, 2)
          |SELECT source, lang, n, round(sc / n, 2) AS avg_chars FROM g WHERE n >= 5
          |UNION ALL
          |SELECT '*' AS source, '*' AS lang, CAST(sum(n) AS BIGINT) AS n,
          | round(sum(sc) / sum(n), 2) AS avg_chars
          |FROM g WHERE n < 5 HAVING CAST(sum(n) AS BIGINT) >= 5""".stripMargin,

      "q160_mask_corruption" ->
        s"""WITH d AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |g AS (SELECT doc_id, len(toks) AS n,
           |   list_transform(range(1, len(toks) + 1),
           |     i -> CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
           |            CAST(i AS VARCHAR)), 1, 2) < '28'
           |          THEN '<mask>' ELSE toks[i] END) AS corr,
           |   list_filter(list_transform(range(1, len(toks) + 1),
           |     i -> CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
           |            CAST(i AS VARCHAR)), 1, 2) < '28'
           |          THEN toks[i] END), x -> x IS NOT NULL) AS tgt
           |  FROM d WHERE len(toks) >= 1)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           | CAST(len(tgt) AS BIGINT) AS n_masked,
           | array_to_string(corr, ' ') AS corrupted,
           | coalesce(array_to_string(tgt, ' '), '') AS targets,
           | round(CAST(len(tgt) AS DOUBLE) / n, 4) AS mask_rate
           |FROM g""".stripMargin,

      "q162_quota_alloc" ->
        """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |   CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source),
          |t AS (SELECT CAST(sum(chars) AS BIGINT) AS tc FROM s),
          |i AS (SELECT source, n_docs, chars, 200.0 * chars / t.tc AS ideal,
          |   CAST(floor(200.0 * chars / t.tc) AS BIGINT) AS base,
          |   200.0 * chars / t.tc - floor(200.0 * chars / t.tc) AS rem
          |  FROM s, t),
          |d AS (SELECT 200 - CAST(sum(base) AS BIGINT) AS d FROM i),
          |r AS (SELECT a.source, a.n_docs, a.chars, a.ideal, a.base,
          |   CAST(1 + count(b.source) AS BIGINT) AS rnk
          |  FROM i a LEFT JOIN i b
          |    ON b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)
          |  GROUP BY 1, 2, 3, 4, 5)
          |SELECT source, n_docs, chars, round(ideal, 6) AS ideal,
          | base + CASE WHEN rnk <= d.d THEN 1 ELSE 0 END AS quota
          |FROM r, d""".stripMargin,

      "q163_length_winsorize" ->
        s"""WITH d AS (SELECT doc_id, source,
           |   ${tokenCountSql("text")} AS n_tokens
           |  FROM documents),
           |c AS (SELECT source, quantile_cont(n_tokens, 0.9) AS p90
           |  FROM d GROUP BY source)
           |SELECT doc_id, d.source, n_tokens, round(p90, 4) AS cap_p90,
           | CAST(floor(least(CAST(n_tokens AS DOUBLE), p90)) AS BIGINT) AS kept_tokens,
           | CAST(n_tokens AS DOUBLE) > p90 AS truncated
           |FROM d JOIN c USING (source)""".stripMargin,

      "q168_dataset_card" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        s"""WITH vol AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |   CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS n_tokens,
           |   round(avg(n_chars), 2) AS avg_chars
           |  FROM documents GROUP BY source),
           |lg AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS lc
           |  FROM documents GROUP BY 1, 2),
           |tl AS (SELECT source, CAST(max(lc) AS BIGINT) AS mx FROM lg GROUP BY source),
           |dom AS (SELECT lg.source, tl.mx, min(lg.lang) AS top_lang
           |  FROM lg JOIN tl ON lg.source = tl.source AND lg.lc = tl.mx
           |  GROUP BY 1, 2),
           |g AS (
           |$gopher
           |),
           |pr AS (SELECT d.source,
           |   round(avg(CASE WHEN g.passes THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
           |  FROM g JOIN documents d USING (doc_id) GROUP BY d.source),
           |dh AS (SELECT source, md5(${cleanSql("text")}) AS h,
           |   CAST(count(*) AS BIGINT) AS hc FROM documents GROUP BY 1, 2),
           |dup AS (SELECT source,
           |   round(CAST(sum(CASE WHEN hc > 1 THEN hc ELSE 0 END) AS DOUBLE)
           |     / sum(hc), 6) AS exact_dup_share
           |  FROM dh GROUP BY source)
           |SELECT vol.source, vol.n_docs, vol.n_tokens, vol.avg_chars,
           | dom.top_lang, round(CAST(dom.mx AS DOUBLE) / vol.n_docs, 6)
           |   AS top_lang_share,
           | pr.pass_rate, dup.exact_dup_share
           |FROM vol JOIN dom USING (source) JOIN pr USING (source)
           |JOIN dup USING (source)""".stripMargin
      },

      "q170_pad_efficiency" ->
        s"""WITH d AS (SELECT doc_id, ${tokenCountSql("text")} AS n_toks FROM documents),
           |r AS (SELECT doc_id, n_toks,
           |   CAST(row_number() OVER (ORDER BY n_toks ASC, doc_id ASC) AS BIGINT) AS rn
           |  FROM d),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
           |b AS (SELECT n_toks, (rn - 1) * 8 // n AS bucket FROM r, t)
           |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(max(n_toks) AS BIGINT) AS max_len,
           | CAST(sum(n_toks) AS BIGINT) AS sum_toks,
           | CASE WHEN max(n_toks) > 0
           |      THEN round(1.0 - CAST(sum(n_toks) AS DOUBLE)
           |        / (count(*) * max(n_toks)), 6)
           |      ELSE 0.0 END AS pad_frac
           |FROM b GROUP BY bucket""".stripMargin,

      "q180_subsample_stability" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        // 4-nibble positional hex decode of md5(doc_id) (hexNum13 at width 4)
        val hx = "md5(CAST(doc_id AS VARCHAR))"
        val u = (1 to 4).map(i =>
          s"(strpos('0123456789abcdef', substring($hx, $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
          .mkString("(", " + ", ")")
        val arms = Seq(("01pct", 655L), ("10pct", 6553L), ("100pct", 65536L)).map {
          case (label, thr) =>
            s"""SELECT '$label' AS sample, CAST(count(*) AS BIGINT) AS n_docs,
               | round(avg(CASE WHEN passes THEN 1.0 ELSE 0.0 END), 6) AS pass_rate
               |FROM m WHERE u < $thr""".stripMargin
        }.mkString("(", ")\nUNION ALL (", ")")
        s"""WITH g AS (
           |$gopher
           |),
           |m AS (SELECT doc_id, passes, CAST($u AS BIGINT) AS u FROM g),
           |f AS (SELECT avg(CASE WHEN passes THEN 1.0 ELSE 0.0 END) AS fr FROM m),
           |arms AS (
           |$arms
           |)
           |SELECT sample, n_docs, pass_rate, round(abs(pass_rate - f.fr), 6) AS abs_dev
           |FROM arms, f""".stripMargin
      },

      "q184_ctx_overflow" ->
        s"""WITH d AS (SELECT source, ${tokenCountSql("text")} AS n FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(n) AS BIGINT) AS n_tokens,
           | round(avg(CASE WHEN n > 512 THEN 1.0 ELSE 0.0 END), 6) AS share_over_512,
           | round(avg(CASE WHEN n > 2048 THEN 1.0 ELSE 0.0 END), 6) AS share_over_2048,
           | round(avg(CASE WHEN n > 8192 THEN 1.0 ELSE 0.0 END), 6) AS share_over_8192,
           | CAST(sum(greatest(n - 2048, 0)) AS BIGINT) AS tokens_lost_2048,
           | round(CAST(sum(greatest(n - 2048, 0)) AS DOUBLE) / sum(n), 6)
           |   AS loss_share_2048
           |FROM d GROUP BY source""".stripMargin,

      "q219_packing_audit" ->
        s"""WITH d AS (SELECT doc_id, source, ${tokenCountSql("text")} AS n_tok
           |  FROM documents),
           |c AS (SELECT source, n_tok,
           |   sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           |     AS cum FROM d),
           |f AS (SELECT source, n_tok,
           |   CASE WHEN n_tok > 0 AND floor((cum - 1) / 2048.0) >
           |     floor((cum - n_tok) / 2048.0) THEN 1 ELSE 0 END AS split
           |  FROM c)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           | CAST(sum(split) AS BIGINT) AS n_split,
           | round(CAST(sum(split) AS DOUBLE) / count(*), 4) AS split_share
           |FROM f GROUP BY source""".stripMargin,

      "q233_weighted_sample" ->
        s"""WITH d AS (SELECT doc_id, source, n_chars,
           |   md5(CAST(doc_id AS VARCHAR)) AS h
           |  FROM documents WHERE n_chars > 0),
           |k AS (SELECT doc_id, source, n_chars,
           |   round(ln((($hexNum13) + 0.5) / 4503599627370496.0)
           |     / n_chars, 12) AS key
           |  FROM d),
           |r AS (SELECT doc_id, source, n_chars,
           |   CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC)
           |     AS BIGINT) AS rank
           |  FROM k)
           |SELECT rank, doc_id, source, n_chars FROM r
           |WHERE rank <= 64""".stripMargin,

      "q266_l_diversity" ->
        """WITH qi AS (SELECT c.c_custkey, c.c_mktsegment AS segment,
          |   n.n_name AS nation,
          |   CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_bucket
          |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
          |per AS (SELECT qi.segment, qi.nation, qi.bal_bucket,
          |   o.o_orderpriority AS sens, CAST(count(*) AS BIGINT) AS cnt
          |  FROM orders o JOIN qi ON o.o_custkey = qi.c_custkey
          |  GROUP BY 1, 2, 3, 4)
          |SELECT segment, nation, bal_bucket,
          | CAST(sum(cnt) AS BIGINT) AS n_orders,
          | CAST(count(*) AS BIGINT) AS l_distinct,
          | CAST(max(cnt) AS BIGINT) AS top_sens_n,
          | count(*) >= 3 AS diverse_ok
          |FROM per GROUP BY 1, 2, 3""".stripMargin,

      "q270_t_closeness" ->
        """WITH qi AS (SELECT c.c_custkey, c.c_mktsegment AS segment,
          |   n.n_name AS nation,
          |   CAST(floor(c.c_acctbal / 1000) AS BIGINT) AS bal_bucket
          |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
          |per AS (SELECT qi.segment, qi.nation, qi.bal_bucket,
          |   o.o_orderpriority AS sens, CAST(count(*) AS BIGINT) AS cnt
          |  FROM orders o JOIN qi ON o.o_custkey = qi.c_custkey
          |  GROUP BY 1, 2, 3, 4),
          |grp AS (SELECT segment, nation, bal_bucket,
          |   CAST(sum(cnt) AS BIGINT) AS n_g FROM per GROUP BY 1, 2, 3),
          |gs AS (SELECT sens, CAST(sum(cnt) AS BIGINT) AS gcnt
          |  FROM per GROUP BY 1),
          |gc AS (SELECT sens, CAST(sum(gcnt) OVER (ORDER BY sens
          |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum FROM gs),
          |sc AS (SELECT CAST(sum(gcnt) AS BIGINT) AS nn,
          |   CAST(count(*) AS BIGINT) AS k FROM gs),
          |dense AS (SELECT grp.segment, grp.nation, grp.bal_bucket,
          |   grp.n_g, gc.sens, gc.gcum, coalesce(per.cnt, 0) AS cnt
          |  FROM grp CROSS JOIN gc
          |  LEFT JOIN per ON per.segment = grp.segment
          |   AND per.nation = grp.nation AND per.bal_bucket = grp.bal_bucket
          |   AND per.sens = gc.sens),
          |cum AS (SELECT segment, nation, bal_bucket, n_g, gcum,
          |   CAST(sum(cnt) OVER (PARTITION BY segment, nation, bal_bucket
          |     ORDER BY sens ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g
          |  FROM dense)
          |SELECT segment, nation, bal_bucket, n_g AS n_orders,
          | round(CAST(sum(abs(cum_g * sc.nn - gcum * n_g)) AS DOUBLE)
          |   / (n_g * sc.nn * (sc.k - 1)), 6) AS t_emd,
          | round(CAST(sum(abs(cum_g * sc.nn - gcum * n_g)) AS DOUBLE)
          |   / (n_g * sc.nn * (sc.k - 1)), 6) <= 0.2 AS tclose_ok
          |FROM cum, sc GROUP BY 1, 2, 3, 4, sc.nn, sc.k""".stripMargin,

      "q290_mix_independence" ->
        """WITH o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
          |  FROM documents GROUP BY 1, 2),
          |rm AS (SELECT source, CAST(sum(o) AS BIGINT) AS r
          |  FROM o GROUP BY 1),
          |cm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c
          |  FROM o GROUP BY 1),
          |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM o)
          |SELECT o.source, rm.r AS n_docs,
          | CAST(count(*) AS BIGINT) AS n_langs,
          | round(sum(pow(o.o - CAST(rm.r * cm.c AS DOUBLE) / t.nn, 2)
          |   / (CAST(rm.r * cm.c AS DOUBLE) / t.nn)), 4) AS chi_sq_contrib
          |FROM o JOIN rm USING (source) JOIN cm USING (lang), t
          |GROUP BY 1, 2""".stripMargin,

      "q296_split_half" ->
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |hx AS (SELECT d.source, md5(CAST(d.doc_id AS VARCHAR)) AS h,
           |   q.quality_w
           |  FROM q JOIN documents d USING (doc_id)),
           |h AS (SELECT source,
           |   (CAST($hexNum13 AS BIGINT) % 2 = 0) AS even,
           |   CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(CAST(round(quality_w * 10000) AS BIGINT))
           |     AS BIGINT) AS w4
           |  FROM hx GROUP BY 1, 2),
           |m AS (SELECT source, even, (w4 * 1000000) // n AS mean_e4
           |  FROM h),
           |re AS (SELECT source, CAST(rank() OVER (ORDER BY mean_e4 DESC,
           |   source ASC) AS BIGINT) AS rank_even FROM m WHERE even),
           |ro AS (SELECT source, CAST(rank() OVER (ORDER BY mean_e4 DESC,
           |   source ASC) AS BIGINT) AS rank_odd FROM m WHERE NOT even),
           |j AS (SELECT re.source, re.rank_even, ro.rank_odd
           |  FROM re JOIN ro USING (source)),
           |d2 AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
           |   CAST(sum((rank_even - rank_odd) * (rank_even - rank_odd))
           |     AS BIGINT) AS sum_d2 FROM j)
           |SELECT j.source, j.rank_even, j.rank_odd, d2.n_sources,
           | d2.sum_d2,
           | round(1.0 - d2.sum_d2 * 6.0
           |   / (d2.n_sources * (d2.n_sources * d2.n_sources - 1)), 6)
           |   AS spearman_rho
           |FROM j, d2""".stripMargin,
  )
}
