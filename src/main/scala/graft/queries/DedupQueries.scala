package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.QueryHelpers._

/** Deduplication family: exact, MinHash/SimHash/LSH near-dup,
  * span/substring dedup, decontamination, cluster attribution.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object DedupQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q26_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), col("doc_id"), col("text"))
    }),

    "q27_minhash_neardup" -> ((s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q28_simhash_neardup" -> ((s, dir) => {
      // oracle-exact variant: md5-feature signatures + 8-band blocking is
      // EXACT for hamming <= 7 (pigeonhole), so the DuckDB brute-force
      // twin hash-matches the full pair set
      Dedup.simhashNearDupsExact(t(s, dir, "documents"), col("doc_id"), col("text"),
        maxHamming = 7, shingleLen = 3)
    }),

    "q29_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), col("doc_id"), col("text"),
          shingleLen = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "q34_embed_neardup" -> ((s, dir) => {
      // random-hyperplane LSH buckets (8 deterministic planes) + exact
      // cosine verify — the embedding-space analog of q27's minhash LSH
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
          threshold = 0.35, nPlanes = 8, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }),

    "q53_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs → connected components → dedup clusters: the
      // post-pass that turns q27's pair list into keep/drop groups
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), col("doc_id"), col("text"),
        shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
      val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
    }),

    "q67_winnow" -> ((s, dir) => {
      // winnowing (MOSS) fingerprints — sublinear near-dup signatures with
      // a guaranteed-match window; see Dedup.winnowFingerprints
      Dedup.winnowFingerprints(t(s, dir, "documents"), col("doc_id"), col("text"),
        gramLen = 3, window = 4)
    }),

    "q71_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: training docs sharing any 8-token gram
      // with the (broadcast) benchmark slice — operators.Decontaminate
      val docs = t(s, dir, "documents")
      graft.operators.Decontaminate.report(
          train = docs.where(col("doc_id") % 20 =!= 0),
          bench = docs.where(col("doc_id") % 20 === 0),
          id = col("doc_id"), text = col("text"), n = 8)
        .withColumnRenamed("id", "doc_id")
    }),

    "q97_span_dedup" -> ((s, dir) => {
      // Exact duplicated-substring detection (Lee et al. 2022) — see
      // operators/SpanDedup.scala for the full design rationale (two
      // recompute passes, pushed-down semi-join, no persisted footprint;
      // PlanSpec-locked). SpanDedupSpec verifies the dataflow on a
      // replicated corpus where EVERY window is duplicated.
      graft.operators.SpanDedup
        .perDocDupShare(t(s, dir, "documents"), col("doc_id"), col("text"), 30)
        .withColumnRenamed("id", "doc_id")
    }),

    "q98_canonical_pick" -> ((s, dir) => {
      // Canonical-representative selection per near-dup cluster: within
      // each q53 cluster keep the LONGEST copy (token count; tie → lowest
      // doc_id) — the curation refinement over an id-greedy drop, since
      // near-dup copies often differ by truncation and the longest is the
      // most complete. Deterministic two-pass argmax (per-cluster max
      // joined back, min id among ties) instead of max_by, whose tie
      // choice is arbitrary across runs/partitionings; the integer token
      // count keeps the oracle comparison float-free. The per-cluster
      // tables are cluster-cardinality-sized; both aggs are hash aggs.
      val clusters = graft.SparkEntry.queries("q53_dedup_clusters")(s, dir)
      val toks = t(s, dir, "documents").select(col("doc_id"),
        size(split(TextExprs.cleanText(col("text")), " ")).cast("long").as("n_toks"))
      val j = clusters.join(toks, "doc_id")
      val best = j.groupBy("cluster_id").agg(max("n_toks").as("canonical_toks"))
      j.join(best, "cluster_id")
        .where(col("n_toks") === col("canonical_toks"))
        .groupBy("cluster_id", "cluster_size", "canonical_toks")
        .agg(min("doc_id").as("canonical_id"))
        .select("cluster_id", "cluster_size", "canonical_id", "canonical_toks")
    }),

    "q103_semdedup" -> ((s, dir) => {
      // SemDeDup — operators.SemDeDup: the cell count SCALES with the
      // corpus (k = max(4, n/128); the round-9 verdict's one audited
      // scale-killer was the previous fixed k=4) and ONE Lloyd fit serves
      // assignment + dedup (no q78 re-fit, no second embeddings read for
      // the vector payload). At sf0.01 (500 vectors) k computes to exactly
      // 4, so the unrolled DuckDB Lloyd oracle keeps the same fixed
      // (k=4, iters=2) generation. Threshold 0.40 is tuned to this
      // synthetic table's similarity range (max pairwise cos ≈ 0.51);
      // production text dedup runs 0.95+.
      graft.operators.SemDeDup.semdedup(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), threshold = 0.40)
        .withColumnRenamed("id", "vec_id")
    }),

    "q113_incremental_dedup" -> ((s, dir) => {
      // the daily-ingest dedup: which docs of the "new crawl" slice
      // (doc_id % 10 == 0) near-duplicate the existing corpus — an A×B
      // banded LSH join (operators.Dedup.minhashNearDupsAgainst), never a
      // self-join over corpus ∪ batch; q27's parameters so the brute
      // exact-Jaccard twin stays the oracle
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.minhashNearDupsAgainst(
          corpus = docs.where(col("doc_id") % 10 =!= 0),
          batch = docs.where(col("doc_id") % 10 === 0),
          id = col("doc_id"), text = col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select(col("batch_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "q124_incremental_semdedup" -> ((s, dir) => {
      // Incremental SemDeDup — the daily-ingest composition of q113's
      // batch-vs-corpus shape with q103's cell routing: cells are fit on
      // the CORPUS slice only, the batch is assigned to those standing
      // cells, and the cosine verify join is strictly batch×corpus within
      // a cell — corpus-internal pairs were adjudicated at their own
      // ingest and never re-enter the join (Round11Spec pins this), so
      // per-ingest cost is O(|batch|·cellSize) regardless of corpus age.
      // k follows the corpus (450 rows at sf0.01 → k=4), matching the
      // pinned oracle chain; threshold 0.40 is q103's, tuned to this
      // table's similarity range.
      val e = t(s, dir, "embeddings")
      graft.operators.SemDeDup.semdedupIncremental(
          corpus = e.where(col("vec_id") % 10 =!= 0),
          batch = e.where(col("vec_id") % 10 === 0),
          id = col("vec_id"), vec = col("embedding"), threshold = 0.40)
        .withColumnRenamed("id", "vec_id")
    }),

    "q126_snapshot_diff" -> ((s, dir) => {
      // Corpus snapshot diff — the incremental-processing primitive:
      // compare two dataset versions BY CONTENT HASH and emit the change
      // manifest (added / removed / changed) that incremental stages
      // (q113/q124 ingest dedup, q123 index upserts) consume instead of
      // reprocessing the corpus. Hashes are computed BEFORE the join, so
      // the one full-outer shuffle carries (id, 32-byte digest) — never
      // document payloads — and full-outer admits no broadcast side, so
      // the sort-merge-on-id plan here is exactly the 100 TB plan.
      // Snapshots are deterministic fixture slices: v1 lacks doc_id%7==3
      // (later "added"), v2 lacks doc_id%13==5 ("removed") and revises
      // text where doc_id%11==0 ("changed"); unchanged rows are filtered
      // out — a diff scales with the CHANGE volume, not the corpus.
      val d = t(s, dir, "documents")
      val v1 = d.where(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h1"))
      val v2 = d.where(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 0,
              concat(coalesce(col("text"), lit("")), lit(" rev2")))
            .otherwise(coalesce(col("text"), lit("")))).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h1").isNull, lit("added"))
            .when(col("h2").isNull, lit("removed"))
            .when(col("h1") =!= col("h2"), lit("changed")).as("status"))
        .where(col("status").isNotNull)
    }),

    "q139_dup_attribution" -> ((s, dir) => {
      // Cross-source duplication ATTRIBUTION: roll q27's verified
      // near-dup pairs up to the source level — which feeds duplicate
      // into which (off-diagonal cells say "dedupe these two against
      // each other first"; the diagonal ranks internal duplication).
      // Complements q108 (shingle-set overlap ignores pair structure)
      // and q138 (novelty is temporal, this is pairwise). The rollup
      // input is the PAIR list — already a vanishing fraction of the
      // corpus — joined twice against the slim (id, source) projection;
      // cells are canonical (least, greatest) so the matrix is upper-
      // triangular regardless of id order.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
        shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")), "id_b")
        .groupBy(least(col("_sa"), col("_sb")).as("src_a"),
          greatest(col("_sa"), col("_sb")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"), round(avg("jaccard"), 6).as("avg_jaccard"))
    }),

    "q141_cdc_chunks" -> ((s, dir) => {
      // Content-defined chunking (the FastCDC/rsync recipe at token
      // granularity): a boundary falls AFTER any token whose md5 lands
      // in 1/8 of hash space, so boundaries are a pure function of LOCAL
      // content — an insertion shifts at most one chunk, which is what
      // makes chunk-hash dedup robust to edits (fixed-size blocks lose
      // every hash downstream of an edit). chunk_idx is a per-doc
      // partitioned-window prefix sum of boundary flags; the duplicate
      // index rolls chunk hashes up with the q55 two-level trick ((h,
      // doc) first, then h) so distinct-doc counts never plan Expand.
      graft.operators.CdcChunk.dupIndex(graft.operators.CdcChunk.chunks(
        t(s, dir, "documents"), col("doc_id"), col("text")))
    }),

    "q151_bloom_decontaminate" -> ((s, dir) => {
      // TWO-STAGE decontamination: a 2^18-bit / 4-hash Bloom filter
      // over the benchmark's 5-gram shingles prefilters the train side,
      // then exact membership verifies only the candidates. Sizing
      // follows the ~20-bits/element rule measured in BASELINE.md round 10
      // ("Bloom probe": 2^14 saturated at 95% fill on the sf0.1 shingle
      // set and prefiltered NOTHING; 2^18 keeps fill in the selective
      // regime). At 100 TB the benchmark set is small and the bloom
      // rides along as a BROADCAST (here: its set-bit table, bounded by
      // 4·|bench| ≤ 2^18 rows) — the train shingle stream is filtered
      // scan-side and NEVER shuffled against the benchmark; the exact
      // join touches candidate shingles only.
      // All hashing is md5-derived (positions = hex5(md5(j:h)) mod 2^18)
      // so the DuckDB twin runs the identical bloom. One-sided by
      // construction: exact hits ⊆ bloom hits; `bloom_fp_only` marks
      // docs the bloom flagged that exact verify clears — the measured
      // FP cost of the prefilter.
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        split(TextExprs.cleanText(col("text")), " ").as("toks"))
      val sh = toks.select(col("doc_id"),
          explode(graft.operators.Dedup.shinglesOfToks(col("toks"), 5)).as("g"))
        .select(col("doc_id"), substring(md5(col("g")), 1, 16).as("h"))
      // benchmark-sized; read by the bit table AND the exact verify
      val bench = sh.where(col("doc_id") % 20 === 0).select(col("h")).distinct()
        .localCheckpoint(true)
      def pos(j: Column, h: Column): Column =
        conv(substring(md5(concat(j.cast("string"), lit(":"), h)), 1, 5), 16, 10)
          .cast("long") % 262144
      // Round 18 (guide §3.2 — the manual Bloom filter done literally):
      // the set-bit table is COLLECTED into an actual 2^18-bit array
      // packed as 4096 longs (32 KB — the whole point of a Bloom
      // prefilter is that it fits anywhere) and membership becomes a
      // ROW-LOCAL conjunction of the 4 probe positions against the
      // literal words. Replaces the previous 4× row explode →
      // broadcast-join → (doc_id, h) count==4 re-aggregate — one exchange
      // and a 4× stream inflation gone; positions and hit set are
      // bit-identical (same md5 positions, same all-4 rule). Packed longs,
      // not a 2^18-element boolean literal: a fat literal is re-hashed by
      // every plan canonicalization and measurably drags the driver.
      val words = new Array[Long](4096)
      bench.select(explode(array((0 until 4).map(j => lit(j)): _*)).as("j"), col("h"))
        .select(pos(col("j"), col("h")).as("pos")).distinct()
        .collect().foreach { r =>
          val p = r.getLong(0)
          words((p >>> 6).toInt) |= 1L << (p & 63L).toInt
        }
      val wordsLit = typedLit(words.toSeq)
      val train = sh.where(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("h")).distinct()
      val hit = train
        .where((0 until 4).map { j =>
          val p = pos(lit(j), col("h"))
          call_function("shiftright",
            element_at(wordsLit, (shiftright(p, 6) + 1L).cast("int")),
            (p % 64L).cast("int"))
            .bitwiseAND(lit(1L)) === lit(1L)
        }.reduce(_ && _))
        .localCheckpoint(true) // candidate-sized; bloom count + verify read it
      val nb = hit.groupBy("doc_id").agg(count(lit(1)).as("n_bloom_hits"))
      val ne = hit.select("doc_id", "h").join(bench, "h")
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact_hits"))
      nb.join(ne, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bloom_hits"),
          coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"),
          (coalesce(col("n_exact_hits"), lit(0L)) === 0L).as("bloom_fp_only"))
    }),

    "q155_minhash_estimate" -> ((s, dir) => {
      // MinHash ESTIMATOR AUDIT: 64-perm signature Jaccard estimates vs
      // exact set Jaccard, per candidate pair — the accuracy check
      // behind every LSH dedup threshold (q27's bands assume the
      // estimator concentrates; this measures it). Runs on a 10%
      // deterministic doc sample (the posture at 100 TB: audit a
      // sample, trust the bands on the corpus), so the shared-shingle
      // pair fan-out and the ×64 perm explode stay bounded. Exact side
      // = shared-count arithmetic c/(na+nb−c), never array intersects
      // of materialized lists.
      val docs = t(s, dir, "documents").where(col("doc_id") % 10 === 0)
      val toks = docs.select(col("doc_id"),
        split(TextExprs.cleanText(col("text")), " ").as("toks"))
      // the (doc, hash) sample is read by FOUR subtrees (sizes, both
      // shared-join sides, the signature build) — eager-checkpoint the
      // bounded sample once instead of four corpus scans
      val u = toks.select(col("doc_id"),
          explode(graft.operators.Dedup.shinglesOfToks(col("toks"), 3)).as("g"))
        .select(col("doc_id"), substring(md5(col("g")), 1, 16).as("h"))
        .distinct()
        .localCheckpoint(true)
      val sizes = u.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shared = u.select(col("doc_id").as("id_a"), col("h"))
        .join(u.select(col("doc_id").as("id_b"), col("h")), "h")
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      val cand = shared
        .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jac"))
        .where(col("jac") >= 0.2)
      // Round 18 (guide §2.3/§2.4 — the q241 wide-signature pattern): the
      // 64-perm signature is 64 COLUMNAR min-aggregates over the pinned
      // sample (no ×64 row explode through an exchange), and the estimator
      // is a ROW-LOCAL sum of per-column matches after one join per pair
      // side (no (doc, p)-grain join, no per-pair re-aggregate). Same md5
      // per-perm hashes, same lexicographic min, same integer match count
      // — bit-identical estimates.
      val sig = u.groupBy("doc_id").agg(
        min(md5(concat(lit("0:"), col("h")))).as("mh0"),
        (1 until 64).map(p =>
          min(md5(concat(lit(s"$p:"), col("h")))).as(s"mh$p")): _*)
      val est = cand
        .join(sig.select(col("doc_id").as("id_a") +:
          (0 until 64).map(p => col(s"mh$p").as(s"ma$p")): _*), "id_a")
        .join(sig.select(col("doc_id").as("id_b") +:
          (0 until 64).map(p => col(s"mh$p").as(s"mb$p")): _*), "id_b")
        .select(col("id_a"), col("id_b"), col("jac"),
          ((0 until 64).map(p =>
            when(col(s"ma$p") === col(s"mb$p"), 1L).otherwise(0L)).reduce(_ + _)
            .cast("double") / 64.0).as("est"))
      est.select(col("id_a"), col("id_b"),
        round(col("jac"), 6).as("exact_jac"),
        round(col("est"), 6).as("est_jac"),
        round(abs(col("est") - col("jac")), 6).as("abs_err"))
    }),

    "q159_leakage_split" -> ((s, dir) => {
      // LEAKAGE-SAFE train/test split: after the deterministic 10% test
      // draw, any train document that is a NEAR-DUP of a test document
      // is QUARANTINED — the split-hygiene step that keeps eval numbers
      // honest (a verbatim-ish copy of a test doc in train is silent
      // contamination that q71's exact n-gram check misses once a few
      // tokens drift). Composition: the q27 banded LSH pair stream
      // (ids-only), symmetrized, semi-joined against the test side; the
      // corpus text is never rejoined after pair generation.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select("id_a", "id_b")
      val sym = pairs.union(
        pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      val quarantine = sym.where(col("id_a") % 10 === 7)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("_q", lit(true))
      docs.select(col("doc_id")).join(quarantine, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 7, lit("test"))
            .when(col("_q"), lit("quarantined"))
            .otherwise(lit("train")).as("split"))
    }),

    "q182_shared_prefix" -> ((s, dir) => {
      // Shared-OPENING template detector: docs whose first 10 tokens are
      // identical, grouped — the boilerplate-header signature (web pages
      // from one CMS, mailing-list footers-as-headers, scraped nav
      // chrome) that near-dup thresholds miss when the bodies diverge.
      // One scan → md5 of the 10-token prefix → hash groupBy; groups of
      // ≥2 report size, source spread, and the min doc id as the
      // canonical representative (q98's deterministic-pick rule).
      val docs = t(s, dir, "documents")
      val pref = docs.select(col("doc_id"), col("source"),
          split(TextExprs.cleanText(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 10)
        .select(col("doc_id"), col("source"),
          md5(concat_ws(" ", slice(col("toks"), 1, 10))).as("prefix_h"))
      pref.groupBy("prefix_h")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          min("doc_id").as("canonical_id"))
        .where(col("n_docs") >= 2)
    }),

    "q183_containment_direction" -> ((s, dir) => {
      // Containment DIRECTION of each verified near-dup pair: |A∩B|/|A|
      // vs |A∩B|/|B| over the 3-gram shingle sets — tells the keep
      // policy whether B is an extended edition of A (keep B), a
      // truncation (keep A), or a mutual-overlap sibling (q98's
      // longest-copy rule applies). Candidates are q27's LSH pair set;
      // the shingle sets join back per side exactly once (the operator's
      // verify posture), and the asymmetric ratios are one sorted-merge
      // pass per pair.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select("id_a", "id_b")
      val sh = docs.select(col("doc_id"),
        graft.plans.MinHashExprs.shingleHashes(
          TextExprs.cleanText(col("text")), 3).as("shh"))
      val withSets = pairs
        .join(sh.select(col("doc_id").as("id_a"), col("shh").as("_sa")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("shh").as("_sb")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("_i"),
          size(col("_sa")).cast("long").as("_na"),
          size(col("_sb")).cast("long").as("_nb"))
      val ca = round(col("_i").cast("double") / col("_na"), 6)
      val cb = round(col("_i").cast("double") / col("_nb"), 6)
      withSets.select(col("id_a"), col("id_b"),
        ca.as("cont_a_in_b"), cb.as("cont_b_in_a"),
        when(ca >= 0.95 && cb >= 0.95, "mutual")
          .when(ca >= 0.95, "a_in_b")
          .when(cb >= 0.95, "b_in_a")
          .otherwise("partial").as("relation"))
    }),

    "q193_dup_quality_interaction" -> ((s, dir) => {
      // Does duplication predict low quality? The 2×2 exact-dup ×
      // gopher-pass contingency in ONE row with the odds ratio — the
      // pre-check before spending a dedup pass on a corpus whose
      // duplicates would be dropped by the quality gate anyway. Exact-dup
      // membership via md5(clean text) group size (crisp, no LSH recall
      // caveat); both flags are corpus-keyed aggregates, the final fold
      // is a single conditional aggregate. "Duplicate" = shares its
      // 10-token opening prefix with another doc (q182's template
      // signal — the fixture carries no byte-identical copies, and the
      // template family is exactly the duplication a quality gate
      // interacts with); sub-10-token docs are definitionally unique.
      val docs = t(s, dir, "documents")
      val pass = graft.operators.TextAnalysis
        .gopherRules(docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
      val sizes = docs
        .select(col("doc_id"),
          split(TextExprs.cleanText(col("text")), " ").as("toks"))
        .where(size(col("toks")) >= 10)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), 1, 10))).as("h"))
      val dup = sizes.groupBy("h").agg(count(lit(1)).as("gs"))
      val flagged = pass.join(
          sizes.join(dup, "h").select(col("doc_id"), (col("gs") > 1).as("_d")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("_d"), lit(false)).as("is_dup"),
          col("passes"))
      flagged.agg(
          sum(when(col("is_dup") && col("passes"), 1L).otherwise(0L)).as("n_dup_pass"),
          sum(when(col("is_dup") && !col("passes"), 1L).otherwise(0L)).as("n_dup_fail"),
          sum(when(!col("is_dup") && col("passes"), 1L).otherwise(0L)).as("n_uniq_pass"),
          sum(when(!col("is_dup") && !col("passes"), 1L).otherwise(0L)).as("n_uniq_fail"))
        .select(col("n_dup_pass"), col("n_dup_fail"), col("n_uniq_pass"),
          col("n_uniq_fail"),
          when(col("n_dup_pass") + col("n_dup_fail") > 0,
            round(col("n_dup_pass").cast("double") /
              (col("n_dup_pass") + col("n_dup_fail")), 4)).as("pass_rate_dup"),
          when(col("n_uniq_pass") + col("n_uniq_fail") > 0,
            round(col("n_uniq_pass").cast("double") /
              (col("n_uniq_pass") + col("n_uniq_fail")), 4)).as("pass_rate_uniq"),
          when(col("n_dup_fail") > 0 && col("n_uniq_pass") > 0,
            round((col("n_dup_pass") * col("n_uniq_fail")).cast("double") /
              (col("n_dup_fail") * col("n_uniq_pass")), 4)).as("odds_ratio"))
    }),

    "q198_editdist_neardup" -> ((s, dir) => {
      // Edit-distance verified near-dup pairs for SHORT documents —
      // character-level Levenshtein catches the small-edit duplicates
      // (typo fixes, number swaps) that token-shingle Jaccard scores low
      // on short texts. Candidates block on the md5 of the first 3
      // tokens (equi-join, never all-pairs); the O(len²) verify runs
      // only inside blocks and only on ≤512-char docs — the length cap
      // is what licenses Levenshtein at scale.
      // EXACT-DUPLICATE COLLAPSE before the O(len²) verify (round 13): the
      // DP runs once per DISTINCT-TEXT pair, never per doc pair — on a
      // duplicate-heavy corpus (web crawls; the 10× replicated sf1 bench
      // fixture) candidate doc pairs grow as copies² while distinct-text
      // pairs don't grow at all, and identical-text pairs need no DP
      // (dist 0 by definition). Verified text pairs expand back to doc
      // pairs through two slim equi-joins; the result set is provably the
      // pair-for-pair original (levenshtein depends only on content; the
      // md5 text fingerprint stands in for the string join key under the
      // q97 md5≡raw-grouping license).
      Dedup.editDistNearDups(
        t(s, dir, "documents").where(col("n_chars") <= 512),
        col("doc_id"), col("text"), simThreshold = 0.8)
    }),

    "q201_crosssource_leakage" -> ((s, dir) => {
      // Near-dup LEAKAGE across source boundaries: every verified pair
      // labeled within/cross-source and rolled to the source-pair grid —
      // cross-source mass means the same upstream feed arrives twice
      // under different names, and per-source dedup would miss it. Pair
      // set is q27's banded LSH; the source lookup joins the slim
      // (doc_id, source) projection per side once.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select("id_a", "id_b")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")), "id_b")
        .groupBy(least(col("_sa"), col("_sb")).as("src_lo"),
          greatest(col("_sa"), col("_sb")).as("src_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("src_lo"), col("src_hi"), col("n_pairs"),
          (col("src_lo") =!= col("src_hi")).as("is_cross"))
    }),

    "q222_table_fingerprint" -> ((s, dir) => {
      // Order-independent table fingerprints — the replication/migration
      // validation primitive: two copies of a table match iff their
      // fingerprints match, computed WITHOUT moving either copy (one
      // map-side-combining aggregate per table, a constant-width result
      // to compare across clusters). Row hash = first 8 hex nibbles of
      // md5 over a canonical '|'-joined string form (money in exact
      // cents, dates as ISO strings); the fingerprint is the SUM of the
      // 32-bit row hashes — commutative, so partitioning and row order
      // can't move it, and mergeable across shards/partial loads.
      def fp(name: String, rows: DataFrame, canonical: Column): DataFrame =
        rows.agg(count(lit(1)).as("n_rows"),
            sum(conv(substring(md5(canonical), 1, 8), 16, 10).cast("long"))
              .as("fingerprint"))
          .select(lit(name).as("table_name"), col("n_rows"), col("fingerprint"))
      val ord = fp("orders", t(s, dir, "orders"),
        concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long"),
          col("o_orderdate").cast("date").cast("string"), col("o_orderpriority")))
      val cust = fp("customer", t(s, dir, "customer"),
        concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment")))
      val sup = fp("supplier", t(s, dir, "supplier"),
        concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey"),
          round(col("s_acctbal") * 100).cast("long")))
      ord.unionAll(cust).unionAll(sup)
    }),

    "q241_blocking_quality" -> ((s, dir) => {
      // Entity-resolution blocking audit: reduction ratio + pairs
      // completeness + precision of minhash banding at THREE geometries
      // ([[blockGeometries]]: 16×2, 8×4, 4×8 over one shared 32-perm
      // signature) vs exact char-3-gram Jaccard ≥ 0.7 ground truth — the
      // tuning table that decides which banding is safe at scale (and the
      // MEASURED answer to q159's probabilistic-recall caveat: 16×2's
      // completeness is the recall that caveat bounds). The scheme under
      // audit is an engine-neutral md5+XOR minhash ([[blockPerms]]
      // injected into both engines), because the verdict must be
      // computable by the oracle; the production Murmur3 path (q27)
      // shares the banding geometry. Ground truth is the q192-style
      // gram-keyed equi-join (bounded by shared-gram pairs, never an
      // unconditional n²), with the Jaccard threshold cross-multiplied to
      // stay all-integer: shared·10 ≥ 7·(|a|+|b|−shared). Ground truth
      // for pairs completeness is INHERENTLY quadratic, so — as every
      // production ER audit does — it runs on a fixed deterministic
      // slice (doc_id < 500): the audit's cost is constant in corpus
      // scale, and blocking quality is a property of scheme × data
      // distribution, which the slice samples.
      val docs = t(s, dir, "documents")
        .where(col("doc_id") < 500)
        .select(col("doc_id"), lower(TextExprs.cleanText(col("text"))).as("tx"))
        .where(length(col("tx")) >= 3)
      val sh = docs.select(col("doc_id"),
          // native char_grams (round 17): the transform/substring HOF ran
          // interpreted per element with an O(len²) substring re-walk
          explode(graft.plans.CharGramsExprs.charGrams(col("tx"), 3)).as("g"))
        .distinct()
        .localCheckpoint() // feeds signatures, sizes, and the gram join
      val hv = sh.select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 13), 16, 10).cast("long").as("hv"))
      // Round 18 (guide §2.3 — shuffle/expand fewer rows): the 32-perm
      // signature was a crossJoin row expansion (|grams|×32 rows into a
      // (doc, p) hash aggregate); the SAME mins come out of ONE pass with
      // 32 columnar min(hv XOR c_p) aggregates — no expansion, no (doc, p)
      // grain, and banding becomes ROW-LOCAL below (zero exchanges).
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // Round 18 (guide §2.5/§2.2): the gram self-join's INPUT is a few MB
      // — AQE coalesces its exchange to ~1 partition — but its OUTPUT is
      // the quadratic shared-gram pair stream, so the enumeration ran on
      // one core. Pin the join width with an explicit repartition (width =
      // the session's shuffle partitions, so it stays cluster-sized, not a
      // local[32] constant): compute-heavy-output stages must be sized by
      // their OUTPUT, which AQE cannot see in advance.
      val shG = sh.repartition(
        s.sessionState.conf.numShufflePartitions, col("g"))
      var sigWide, truth: DataFrame = null
      graft.GraftSession.concurrently(s)(
        () => sigWide = hv.groupBy("doc_id")
          .agg(min(col("hv").bitwiseXOR(lit(blockPerms.head._2))).as("v0"),
            blockPerms.tail.map { case (p, c) =>
              min(col("hv").bitwiseXOR(lit(c))).as(s"v$p") }: _*)
          .localCheckpoint(), // feeds all 3 geometries
        () => truth = shG.as("a")
          .join(shG.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
          .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sa")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sb")), "id_b")
          .where(col("shared") * 10 >= (col("sa") + col("sb") - col("shared")) * 7)
          .select("id_a", "id_b")
          .localCheckpoint()) // counted AND intersected per geometry
      // Round 18 (guide §2.4, VERDICT r17 #6): the three geometries are the
      // SAME dataflow over the same pinned signature/truth — band,
      // self-join, distinct, count, semi-count — so instead of three
      // independent pipelines (3 band exchanges, 3 self-joins, 3 cand
      // checkpoints, 6 count jobs; r17 overlapped them but still paid
      // each), the geometry is a dimension of ONE pipeline: banding is a
      // row-local projection of the wide signature (band signature = the
      // r per-band minhashes in perm order, comma-joined — exactly the
      // array_sort(collect_list) canonical string, since v_p columns are
      // already in p order), then one self-join keyed on (geometry, band,
      // sg), ONE cand checkpoint, and grouped counts. Counts are
      // per-geometry integers either way — bit-identical output.
      val geoms = s.createDataFrame(blockGeometries)
        .toDF("n_bands", "rows_per_band")
      val bandStructs = blockGeometries.flatMap { case (nb, r) =>
        (0 until nb).map { b =>
          struct(lit(nb).as("n_bands"), lit(r).as("rows_per_band"),
            lit(b.toLong).as("band"),
            concat_ws(",", (b * r until (b + 1) * r)
              .map(p => col(s"v$p").cast("string")): _*).as("sg"))
        }
      }
      val bands = sigWide
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.n_bands"), col("bk.rows_per_band"),
          col("bk.band"), col("bk.sg"))
      val cand = bands.as("a")
        .join(bands.as("b"), Seq("n_bands", "rows_per_band", "band", "sg"))
        .select(col("n_bands"), col("rows_per_band"),
          col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .where(col("id_a") < col("id_b"))
        .distinct()
        .localCheckpoint() // counted AND intersected with truth
      val nCand = cand.groupBy("n_bands", "rows_per_band")
        .agg(count(lit(1)).as("_nc"))
      val nFound = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
        .groupBy("n_bands", "rows_per_band")
        .agg(count(lit(1)).as("_nf"))
      // start from the 3-row geometry table so a geometry with ZERO
      // candidates still emits its row (the per-geometry global agg did)
      val perGeom = geoms
        .join(nCand, Seq("n_bands", "rows_per_band"), "left")
        .join(nFound, Seq("n_bands", "rows_per_band"), "left")
        .select(col("n_bands"), col("rows_per_band"),
          coalesce(col("_nc"), lit(0L)).as("n_candidates"),
          coalesce(col("_nf"), lit(0L)).as("n_found"))
      val base = sizes.agg(count(lit(1)).as("n_docs"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
        .select(col("n_docs"),
          expr("(n_docs * (n_docs - 1)) div 2").as("n_all_pairs"),
          col("n_true_pairs"))
      perGeom.crossJoin(broadcast(base))
        .select(col("n_bands"), col("rows_per_band"), col("n_docs"),
          col("n_all_pairs"), col("n_true_pairs"), col("n_candidates"),
          col("n_found"),
          round(lit(1.0) - col("n_candidates").cast("double") / col("n_all_pairs"), 6)
            .as("reduction_ratio"),
          when(col("n_true_pairs") > 0,
            round(col("n_found").cast("double") / col("n_true_pairs"), 6))
            .as("pairs_completeness"),
          when(col("n_candidates") > 0,
            round(col("n_found").cast("double") / col("n_candidates"), 6))
            .as("cand_precision"))
    }),

    "q310_stream_neardup" -> ((s, dir) => {
      // Streaming dedup-on-ingest under the batch oracle — the last
      // LLM-pipeline streaming operator brought under the gate (r14; it
      // was spec-only through r13). The documents table is replayed as a
      // 4-batch file stream with DETERMINISTIC batch membership
      // (slice = doc_id % 4, one slice per micro-batch — a hash reshard
      // would leave batch assignment engine-internal and the verdicts
      // order-dependent); nearDupDocStream's banded SimHash buckets
      // remember the last 64 signatures per (band, 16-bit slice) across
      // batches and vote each arrival against that window. With the q28
      // md5-feature signature and doc_id-ordered processing the
      // flagged set is a pure function of the corpus, and the DuckDB twin
      // replays the same arrival discipline declaratively: dup(X) iff
      // ∃Y sharing a band bucket with 1 ≤ rn(X)−rn(Y) ≤ 64 in
      // (batch, doc_id) order and hamming ≤ 3.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .where(size(split(TextExprs.cleanText(col("text")), " ")) >= 3)
      // both flatMapGroupsWithState stages are NoTimeout: output rows exist
      // only for input rows, so the trailing no-data batch appends zero
      // rows — skipped (r18)
      streamReplay(s, "q310", modSlices(docs, "doc_id", 4), 4,
          noDataBatch = false) { (stream, ckpt, out) =>
        graft.streaming.EventStreams.nearDupDocStream(stream)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              batch.write.mode("append").parquet(out)
          }
          .start()
      }.select(col("doc_id"), col("is_dup").cast("long").as("is_dup"))
    }),

    "q324_dbscan_clusters" -> ((s, dir) => {
      // Density-based clustering with named noise — operators.Dbscan:
      // DBSCAN over q34's hyperplane-bucketed ε-graph (same planes, same
      // verify), core test as one hash agg, components over core-core
      // edges only, border → min core-neighbor label. eps/minPts tuned to
      // this synthetic table's cos range (max pairwise ≈ 0.51, q103 note);
      // production text embeddings run eps 0.9+.
      graft.operators.Dbscan.cluster(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), eps = 0.35, minPts = 3,
        nPlanes = 8, dim = 64)
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q26_dedup_exact" ->
        s"""SELECT md5(${cleanSql("text")}) AS content_hash, min(doc_id) AS keep_id,
           | count(*) AS n_copies
           |FROM documents GROUP BY 1""".stripMargin,

      // all-pairs exact twin of the banded-LSH engine path — recall caveat
      // documented at q159's oracle entry (≈2e-5 per at-threshold pair)
      "q27_minhash_neardup" ->
        s"""$shingleCte,
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    ${jaccardSql("a.s", "b.s")} AS j
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.7""".stripMargin,

      // Brute-force twin of the md5-feature SimHash: recompute the 64
      // signature bits relationally (per-doc votes over the distinct
      // shingles' md5 bits), then all-pairs Hamming — 500 docs at sf0.01,
      // so the quadratic scan is the oracle's price, not the engine's.
      "q28_simhash_neardup" ->
        s"""$shingleCte,
           |hs AS (SELECT doc_id, list_transform(s, x -> substr(md5(x), 1, 16)) AS hs FROM sh),
           |hb AS (SELECT doc_id, unnest(hs) AS h FROM hs),
           |votes AS (SELECT doc_id, b,
           |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
           |          >> CAST(3 - b % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM hb CROSS JOIN range(0, 64) t(b) GROUP BY doc_id, b),
           |sigs AS (SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
           |  FROM votes GROUP BY doc_id),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(list_sum(list_transform(range(1, 65),
           |      i -> CASE WHEN a.bits[i] <> b.bits[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
           |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 7""".stripMargin,

      "q29_ngram_jaccard" ->
        s"""$shingleCte,
           |blk AS (SELECT doc_id, s, list_min(s) AS b FROM sh),
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    ${jaccardSql("a.s", "b.s")} AS j
           |  FROM blk a JOIN blk b ON a.b = b.b AND a.doc_id < b.doc_id)
           |SELECT DISTINCT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin,

      "q34_embed_neardup" -> {
        // bucket assignment replicated with the SAME plane constants the
        // Spark side uses (VectorExprs.deterministicPlanes) — generated, so
        // the two engines cannot drift (bucket/cos SQL shared with q324)
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (SELECT vec_id, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
           |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |   ${cosineSql("x.v", "y.v")} AS cos
           |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
           |SELECT id_a, id_b, round(cos, 6) AS cos FROM p WHERE cos >= 0.35""".stripMargin
      },

      "q53_dedup_clusters" -> {
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
           |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
           |SELECT c.doc_id, c.cluster_id, s.cluster_size
           |FROM comp c JOIN (SELECT cluster_id, count(*) AS cluster_size
           |  FROM comp GROUP BY cluster_id) s USING (cluster_id)""".stripMargin
      },

      "q67_winnow" ->
        s"""WITH c AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |g AS (SELECT doc_id, CASE WHEN len(toks) - 2 < 1 THEN CAST([] AS VARCHAR[])
           |   ELSE [substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 16)
           |         FOR i IN generate_series(1, len(toks) - 2)] END AS gh FROM c),
           |f AS (SELECT doc_id, CASE WHEN len(gh) = 0 THEN CAST([] AS VARCHAR[])
           |   WHEN len(gh) - 3 < 1 THEN [list_min(gh)]
           |   ELSE [list_min(gh[j:j+3]) FOR j IN generate_series(1, len(gh) - 3)]
           |  END AS fps FROM g)
           |SELECT doc_id, unnest(list_distinct(fps)) AS fingerprint FROM f""".stripMargin,

      "q71_decontaminate" ->
        s"""WITH toks AS (SELECT doc_id,
           |   string_split(lower(${cleanSql("text")}), ' ') AS toks FROM documents),
           |grams AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' ')))) AS gram
           |  FROM toks WHERE len(toks) >= 8),
           |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0)
           |SELECT t.doc_id AS doc_id, count(DISTINCT t.gram) AS n_hit_grams
           |FROM grams t JOIN bench USING (gram)
           |WHERE t.doc_id % 20 <> 0 GROUP BY 1""".stripMargin,

      "q97_span_dedup" ->
        s"""WITH t AS (SELECT doc_id,
           |   string_split(${cleanSql("text")}, ' ') AS toks FROM documents),
           |nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 30),
           |w AS (SELECT doc_id, n, toks,
           |   unnest(generate_series(0, CAST(n - 30 AS BIGINT))) AS pos FROM nn),
           |h AS (SELECT doc_id, n, md5(array_to_string(list_slice(toks,
           |   CAST(pos + 1 AS BIGINT), CAST(pos + 30 AS BIGINT)), ' ')) AS h FROM w),
           |d AS (SELECT h FROM h GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
           |SELECT doc_id, CAST(n - 29 AS BIGINT) AS n_windows,
           | CAST(count(*) AS BIGINT) AS dup_windows,
           | round(count(*) / CAST(n - 29 AS DOUBLE), 4) AS dup_ratio
           |FROM h JOIN d USING (h)
           |GROUP BY doc_id, n""".stripMargin,

      "q98_canonical_pick" -> {
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
           |comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
           |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM comp GROUP BY cluster_id),
           |tq AS (SELECT doc_id,
           |  CAST(len(string_split(${cleanSql("text")}, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |j AS (SELECT c.doc_id, c.cluster_id, sz.cluster_size, tq.n_toks
           |  FROM comp c JOIN sz USING (cluster_id) JOIN tq USING (doc_id)),
           |m AS (SELECT cluster_id, max(n_toks) AS canonical_toks FROM j GROUP BY 1)
           |SELECT j.cluster_id, j.cluster_size, min(j.doc_id) AS canonical_id,
           | m.canonical_toks
           |FROM j JOIN m ON j.cluster_id = m.cluster_id
           |  AND j.n_toks = m.canonical_toks
           |GROUP BY j.cluster_id, j.cluster_size, m.canonical_toks""".stripMargin
      },

      "q103_semdedup" ->
        s"""WITH asg AS (SELECT vec_id, cluster FROM (
           |${graft.operators.KMeansOp.oracleSql("embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64)}
           |)),
           |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |j AS (SELECT b.vec_id AS vec_id,
           |   round(list_inner_product(ea.v, eb.v) /
           |    (sqrt(list_inner_product(ea.v, ea.v)) *
           |     sqrt(list_inner_product(eb.v, eb.v))), 6) AS cos
           |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  JOIN ev ea ON ea.vec_id = a.vec_id
           |  JOIN ev eb ON eb.vec_id = b.vec_id),
           |drp AS (SELECT DISTINCT vec_id FROM j WHERE cos >= 0.40)
           |SELECT asg.vec_id, asg.cluster, (drp.vec_id IS NULL) AS keep
           |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id""".stripMargin,

      "q113_incremental_dedup" ->
        s"""$shingleCte,
           |pairs AS (SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
           |    ${jaccardSql("b.s", "a.s")} AS j
           |  FROM sh b JOIN sh a ON b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0)
           |SELECT batch_id, corpus_id, round(j, 6) AS jaccard
           |FROM pairs WHERE j >= 0.7""".stripMargin,

      "q124_incremental_semdedup" -> {
        // Lloyd chain pinned on the CORPUS slice (k=4 matches the engine's
        // cellCount(450, 128) at sf0.01 — Round11Spec guards the boundary)
        val corpusCb = graft.operators.KMeansOp.oracleCentroidsSql(
          "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0) corp_src",
          "vec_id", "embedding", k = 4, iters = 2, dim = 64)
        s"""WITH cb AS (SELECT cid, c FROM (
           |$corpusCb
           |)),
           |corp AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 10 <> 0),
           |bat AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 10 = 0),
           |asgC AS (SELECT corp.id, cb.cid FROM corp CROSS JOIN cb
           |  QUALIFY row_number() OVER (PARTITION BY corp.id
           |    ORDER BY list_inner_product(cb.c, cb.c)
           |      - 2 * list_inner_product(corp.v, cb.c), cb.cid) = 1),
           |asgB AS (SELECT bat.id, cb.cid FROM bat CROSS JOIN cb
           |  QUALIFY row_number() OVER (PARTITION BY bat.id
           |    ORDER BY list_inner_product(cb.c, cb.c)
           |      - 2 * list_inner_product(bat.v, cb.c), cb.cid) = 1),
           |dup AS (SELECT b.id, CAST(count(*) AS BIGINT) AS n
           |  FROM asgB b JOIN bat ON bat.id = b.id
           |  JOIN asgC c ON c.cid = b.cid
           |  JOIN corp ON corp.id = c.id
           |  WHERE round(list_inner_product(bat.v, corp.v) /
           |    (sqrt(list_inner_product(bat.v, bat.v)) *
           |     sqrt(list_inner_product(corp.v, corp.v))), 6) >= 0.40
           |  GROUP BY b.id)
           |SELECT bat.id AS vec_id, coalesce(dup.n, 0) AS n_dups,
           | coalesce(dup.n, 0) = 0 AS keep
           |FROM bat LEFT JOIN dup ON dup.id = bat.id""".stripMargin
      },

      "q126_snapshot_diff" ->
        s"""WITH v1 AS (SELECT doc_id, md5(coalesce(text, '')) AS h1
           |  FROM documents WHERE doc_id % 7 <> 3),
           |v2 AS (SELECT doc_id,
           |   md5(CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' rev2'
           |       ELSE coalesce(text, '') END) AS h2
           |  FROM documents WHERE doc_id % 13 <> 5),
           |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
           |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
           |SELECT doc_id,
           | CASE WHEN h1 IS NULL THEN 'added'
           |      WHEN h2 IS NULL THEN 'removed'
           |      ELSE 'changed' END AS status
           |FROM j WHERE h1 IS NULL OR h2 IS NULL OR h1 <> h2""".stripMargin,

      "q139_dup_attribution" ->
        s"""$shingleCte,
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    ${jaccardSql("a.s", "b.s")} AS j
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
           |kept AS (SELECT id_a, id_b, j FROM pairs WHERE j >= 0.7)
           |SELECT least(da.source, db.source) AS src_a,
           | greatest(da.source, db.source) AS src_b,
           | CAST(count(*) AS BIGINT) AS n_pairs,
           | round(avg(j), 6) AS avg_jaccard
           |FROM kept
           |JOIN documents da ON da.doc_id = kept.id_a
           |JOIN documents db ON db.doc_id = kept.id_b
           |GROUP BY 1, 2""".stripMargin,

      "q141_cdc_chunks" -> {
        val hex4 = (1 to 4).map(i =>
          s"(strpos('0123456789abcdef', substring(md5(tok), $i, 1)) - 1) * ${1L << (4 * (4 - i))}")
          .mkString(" + ")
        s"""WITH tk0 AS (SELECT doc_id, unnest(ts) AS tok, unnest(range(0, len(ts))) AS pos
           |  FROM (SELECT doc_id, string_split(lower(${cleanSql("text")}), ' ') AS ts FROM documents)),
           |tk AS (SELECT doc_id, pos, tok,
           |   CASE WHEN CAST($hex4 AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS bnd
           |  FROM tk0 WHERE tok <> ''),
           |cx AS (SELECT doc_id, pos, tok,
           |   coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx FROM tk),
           |ch AS (SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_toks,
           |   md5(string_agg(tok, ' ' ORDER BY pos)) AS h FROM cx GROUP BY 1, 2),
           |pd AS (SELECT h, doc_id, CAST(count(*) AS BIGINT) AS c,
           |   CAST(max(n_toks) AS BIGINT) AS nt FROM ch GROUP BY 1, 2)
           |SELECT h AS chunk_h, CAST(max(nt) AS BIGINT) AS n_toks,
           | CAST(sum(c) AS BIGINT) AS n_occurrences,
           | CAST(count(*) AS BIGINT) AS n_docs
           |FROM pd GROUP BY h HAVING sum(c) > 1""".stripMargin
      },

      "q151_bloom_decontaminate" -> {
        // 5-nibble positional hex decode (hexNum13 pattern at width 5) —
        // 20 hash bits feed the 2^18-bit filter (probed ~20-bits/element)
        def hex5(x: String): String = (1 to 5).map(i =>
          s"(strpos('0123456789abcdef', substring($x, $i, 1)) - 1) * ${1 << (4 * (5 - i))}")
          .mkString("(", " + ", ")")
        val ph = hex5("md5(CAST(j AS VARCHAR) || ':' || h)")
        s"""WITH docs0 AS (SELECT doc_id, string_split(${cleanSql("text")}, ' ') AS toks
           |  FROM documents),
           |d5 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
           |   i -> array_to_string(toks[i:i+4], ' '))) AS s
           |  FROM docs0 WHERE len(toks) >= 5),
           |u AS (SELECT doc_id, substring(md5(unnest(s)), 1, 16) AS h FROM d5),
           |b AS (SELECT DISTINCT h FROM u WHERE doc_id % 20 = 0),
           |js AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS j),
           |bits AS (SELECT DISTINCT CAST($ph % 262144 AS BIGINT) AS pos FROM b, js),
           |tr AS (SELECT DISTINCT doc_id, h FROM u WHERE doc_id % 20 <> 0),
           |hp AS (SELECT doc_id, h, j, CAST($ph % 262144 AS BIGINT) AS pos FROM tr, js),
           |hit AS (SELECT doc_id, h FROM hp JOIN bits USING (pos)
           |  GROUP BY doc_id, h HAVING count(*) = 4),
           |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
           |  FROM hit GROUP BY doc_id),
           |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
           |  FROM hit JOIN b USING (h) GROUP BY doc_id)
           |SELECT nb.doc_id, nb.n_bloom_hits,
           | CAST(coalesce(ne.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
           | coalesce(ne.n_exact_hits, 0) = 0 AS bloom_fp_only
           |FROM nb LEFT JOIN ne USING (doc_id)""".stripMargin
      },

      "q155_minhash_estimate" ->
        s"""WITH d AS (SELECT doc_id, string_split(${cleanSql("text")}, ' ') AS toks
           |  FROM documents WHERE doc_id % 10 = 0),
           |s3 AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
           |   i -> array_to_string(toks[i:i+2], ' '))) AS s
           |  FROM d WHERE len(toks) >= 3),
           |u AS (SELECT DISTINCT doc_id, substring(md5(unnest(s)), 1, 16) AS h FROM s3),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM u GROUP BY doc_id),
           |sh2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |   CAST(count(*) AS BIGINT) AS c
           |  FROM u a JOIN u b USING (h) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
           |cand AS (SELECT id_a, id_b,
           |   CAST(c AS DOUBLE) / (za.sz + zb.sz - c) AS jac
           |  FROM sh2 JOIN sz za ON za.doc_id = sh2.id_a
           |  JOIN sz zb ON zb.doc_id = sh2.id_b
           |  WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2),
           |ps AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS p),
           |sig AS (SELECT doc_id, p, min(md5(CAST(p AS VARCHAR) || ':' || h)) AS mh
           |  FROM u, ps GROUP BY doc_id, p),
           |e AS (SELECT c.id_a, c.id_b, c.jac,
           |   CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 64.0 AS est
           |  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
           |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p
           |  GROUP BY 1, 2, 3)
           |SELECT id_a, id_b, round(jac, 6) AS exact_jac, round(est, 6) AS est_jac,
           | round(abs(est - jac), 6) AS abs_err FROM e""".stripMargin,

      // RECALL CAVEAT (shared by q27/q164): the engine generates pairs via
      // 16-band × 2-row minhash LSH + exact-Jaccard verify, while this twin
      // enumerates ALL pairs exactly (the band hash is Spark Murmur3 —
      // not DuckDB-replicable). A true pair AT the 0.7 threshold collides
      // in no band with prob (1 − 0.7²)^16 ≈ 2e-5, so parity could flake
      // on a fixture whose near-threshold pair count is ~5 orders larger
      // than today's (sf0.01: 37 true pairs, all well above threshold).
      // Precision needs no caveat: every emitted pair is exact-verified.
      "q159_leakage_split" ->
        s"""$shingleCte,
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7),
           |sym AS (SELECT id_a, id_b FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs),
           |q AS (SELECT DISTINCT id_b AS doc_id FROM sym WHERE id_a % 10 = 7)
           |SELECT d.doc_id,
           | CASE WHEN d.doc_id % 10 = 7 THEN 'test'
           |      WHEN q.doc_id IS NOT NULL THEN 'quarantined'
           |      ELSE 'train' END AS split
           |FROM documents d LEFT JOIN q USING (doc_id)""".stripMargin,

      "q182_shared_prefix" ->
        s"""WITH d AS (SELECT doc_id, source,
           |   string_split(${cleanSql("text")}, ' ') AS toks FROM documents),
           |p AS (SELECT doc_id, source,
           |   md5(array_to_string(toks[1:10], ' ')) AS prefix_h
           |  FROM d WHERE len(toks) >= 10)
           |SELECT prefix_h, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           | CAST(min(doc_id) AS BIGINT) AS canonical_id
           |FROM p GROUP BY prefix_h HAVING count(*) >= 2""".stripMargin,

      // all-pairs exact candidate twin of the banded-LSH engine path —
      // recall caveat documented at q159's oracle entry; intersection
      // counts from string shingles equal the engine's 64-bit-hash counts
      // under the minhash collision license
      "q183_containment_direction" ->
        s"""$shingleCte,
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |   len(list_intersect(a.s, b.s)) AS i,
           |   len(a.s) AS na, len(b.s) AS nb
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7)
           |SELECT id_a, id_b,
           | round(CAST(i AS DOUBLE) / na, 6) AS cont_a_in_b,
           | round(CAST(i AS DOUBLE) / nb, 6) AS cont_b_in_a,
           | CASE WHEN round(CAST(i AS DOUBLE) / na, 6) >= 0.95
           |        AND round(CAST(i AS DOUBLE) / nb, 6) >= 0.95 THEN 'mutual'
           |      WHEN round(CAST(i AS DOUBLE) / na, 6) >= 0.95 THEN 'a_in_b'
           |      WHEN round(CAST(i AS DOUBLE) / nb, 6) >= 0.95 THEN 'b_in_a'
           |      ELSE 'partial' END AS relation
           |FROM pairs""".stripMargin,

      "q193_dup_quality_interaction" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        s"""WITH g AS (
           |$gopher
           |),
           |tk AS (SELECT doc_id, string_split(${cleanSql("text")}, ' ') AS toks
           |  FROM documents),
           |h AS (SELECT doc_id, md5(array_to_string(toks[1:10], ' ')) AS h
           |  FROM tk WHERE len(toks) >= 10),
           |d AS (SELECT h.doc_id, (count(*) OVER (PARTITION BY h.h)) > 1 AS is_dup
           |  FROM h),
           |j AS (SELECT coalesce(d.is_dup, false) AS is_dup, g.passes
           |  FROM g LEFT JOIN d USING (doc_id)),
           |c AS (SELECT
           |  CAST(sum(CASE WHEN is_dup AND passes THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup_pass,
           |  CAST(sum(CASE WHEN is_dup AND NOT passes THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_dup_fail,
           |  CAST(sum(CASE WHEN NOT is_dup AND passes THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_uniq_pass,
           |  CAST(sum(CASE WHEN NOT is_dup AND NOT passes THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_uniq_fail
           | FROM j)
           |SELECT n_dup_pass, n_dup_fail, n_uniq_pass, n_uniq_fail,
           | CASE WHEN n_dup_pass + n_dup_fail > 0 THEN
           |   round(CAST(n_dup_pass AS DOUBLE) / (n_dup_pass + n_dup_fail), 4)
           |   END AS pass_rate_dup,
           | CASE WHEN n_uniq_pass + n_uniq_fail > 0 THEN
           |   round(CAST(n_uniq_pass AS DOUBLE) / (n_uniq_pass + n_uniq_fail), 4)
           |   END AS pass_rate_uniq,
           | CASE WHEN n_dup_fail > 0 AND n_uniq_pass > 0
           |      THEN round(CAST(n_dup_pass * n_uniq_fail AS DOUBLE) /
           |        (n_dup_fail * n_uniq_pass), 4) END AS odds_ratio
           |FROM c""".stripMargin
      },

      "q198_editdist_neardup" ->
        s"""WITH d AS (SELECT doc_id, ${cleanSql("text")} AS t FROM documents
           |  WHERE n_chars <= 512),
           |tk AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM d),
           |b AS (SELECT doc_id, t, md5(array_to_string(toks[1:3], ' ')) AS h
           |  FROM tk WHERE len(toks) >= 3),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |   CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
           |   round(1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE) /
           |     greatest(len(a.t), len(b.t)), 4) AS sim
           |  FROM b a JOIN b b ON a.h = b.h AND a.doc_id < b.doc_id)
           |SELECT id_a, id_b, edit_dist, sim FROM p WHERE sim >= 0.8""".stripMargin,

      // all-pairs exact candidate twin of the banded-LSH engine path —
      // recall caveat documented at q159's oracle entry
      "q201_crosssource_leakage" ->
        s"""$shingleCte,
           |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7),
           |lab AS (SELECT least(da.source, db.source) AS src_lo,
           |   greatest(da.source, db.source) AS src_hi
           |  FROM pairs JOIN documents da ON da.doc_id = pairs.id_a
           |  JOIN documents db ON db.doc_id = pairs.id_b)
           |SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           | (src_lo <> src_hi) AS is_cross
           |FROM lab GROUP BY src_lo, src_hi""".stripMargin,

      "q222_table_fingerprint" -> {
        def hex8(h: String): String = (1 to 8).map(i =>
          s"CAST(strpos('0123456789abcdef', substring($h, $i, 1)) - 1 AS BIGINT) * ${1L << (4 * (8 - i))}")
          .mkString(" + ")
        def fp(name: String, table: String, canonical: String) =
          s"""SELECT '$name' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
             | CAST(sum(${hex8(s"md5($canonical)")}) AS BIGINT) AS fingerprint
             |FROM $table"""
        Seq(
          fp("orders", "orders",
            """concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
              | CAST(round(o_totalprice * 100) AS BIGINT),
              | CAST(CAST(o_orderdate AS DATE) AS VARCHAR), o_orderpriority)"""
              .stripMargin.replace('\n', ' ')),
          fp("customer", "customer",
            """concat_ws('|', c_custkey, c_name, c_nationkey,
              | CAST(round(c_acctbal * 100) AS BIGINT), c_mktsegment)"""
              .stripMargin.replace('\n', ' ')),
          fp("supplier", "supplier",
            """concat_ws('|', s_suppkey, s_name, s_nationkey,
              | CAST(round(s_acctbal * 100) AS BIGINT))"""
              .stripMargin.replace('\n', ' ')))
          .map(q => q.stripMargin.replace('\n', ' '))
          .mkString(" UNION ALL ")
      },

      "q241_blocking_quality" -> {
        val vals = blockPerms.map { case (p, c) => s"($p, $c)" }.mkString(", ")
        val geomCtes = blockGeometries.map { case (_, r) =>
          s"""bands_$r AS (SELECT doc_id, p // $r AS band,
             |   string_agg(CAST(v AS VARCHAR), ',' ORDER BY p) AS sg
             |  FROM sig GROUP BY 1, 2),
             |cand_$r AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM bands_$r a JOIN bands_$r b ON a.band = b.band
             |   AND a.sg = b.sg AND a.doc_id < b.doc_id)""".stripMargin
        }.mkString(",\n")
        val geomRows = blockGeometries.map { case (nb, r) =>
          s"""SELECT $nb AS n_bands, $r AS rows_per_band,
             |  (SELECT CAST(count(*) AS BIGINT) FROM cand_$r) AS n_candidates,
             |  (SELECT CAST(count(*) AS BIGINT) FROM tr t JOIN cand_$r c
             |    ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_found""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH d AS (SELECT doc_id, lower(${cleanSql("text")}) AS tx
           |  FROM documents
           |  WHERE doc_id < 500 AND len(lower(${cleanSql("text")})) >= 3),
           |sh AS (SELECT DISTINCT doc_id, g FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(tx) - 1),
           |    i -> substr(tx, CAST(i AS INT), 3))) AS g FROM d)),
           |hs AS (SELECT doc_id, md5(g) AS h FROM sh),
           |hv AS (SELECT doc_id, CAST($hexNum13 AS BIGINT) AS hv FROM hs),
           |perms(p, c) AS (VALUES $vals),
           |sig AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
           |   min(xor(hv, CAST(c AS BIGINT))) AS v
           |  FROM hv, perms GROUP BY 1, 2),
           |$geomCtes,
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           |  FROM sh GROUP BY doc_id),
           |tr AS (SELECT i.id_a, i.id_b
           |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |     CAST(count(*) AS BIGINT) AS shared
           |    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
           |    GROUP BY 1, 2) i
           |  JOIN sz sa ON sa.doc_id = i.id_a
           |  JOIN sz sb ON sb.doc_id = i.id_b
           |  WHERE i.shared * 10 >= (sa.sz + sb.sz - i.shared) * 7),
           |base AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_docs,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_true_pairs),
           |geoms AS ($geomRows)
           |SELECT g.n_bands, g.rows_per_band, base.n_docs,
           | (base.n_docs * (base.n_docs - 1)) // 2 AS n_all_pairs,
           | base.n_true_pairs, g.n_candidates, g.n_found,
           | round(1.0 - CAST(g.n_candidates AS DOUBLE)
           |   / ((base.n_docs * (base.n_docs - 1)) // 2), 6) AS reduction_ratio,
           | CASE WHEN base.n_true_pairs > 0 THEN
           |   round(CAST(g.n_found AS DOUBLE) / base.n_true_pairs, 6) END
           |   AS pairs_completeness,
           | CASE WHEN g.n_candidates > 0 THEN
           |   round(CAST(g.n_found AS DOUBLE) / g.n_candidates, 6) END
           |   AS cand_precision
           |FROM geoms g, base""".stripMargin
      },

      // the streaming arrival discipline replayed declaratively: signature
      // bits as in q28 (md5-feature SimHash); Spark's band value B is JVM
      // sig bits [16B, 16B+15] = md5-bit positions [48-16B, 63-16B] = the
      // 1-indexed bits-list slice [49-16B, 64-16B] (bits[b+1] is the vote
      // at md5-bit b, and JVM bit p = md5-bit 63-p). rn orders each bucket
      // by (batch = doc_id % 4, doc_id) — exactly the stream's insertion
      // order — and Y is still inside the 64-signature window at X's
      // arrival iff rn(X) - rn(Y) <= 64.
      "q310_stream_neardup" ->
        s"""$shingleCte,
           |hs AS (SELECT doc_id, list_transform(s, x -> substr(md5(x), 1, 16)) AS hs FROM sh),
           |hb AS (SELECT doc_id, unnest(hs) AS h FROM hs),
           |votes AS (SELECT doc_id, b,
           |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
           |          >> CAST(3 - b % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM hb CROSS JOIN range(0, 64) t(b) GROUP BY doc_id, b),
           |sigs AS (SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
           |  FROM votes GROUP BY doc_id),
           |bnd AS (SELECT doc_id, bits, bb.range AS band,
           |    array_to_string(list_slice(bits, CAST(49 - 16 * bb.range AS INT),
           |      CAST(64 - 16 * bb.range AS INT)), '') AS bval
           |  FROM sigs CROSS JOIN range(0, 4) bb),
           |rn AS (SELECT doc_id, bits, band, bval,
           |    row_number() OVER (PARTITION BY band, bval
           |      ORDER BY doc_id % 4, doc_id) AS rn
           |  FROM bnd),
           |hits AS (SELECT x.doc_id,
           |    max(CASE WHEN list_sum(list_transform(range(1, 65),
           |        i -> CASE WHEN x.bits[i] <> y.bits[i] THEN 1 ELSE 0 END)) <= 3
           |      THEN 1 ELSE 0 END) AS hit
           |  FROM rn x JOIN rn y ON x.band = y.band AND x.bval = y.bval
           |    AND y.rn < x.rn AND x.rn - y.rn <= 64
           |  GROUP BY x.doc_id)
           |SELECT s.doc_id, CAST(coalesce(h.hit, 0) AS BIGINT) AS is_dup
           |FROM sigs s LEFT JOIN hits h USING (doc_id)""".stripMargin,

      // DBSCAN replayed declaratively on the SAME bucketed ε-graph the
      // engine builds (generated plane constants): core = deg+1 ≥ minPts,
      // clusters = min-label reach over core-core edges (q53's recursive
      // pattern), border = min core-neighbor label — the deterministic
      // tie-break Dbscan.cluster pins.
      "q324_dbscan_clusters" ->
        s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |b AS (SELECT vec_id, v, ${hyperplaneBucketSql(8, 64)} AS bucket FROM e),
           |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           |   ${cosineSql("x.v", "y.v")} AS cos
           |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
           |q AS (SELECT id_a, id_b FROM p WHERE cos >= 0.35),
           |sym AS (SELECT id_a AS id, id_b AS nbr FROM q
           |  UNION ALL SELECT id_b, id_a FROM q),
           |core AS (SELECT id FROM sym GROUP BY id HAVING count(*) + 1 >= 3),
           |ce AS (SELECT q.id_a, q.id_b FROM q
           |  JOIN core ca ON q.id_a = ca.id JOIN core cb ON q.id_b = cb.id),
           |ed AS (SELECT id_a AS src, id_b AS dst FROM ce
           |  UNION SELECT id_b, id_a FROM ce
           |  UNION SELECT id_a, id_a FROM ce
           |  UNION SELECT id_b, id_b FROM ce),
           |reach AS (SELECT src, dst FROM ed
           |  UNION SELECT r.src, e2.dst FROM reach r JOIN ed e2 ON r.dst = e2.src),
           |comp AS (SELECT src AS id, min(dst) AS cid FROM reach GROUP BY src),
           |corec AS (SELECT c.id, coalesce(m.cid, c.id) AS cid
           |  FROM core c LEFT JOIN comp m USING (id)),
           |border AS (SELECT s.id, min(cc.cid) AS cid
           |  FROM sym s JOIN corec cc ON s.nbr = cc.id
           |  WHERE s.id NOT IN (SELECT id FROM core) GROUP BY s.id)
           |SELECT e.vec_id,
           | CASE WHEN cc.id IS NOT NULL THEN 'core'
           |      WHEN br.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
           | CAST(coalesce(cc.cid, br.cid, -1) AS BIGINT) AS cluster_id
           |FROM e LEFT JOIN corec cc ON e.vec_id = cc.id
           |  LEFT JOIN border br ON e.vec_id = br.id""".stripMargin,
  )

  /** Generated hyperplane-bucket SQL over a DOUBLE[] column `v` with the
    * SAME plane constants as the engine (VectorExprs.deterministicPlanes)
    * — shared by the q34 and q324 twins so neither can drift. */
  private def hyperplaneBucketSql(nPlanes: Int, dim: Int): String = {
    val planes = graft.functions.VectorExprs.deterministicPlanes(nPlanes, dim)
    def planeDot(v: String, p: Seq[Double]): String =
      s"list_sum(list_transform(range(1,${dim + 1}), j -> $v[j] * list_extract(${p.mkString("[", ", ", "]")}, j)))"
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${planeDot("v", p)} >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n   + ")
  }

  /** Exact-cosine verify SQL between two DOUBLE[64] expressions — the same
    * operand shape (dot / (norm·norm)) as VectorExprs.cosineHoisted. */
  private def cosineSql(a: String, b: String, dim: Int = 64): String =
    s"""list_sum(list_transform(range(1,${dim + 1}), i -> $a[i] * $b[i])) /
       |   (sqrt(list_sum(list_transform(range(1,${dim + 1}), i -> $a[i] * $a[i]))) *
       |    sqrt(list_sum(list_transform(range(1,${dim + 1}), i -> $b[i] * $b[i]))))""".stripMargin
}
