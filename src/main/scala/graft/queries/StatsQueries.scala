package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextExprs
import graft.operators.TextAnalysis
import graft.queries.QueryHelpers._

/** Statistical process control and inference: drift, anomaly,
  * hypothesis tests, calibration, forecasting.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object StatsQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q37_percentile" -> ((s, dir) => {
      // exact interpolated percentiles (not the sketch — q39 has that).
      // ONE array-argument percentile aggregate: a single sorted buffer per
      // group serves all four cut points (four scalar aggregates would each
      // buffer + sort the group's values independently)
      t(s, dir, "orders").groupBy("o_orderpriority")
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.99D))").as("_p"))
        .select(col("o_orderpriority"),
          round(element_at(col("_p"), 1), 4).as("p25"),
          round(element_at(col("_p"), 2), 4).as("p50"),
          round(element_at(col("_p"), 3), 4).as("p75"),
          round(element_at(col("_p"), 4), 4).as("p99"))
    }),

    "q39_sketches" -> ((s, dir) => {
      // approximate sketches (HLL++ distinct, KLL-style quantile), made
      // oracle-checkable via engine-neutral VERDICT rows: each engine runs
      // ITS OWN sketch (Spark HLL++ here, DuckDB HLL in the twin) and
      // reports whether it lands within a band of ITS OWN exact answer. The
      // distinct-count band is 15% = 3x Spark's default HLL++ rsd (5%, one
      // sigma): at 1 sigma a near-threshold group could legally land inside
      // the band in one engine and outside in the other; at 3 sigma both
      // engines' estimates sit comfortably inside. The quantile band stays
      // 5%: percentile_approx at accuracy 10000 has ~1e-4 rank error. The
      // sketches never have to agree bit-for-bit — only the accuracy
      // verdict and the exact columns are compared, which is the portable
      // contract an approximate operator actually offers. The exact median
      // comes from the rank-dataflow percentile (no per-group buffering —
      // the buffering `percentile` aggregate was the slowest query in the
      // whole suite at sf0.1 and collapses entirely at 100 TB).
      // Three SEPARATE aggregations joined on the tiny group key: mixing a
      // DISTINCT aggregate with imperative sketch buffers in one groupBy
      // plans Expand + a sort-aggregate fallback (measured 4.2 s vs 1.1 s
      // summed for the split at sf0.1) — each piece alone stays a hash agg.
      val ev = t(s, dir, "events")
      val p50x = graft.operators.Percentiles
        .exactByGroup(ev, col("event_type"), col("value"), Seq(0.5), Seq("_p50x"))
        .withColumnRenamed("group", "event_type")
      val exactUsers = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_users"))
      ev.groupBy("event_type").agg(
          approx_count_distinct(col("user_id")).as("_au"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("_p50a"),
          count(lit(1)).as("n"))
        .join(broadcast(exactUsers), "event_type") // one row per group
        .join(broadcast(p50x), "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("_au") - col("exact_users"))
            <= col("exact_users").cast("double") * 0.15).as("users_within_15pct"),
          (abs(col("_p50a") - col("_p50x"))
            <= abs(col("_p50x")) * 0.05).as("p50_within_5pct"),
          col("n"))
    }),

    "q50_stats_agg" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2).as("covar_qp"),
        round(covar_pop("l_quantity", "l_extendedprice"), 2).as("covar_pop_qp"),
        round(stddev_samp("l_extendedprice"), 2).as("sd_price"),
        round(var_samp("l_quantity"), 4).as("var_qty"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
    }),

    "q54_histogram" -> ((s, dir) => {
      // fixed-width histogram binning (floor arithmetic — engine-portable)
      t(s, dir, "orders")
        .select(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"),
          col("o_totalprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("sum_price"),
          round(min("o_totalprice"), 2).as("min_price"),
          round(max("o_totalprice"), 2).as("max_price"))
    }),

    "q74_zscore" -> ((s, dir) => {
      // two-pass outlier detection: per-type moments, broadcast back, flag
      // |z| > 2.5 — no window over the full log, scales as one agg + one map
      val ev = t(s, dir, "events")
      val stats = ev.groupBy("event_type")
        .agg(avg("value").as("_mu"), stddev_samp("value").as("_sd"))
      ev.join(broadcast(stats), "event_type")
        .where(abs((col("value") - col("_mu")) / col("_sd")) > 2.5)
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("_mu")) / col("_sd"), 4).as("z"))
    }),

    "q137_decayed_trend" -> ((s, dir) => {
      // Exponentially time-decayed activity ranking (half-life weighting
      // for "trending" detection): each event contributes
      // exp((ts − t_max)/τ) with τ = 7 days, so last week's events count
      // ~e times yesterday's don't — the standard freshness-weighted
      // count that a streaming leaderboard materializes. One scan, one
      // map-combined hash-agg; the corpus max timestamp rides a one-row
      // broadcast cross join (the BM25 N/avgdl pattern); recency_ratio =
      // decayed/n exposes which event types are ACCELERATING vs merely
      // large.
      val tau = 604800000000.0 // 7 days in microseconds
      val ev = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("_us"))
      val mx = ev.agg(max("_us").as("_mx"))
      ev.crossJoin(broadcast(mx))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(exp((col("_us") - col("_mx")).cast("double") / lit(tau))), 4)
            .as("decayed"),
          round(sum(exp((col("_us") - col("_mx")).cast("double") / lit(tau)))
            / count(lit(1)), 6).as("recency_ratio"))
    }),

    "q145_calibration" -> ((s, dir) => {
      // Reliability diagram for the q133 quality filter: rank-based
      // DECILES of the score distribution (all-integer bin arithmetic —
      // the q136 trick, so no float boundary moves a doc between bins)
      // vs the observed positive rate per bin. A well-calibrated filter
      // shows pos_rate rising monotonically with mean_w; a flat curve
      // means the scores carry no signal and any threshold is arbitrary
      // — THE check before picking a keep cutoff at 100 TB. The rank is
      // GlobalRank's range exchange (no global window); bin totals are a
      // 10-row aggregate.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
      val lab = scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("quality_w"),
          when(col("source").isin(posSources: _*), 1L).otherwise(0L).as("y"))
        .localCheckpoint(true) // slim per-doc manifest; rank + total read it
      val ranked = graft.operators.GlobalRank.withRowNumber(lab,
        Seq(col("quality_w").asc, col("doc_id").asc), "_rn")
      val tot = lab.agg(count(lit(1)).as("_n"))
      ranked.crossJoin(broadcast(tot))
        .select(expr("((_rn - 1) * 10) DIV _n").as("decile"),
          col("quality_w"), col("y"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          (round(avg("quality_w"), 4) + 0.0).as("mean_w"),
          round(avg(col("y").cast("double")), 4).as("pos_rate"))
    }),

    "q148_cms_freq" -> ((s, dir) => {
      // COUNT-MIN SKETCH (Cormode & Muthukrishnan 2005): a 4×256
      // mergeable frequency sketch over the token stream, then the
      // estimate/exact error audit on the top-20 tokens. CMS is linear,
      // so the sketch is built from the PRE-AGGREGATED vocab table (one
      // corpus-keyed shuffle, map-side partials) instead of exploding
      // the raw stream 4× — identical arithmetic, quarter the shuffle.
      // The 1024-cell sketch is the whole reduced state: this is the
      // shape that merges across 1000 executors and across days. Top-20
      // selection rides GlobalRank (range exchange, deterministic
      // (cnt DESC, tok) order) — no single-partition sort at any vocab
      // size. Every estimate is ≥ truth (one-sided CMS error); the
      // audit checks the ε = e/w bound against N.
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val rows4 = array((0 until 4).map(j => lit(j)): _*)
      def bkt(j: Column, tok: Column): Column =
        conv(substring(md5(concat(j.cast("string"), lit(":"), tok)), 1, 2), 16, 10)
          .cast("long")
      val cells = counts.select(col("cnt"), explode(rows4).as("j"), col("tok"))
        .select(col("j"), bkt(col("j"), col("tok")).as("bkt"), col("cnt"))
        .groupBy("j", "bkt").agg(sum("cnt").as("c"))
      val tot = counts.agg(sum("cnt").as("_n"))
      val top = graft.operators.GlobalRank.withRowNumber(counts,
          Seq(col("cnt").desc, col("tok").asc), "_rn")
        .where(col("_rn") <= 20)
        .select(col("tok"), col("cnt").as("true_cnt"))
      val est = top.select(col("tok"), col("true_cnt"), explode(rows4).as("j"))
        .select(col("tok"), col("true_cnt"), col("j"),
          bkt(col("j"), col("tok")).as("bkt"))
        .join(broadcast(cells), Seq("j", "bkt"))
        .groupBy("tok", "true_cnt").agg(min("c").as("cms_est"))
      est.crossJoin(broadcast(tot))
        .select(col("tok"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overest"),
          ((col("cms_est") - col("true_cnt")).cast("double")
            <= exp(lit(1.0)) / 256.0 * col("_n")).as("within_bound"))
    }),

    "q152_dist_drift" -> ((s, dir) => {
      // Token-distribution DRIFT monitor: per-source KL divergence of an
      // incoming batch slice against the standing corpus (add-1
      // smoothing over each source's union vocabulary) — the ingest
      // gate that catches a source silently changing register/topic
      // before it skews the training mixture. One scan → one
      // (source, token) aggregate with both sides as conditional sums
      // (no second pass, no join of two token streams) → per-source
      // totals broadcast back onto the vocab-sized table.
      val docs = t(s, dir, "documents")
      val tk = docs.select(col("source"),
          (col("doc_id") % 10 === 0).as("is_batch"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
      val counts = tk.groupBy("source", "tok")
        .agg(sum(when(col("is_batch"), 1L).otherwise(0L)).as("cb"),
          sum(when(col("is_batch"), 0L).otherwise(1L)).as("cc"))
      val tot = counts.groupBy("source")
        .agg(sum("cb").as("nb"), sum("cc").as("nc"), count(lit(1)).as("v"))
      counts.join(broadcast(tot), "source")
        .select(col("source"), col("nb"), col("nc"), col("v"),
          ((col("cb") + 1).cast("double") / (col("nb") + col("v"))).as("p"),
          ((col("cc") + 1).cast("double") / (col("nc") + col("v"))).as("q"))
        .groupBy("source")
        .agg(max("v").as("vocab"),
          max("nb").as("n_batch_toks"), max("nc").as("n_corpus_toks"),
          round(sum(col("p") * log(col("p") / col("q"))), 6).as("kl"))
        .withColumn("drifted", col("kl") > 0.02)
    }),

    "q156_threshold_tune" -> ((s, dir) => {
      // Threshold AUTO-TUNE: q146's one-pass bin/suffix-sum sweep, now
      // against the gold labels — precision/recall/F1 at every cutoff
      // and the argmax row flagged. This is the decision step after
      // q145 (calibration) and q154 (ranking): pick the keep-threshold
      // BEFORE the 100 TB filter run, from one classifier pass and a
      // 21-row table. All boundary arithmetic is integer
      // ten-thousandths; TP/FP are suffix sums over the bins, FN comes
      // from the broadcast positive total.
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
      val lab = scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(round(col("quality_w") * 10000).cast("long").as("w4"),
          when(col("source").isin(posSources: _*), 1L).otherwise(0L).as("y"))
      val bins = lab
        .select(when(col("w4") < -10000L, lit(-1L))
            .otherwise(least(expr("(w4 + 10000) DIV 1000"), lit(20L))).as("bin"),
          col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("_nd"), sum("y").as("_np"))
        .localCheckpoint(true) // ≤22 rows, read by sweep, total AND argmax
      val tot = bins.agg(sum("_nd").as("_td"), sum("_np").as("_tp"))
      val grid = s.range(0, 21).select(col("id").as("ti"))
      val sweep = grid.join(broadcast(bins), col("bin") >= col("ti"), "left")
        .groupBy("ti")
        .agg(coalesce(sum("_nd"), lit(0L)).as("kept"),
          coalesce(sum("_np"), lit(0L)).as("tp"))
        .crossJoin(broadcast(tot))
        .select(col("ti"), col("kept"), col("tp"),
          (col("kept") - col("tp")).as("fp"),
          (col("_tp") - col("tp")).as("fn"), col("_tp"))
        .withColumn("precision",
          when(col("kept") === 0L, lit(0.0))
            .otherwise(col("tp").cast("double") / col("kept")))
        .withColumn("recall", col("tp").cast("double") / col("_tp"))
        .withColumn("f1",
          when(col("tp") === 0L, lit(0.0))
            .otherwise(lit(2.0) * col("precision") * col("recall")
              / (col("precision") + col("recall"))))
      val best = sweep.agg(max("f1").as("_bf"))
      sweep.crossJoin(broadcast(best))
        .select(((col("ti") * 1000 - 10000) / lit(10000.0)).as("threshold"),
          col("kept"), col("tp"), col("fp"), col("fn"),
          round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"),
          (col("f1") === col("_bf")).as("is_best"))
    }),

    "q167_bootstrap_ci" -> ((s, dir) => {
      // Poisson-BOOTSTRAP uncertainty on the per-source quality rate:
      // 32 deterministic resampling replicas where each doc's replica
      // weight is Poisson(1)-distributed via an md5-derived uniform and
      // the inverse-CDF threshold chain (the distributed bootstrap of
      // Chamandy et al./Google — no shared RNG state, no resample
      // shuffle; a doc's weight in replica b is a pure function of
      // (b, doc_id), so the estimate is bit-reproducible and mergeable).
      // Reports the point rate, bootstrap mean/sd and the 95% normal
      // CI half-width — the error bar a curation dashboard should put
      // on every quality metric before anyone compares two sources.
      // Shape: one rules pass → slim (source, keep) manifest ×32
      // replica explode → two tiny aggregates.
      val docs = t(s, dir, "documents")
      val rules = graft.operators.TextAnalysis.gopherRules(
          docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
      val lab = rules.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"),
          when(col("passes"), 1.0).otherwise(0.0).as("y"))
        .localCheckpoint(true) // slim manifest; point rate + replicas read it
      val reps = array((0 until 32).map(b => lit(b)): _*)
      // inverse CDF of Poisson(1) on u ∈ [0,1): cumulative thresholds
      val u = conv(substring(md5(concat(col("b").cast("string"), lit(":"),
        col("doc_id").cast("string"))), 1, 13), 16, 10)
        .cast("double") / lit(4503599627370496.0) // 16^13 = 2^52
      val w = when(u < 0.36787944117144233, 0.0)
        .when(u < 0.7357588823428847, 1.0)
        .when(u < 0.9196986029286058, 2.0)
        .when(u < 0.9810118431238462, 3.0)
        .when(u < 0.9963401531726563, 4.0)
        .when(u < 0.9994058151824183, 5.0)
        .when(u < 0.9999167588507119, 6.0)
        .otherwise(7.0)
      // a replica whose Poisson weights all draw 0 (realistic only for a
      // very small source) carries no estimate: guard the ratio EXPLICITLY
      // and surface how many replicas actually contributed — a CI built on
      // fewer replicas than requested should say so, not silently narrow
      val boot = lab.select(col("source"), col("doc_id"), col("y"),
          explode(reps).as("b"))
        .select(col("source"), col("b"), col("y"), w.as("w"))
        .groupBy("source", "b")
        .agg(when(sum("w") > 0, sum(col("w") * col("y")) / sum("w")).as("rate_b"))
      val ci = boot.groupBy("source")
        .agg(round(avg("rate_b"), 6).as("boot_mean"),
          round(stddev_samp(col("rate_b")), 6).as("boot_sd"),
          count(col("rate_b")).as("n_eff_replicas"))
      val point = lab.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), round(avg("y"), 6).as("pass_rate"))
      point.join(ci, "source")
        .select(col("source"), col("n_docs"), col("pass_rate"),
          col("boot_mean"), col("boot_sd"),
          round(col("boot_sd") * 1.96, 6).as("ci95_halfwidth"),
          col("n_eff_replicas"))
    }),

    "q178_length_chisq" -> ((s, dir) => {
      // Per-source length-distribution χ² against the corpus: global
      // n_chars DECILES via the all-integer rank cut (q145's bin trick —
      // no float boundary moves a doc), observed per (source, bin) vs
      // expected n_src·bin_total/N, χ² with df=9 flagged at the 0.01
      // critical value. Complements q152 (token-distribution KL) with
      // the LENGTH axis — a source silently switching from tweets to
      // transcripts alarms here first. Shape: rank pass → (source, bin)
      // contingency (≤ sources×10 rows) → all arithmetic on the reduced
      // table with bin totals broadcast.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      val ranked = graft.operators.GlobalRank.withRowNumber(docs,
        Seq(col("n_chars").asc, col("doc_id").asc), "_rn")
      val tot = docs.agg(count(lit(1)).as("_n"))
      val binned = ranked.crossJoin(broadcast(tot))
        .select(col("source"), expr("((_rn - 1) * 10) DIV _n").as("bin"), col("_n"))
      val cont = binned.groupBy("source", "bin")
        .agg(count(lit(1)).as("obs"), max("_n").as("_n"))
      val binTot = cont.groupBy("bin").agg(sum("obs").as("bin_total"))
      val srcTot = cont.groupBy("source").agg(sum("obs").as("n_docs"))
      cont.join(broadcast(binTot), "bin").join(broadcast(srcTot), "source")
        .select(col("source"), col("n_docs"),
          (col("obs") - col("n_docs") * col("bin_total").cast("double") / col("_n"))
            .as("_d"),
          (col("n_docs") * col("bin_total").cast("double") / col("_n")).as("_e"))
        .groupBy("source", "n_docs")
        .agg(round(sum(col("_d") * col("_d") / col("_e")), 4).as("chi2"))
        .withColumn("drifted", col("chi2") > 21.666) // χ²(9, 0.99)
    }),

    "q189_length_tail_index" -> ((s, dir) => {
      // Hill tail-index of the document-length distribution — the
      // capacity-planning number behind packing/shard sizing (how heavy
      // is the long-doc tail): alpha = 1 / mean(ln(x_i / x_(k+1))) over
      // the top-5% order statistics. Global order from GlobalRank (range
      // exchange, no single-partition window); k and the rank-(k+1)
      // threshold are single-row broadcasts, the tail mean is one slim
      // aggregate over k rows.
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val ranked = graft.operators.GlobalRank.withRowNumber(
        d, Seq(col("n_chars").desc, col("doc_id").asc), "rk")
      val nk = d.agg(count(lit(1)).as("n"))
        .select(col("n"), (col("n") * 5 / 100).cast("long").as("k"))
      val thr = ranked.crossJoin(broadcast(nk))
        .where(col("rk") === col("k") + 1)
        .select(col("n_chars").as("x_k1"))
      ranked.crossJoin(broadcast(nk)).where(col("rk") <= col("k"))
        .crossJoin(broadcast(thr))
        .groupBy("n", "k", "x_k1")
        .agg(avg(log(col("n_chars").cast("double") / col("x_k1"))).as("_h"))
        .select(col("n").as("n_docs"), col("k"), col("x_k1"),
          round(col("_h"), 4).as("hill_h"),
          round(lit(1.0) / col("_h"), 4).as("tail_alpha"))
    }),

    "q195_changepoint" -> ((s, dir) => {
      // CUSUM changepoint over the daily event total: cusumᵢ =
      // Σ_{j≤i}(cⱼ − mean), peak day = argmax |cusum| — the level-shift
      // locator run before trusting any volume-weighted statistic. The
      // prefix sum rides GlobalRank.withRunningSum (range exchange, no
      // single-partition window) over the zero-filled scaffold, and the
      // peak test compares n·cusumᵢ = n·rtᵢ − i·total — ALL LONG
      // arithmetic, so the argmax is exact in both engines; the reported
      // cusum rounds only for display.
      val ev = t(s, dir, "events").select(col("ts").cast("date").as("day"))
      val daily = ev.groupBy("day").agg(count(lit(1)).as("c"))
      val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"),
          count(lit(1)).as("total"))
        .select(col("d0"), col("total"),
          (datediff(col("d1"), col("d0")) + 1).cast("long").as("nd"))
      val series = broadcast(bounds)
        .select(col("d0"), col("nd"), col("total"),
          explode(sequence(lit(1L), col("nd"))).as("i"))
        .select(col("nd"), col("total"), col("i"),
          date_add(col("d0"), (col("i") - 1).cast("int")).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("nd"), col("total"), col("i"), col("day"),
          coalesce(col("c"), lit(0L)).as("n_events"))
      val rt = graft.operators.GlobalRank.withRunningSum(
        series, Seq(col("day").asc), col("n_events"), "rt")
      val nc = col("nd") * col("rt") - col("i") * col("total")
      val scored = rt.select(col("day"), col("i"), col("n_events"),
        col("nd"), nc.as("ncusum"))
      val peak = scored.agg(max(abs(col("ncusum"))).as("peak"))
      scored.crossJoin(broadcast(peak))
        .select(col("day"), col("n_events"),
          round(col("ncusum").cast("double") / col("nd"), 4).as("cusum"),
          (abs(col("ncusum")) === col("peak")).as("is_peak"))
    }),

    "q210_pareto_revenue" -> ((s, dir) => {
      // Pareto concentration, inverse form: how many customers carry 80%
      // of revenue (q188 answers shares at fixed deciles; this answers
      // the count at a fixed share). Revenue in EXACT integer cents; the
      // answer is a COUNT over the running sum — a customer belongs to
      // the top-80 set iff the mass BEFORE it is under the target, so no
      // rank column and no argmin: one range-exchange prefix sum and a
      // conditional aggregate.
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val summed = graft.operators.GlobalRank.withRunningSum(
        rev, Seq(col("cents").desc, col("o_custkey").asc), col("cents"), "cum")
      val tot = summed.agg(max("cum").as("_total"), count(lit(1)).as("n_customers"))
      summed.crossJoin(broadcast(tot))
        .select(col("n_customers"), col("_total"),
          ((col("cum") - col("cents")) * 5 < col("_total") * 4).as("_in80"))
        .groupBy("n_customers")
        .agg(sum(when(col("_in80"), 1L).otherwise(0L)).as("n_top80"))
        .select(col("n_customers"), col("n_top80"),
          round(col("n_top80").cast("double") / col("n_customers"), 4)
            .as("share_of_customers"))
    }),

    "q212_volume_correlation" -> ((s, dir) => {
      // Which event types move TOGETHER day to day: Pearson r between
      // every pair of zero-filled daily volume series (q194's scaffold,
      // q197's all-integer moment sums — exact cross-engine). High r =
      // shared upstream driver; a negative pair flags substitution. The
      // day self-join carries |types|² rows per day, never user rows.
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("ts").cast("date").as("day"))
      val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("d0"), (datediff(col("d1"), col("d0")) + 1).cast("long").as("nd"))
      val scaffold = broadcast(bounds)
        .select(col("nd"), explode(sequence(lit(0L), col("nd") - 1)).as("x"),
          col("d0"))
        .select(col("nd"), date_add(col("d0"), col("x").cast("int")).as("day"))
        .crossJoin(broadcast(ev.select("event_type").distinct()))
      val series = scaffold.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("nd"), col("day"),
          coalesce(col("c"), lit(0L)).as("y"))
      val joined = series.as("a").join(series.as("b"),
          col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
          col("a.nd").as("nd"), col("a.y").as("x"), col("b.y").as("y"))
      val sums = joined.groupBy("type_a", "type_b", "nd")
        .agg(sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val num = (col("nd") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = sqrt((col("nd") * col("sxx") - col("sx") * col("sx")).cast("double")) *
        sqrt((col("nd") * col("syy") - col("sy") * col("sy")).cast("double"))
      sums.select(col("type_a"), col("type_b"), col("nd").as("n_days"),
        when(den > 0, round(num / den, 6)).as("pearson_r"))
    }),

    "q214_supplier_hhi" -> ((s, dir) => {
      // Supplier-concentration HHI per nation (Σ shareᵢ² — the antitrust
      // metric, here the supply-chain-risk read): revenue in exact
      // integer cents per supplier, HHI as Σc²/(Σc)² so the only
      // doubles are the two final folds. One lineitem aggregate on
      // suppkey; supplier→nation is a broadcast dimension hop.
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val sup = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val nat = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      rev.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum("cents").as("_tot"),
          sum(col("cents").cast("double") * col("cents").cast("double")).as("_sq"))
        .select(col("nation"), col("n_suppliers"),
          round(col("_tot").cast("double") / 100.0, 2).as("revenue"),
          round(col("_sq") / (col("_tot").cast("double") * col("_tot").cast("double")), 6)
            .as("hhi"))
    }),

    "q218_shuffle_skew" -> ((s, dir) => {
      // Pre-shuffle skew audit for a planned join/aggregation key:
      // simulate the 32-way hash partitioning of lineitem on l_orderkey
      // (md5-derived bucket — engine-neutral, so the oracle shares the
      // assignment: 2 hex nibbles = 256 values, 256 % 32 = 0, uniform)
      // and report each bucket's load factor and its heaviest single
      // key. This is the input to every salting / AQE-skew decision:
      // load_factor ≈ 1 everywhere means the key is safe; a hot bucket
      // DOMINATED by one key (max_key_rows ≈ n_rows) means salt THAT
      // key, not repartition harder. Two map-side-combining aggregates —
      // (bucket, key) then bucket — nothing corpus-sized shuffles twice.
      val rows = t(s, dir, "lineitem").select(col("l_orderkey"))
        .withColumn("bucket",
          conv(substring(md5(col("l_orderkey").cast("string")), 1, 2), 16, 10)
            .cast("long") % 32)
      val perKey = rows.groupBy("bucket", "l_orderkey").agg(count(lit(1)).as("c"))
      val perB = perKey.groupBy("bucket")
        .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
          max("c").as("max_key_rows"))
      val tot = perB.agg(sum("n_rows").as("_tot"))
      perB.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_keys"), col("n_rows"), col("max_key_rows"),
          round(col("n_rows").cast("double") * 32 / col("_tot"), 4).as("load_factor"))
    }),

    "q224_median_of_means" -> ((s, dir) => {
      // Median-of-means robust mean of event values: 16 deterministic
      // buckets (first hex nibble of md5(event_id) — engine-neutral, no
      // RNG state), per-bucket means pinned to 6 dp so partial-sum order
      // can't flip a bit, then the median of the 16 bucket means — the
      // classic distributed robust-mean construction with sub-Gaussian
      // deviation under heavy tails (each bucket is a shared-nothing
      // partial aggregate; only 16 doubles cross the wire). Reported
      // beside the plain mean: a large gap flags tail contamination.
      val ev = t(s, dir, "events")
        .select(col("value"),
          substring(md5(col("event_id").cast("string")), 1, 1).as("b"))
      val bm = ev.groupBy("b").agg(round(avg("value"), 6).as("m"))
      val mom = bm.agg(count(lit(1)).as("n_buckets"),
        round(expr("percentile(m, 0.5)"), 4).as("mom_mean"))
      val plain = ev.agg(count(lit(1)).as("n_events"),
        round(avg("value"), 4).as("plain_mean"))
      plain.crossJoin(mom)
        .select(col("n_events"), col("n_buckets"), col("plain_mean"),
          col("mom_mean"))
    }),

    "q227_cuped" -> ((s, dir) => {
      // CUPED variance reduction (Deng et al. 2013, "Improving the
      // sensitivity of online controlled experiments") — THE experiment-
      // platform primitive: adjust each user's post-period metric by the
      // pooled regression on their PRE-period covariate, shrinking metric
      // variance without touching the mean. Deterministic md5 arm split;
      // pre/post cut at the integer epoch midpoint of the stream. Every
      // moment is an exact integer sum per arm (one user-grain aggregate
      // then a 2-row arm rollup), and the adjusted variance uses the
      // CLOSED FORM var(Y−θX) = varY − 2θcov + θ²varX — no second pass
      // over users. θ is pooled across arms (the standard, unbiased
      // choice) via a broadcast one-row cross join.
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_timestamp(col("ts")).as("e"))
      val mid = ev.agg(floor((min("e") + max("e")) / 2).cast("long").as("_mid"))
      val perUser = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(sum(when(col("e") < col("_mid"), 1L).otherwise(0L)).as("x"),
          sum(when(col("e") >= col("_mid"), 1L).otherwise(0L)).as("y"))
        .withColumn("arm",
          when(substring(md5(col("user_id").cast("string")), 1, 1)
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A").otherwise("B"))
      val arms = perUser.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val pooled = arms.agg(sum("n").as("pn"), sum("sx").as("psx"),
          sum("sy").as("psy"), sum("sxy").as("psxy"), sum("sxx").as("psxx"))
        .select(((col("pn") * col("psxy") - col("psx") * col("psy")).cast("double") /
          (col("pn") * col("psxx") - col("psx") * col("psx")).cast("double"))
          .as("theta"))
      val nD = col("n").cast("double")
      val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double") / (nD * nD)
      val covXY = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / (nD * nD)
      val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") / (nD * nD)
      val varAdj = varY - lit(2) * col("theta") * covXY + col("theta") * col("theta") * varX
      arms.crossJoin(broadcast(pooled))
        .select(col("arm"), col("n").as("n_users"),
          round(col("sy").cast("double") / nD, 4).as("mean_post"),
          round(varY, 4).as("var_post"),
          round(varAdj, 4).as("var_cuped"),
          round(lit(1) - varAdj / varY, 4).as("var_reduction"),
          round(col("theta"), 6).as("theta"))
    }),

    "q230_benford" -> ((s, dir) => {
      // Benford first-digit audit of order totals — the forensic-
      // accounting screen for fabricated or systematically-capped
      // amounts: observed leading-digit shares vs log10(1 + 1/d), with
      // the χ² distance. The expected shares are SCALA CONSTANTS
      // injected into both engines (the lexicon-twin pattern), so the
      // two sides cannot drift; digit extraction is string-first on
      // exact integer cents. One corpus aggregate; everything after is
      // 9 rows.
      import s.implicits._
      val expected = broadcast(QueryHelpers.benfordShares.toSeq
        .toDF("digit", "benford_share"))
      val digits = t(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_orders"))
      val tot = digits.agg(sum("n_orders").as("_tot"))
      val joined = digits.join(expected, "digit").crossJoin(broadcast(tot))
      val exp = col("_tot") * col("benford_share")
      val chi2 = joined
        .agg(sum((col("n_orders") - exp) * (col("n_orders") - exp) / exp)
          .as("_chi2"))
      joined.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n_orders"),
          round(col("n_orders").cast("double") / col("_tot"), 4).as("obs_share"),
          col("benford_share"),
          round(col("_chi2"), 4).as("chi2_total"))
    }),

    "q235_price_dispersion" -> ((s, dir) => {
      // Cross-supplier price dispersion per part — the arbitrage /
      // procurement-leakage audit: per-supplier mean unit price (exact
      // integer unit cents per row, so the mean is a deterministic
      // long-sum division), then the per-part spread between the
      // cheapest and dearest supplier. Top-20 by relative spread rides
      // the GlobalRank range exchange with partkey tie-break — no
      // global window, no driver sort.
      val unit = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100 / col("l_quantity"))
            .cast("long").as("uc"))
      val perSupp = unit.groupBy("l_partkey", "l_suppkey")
        .agg((sum("uc").cast("double") / count(lit(1))).as("mean_uc"))
      val perPart = perSupp.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"),
          min("mean_uc").as("_lo"), max("mean_uc").as("_hi"))
        .where(col("n_suppliers") >= 2)
        .select(col("l_partkey"), col("n_suppliers"),
          round(col("_lo") / 100.0, 2).as("min_unit_price"),
          round(col("_hi") / 100.0, 2).as("max_unit_price"),
          ((col("_hi") - col("_lo")) / col("_lo")).as("_rel"))
      graft.operators.GlobalRank.withRowNumber(perPart,
          Seq(col("_rel").desc, col("l_partkey").asc), "rank")
        .where(col("rank") <= 20)
        .select(col("rank"), col("l_partkey"), col("n_suppliers"),
          col("min_unit_price"), col("max_unit_price"),
          round(col("_rel"), 4).as("rel_spread"))
    }),

    "q239_ewma_anomaly" -> ((s, dir) => {
      // Volume-spike monitor: each day's event total vs a truncated
      // exponentially-weighted baseline of the 12 PRIOR days (exclusive —
      // today must not vote on its own baseline). The (7/8)-decay kernel
      // is pre-scaled to exact LONG weights ([[ewmaWeights]]) so numerator,
      // denominator, and the spike test (y·Σw > 2·Σwy, cross-multiplied)
      // are all integer-exact in both engines; doubles appear only in the
      // two display columns. The lag join explodes the DAILY table (≤ a
      // few thousand rows after the one corpus-sized aggregate) × 12 —
      // scale-independent of the event count.
      val ev = t(s, dir, "events").select(col("ts").cast("date").as("day"))
      val daily = ev.groupBy("day").agg(count(lit(1)).as("c"))
      val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("d0"), (datediff(col("d1"), col("d0")) + 1).cast("long").as("nd"))
      val series = broadcast(bounds)
        .select(col("d0"), explode(sequence(lit(1L), col("nd"))).as("i"))
        .select(col("i"), date_add(col("d0"), (col("i") - 1).cast("int")).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("i"), col("day"), coalesce(col("c"), lit(0L)).as("n_events"))
      val weights = s.createDataFrame(ewmaWeights.map { case (j, w) => (j.toLong, w) })
        .toDF("j", "w")
      val prior = series.select(col("i").as("pi"), col("n_events").as("py"))
        .crossJoin(broadcast(weights))
        .select((col("pi") + col("j")).as("i"), col("w"),
          (col("w") * col("py")).as("wy"))
      val base = prior.groupBy("i")
        .agg(sum("w").as("denom"), sum("wy").as("numer"))
      series.join(base, Seq("i"))
        .select(col("day"), col("n_events"),
          round(col("numer").cast("double") / col("denom"), 4).as("ewma"),
          when(col("numer") > 0,
            round((col("n_events") * col("denom")).cast("double") / col("numer"), 4))
            .as("ratio"),
          (col("n_events") * col("denom") > col("numer") * 2).as("is_spike"))
    }),

    "q244_ks_drift" -> ((s, dir) => {
      // Exact two-sample Kolmogorov–Smirnov drift test: did the order-
      // value DISTRIBUTION shift between the stream's two epoch halves?
      // D = max |F₁−F₂| evaluated at every distinct value via two
      // GlobalRank.withRunningSum prefix passes over the per-value arm
      // counts (one range exchange each, no single-partition window); the
      // ECDF gap is cross-multiplied to the all-LONG |r₁·n₂ − r₂·n₁| so
      // the argmax is exact in both engines — doubles appear only in the
      // display D and the α=0.05 critical line (c(0.05)=1.358, the
      // standard asymptotic constant, identical literal in both engines).
      val o = t(s, dir, "orders").select(
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long").as("ed"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val cut = broadcast(o.agg(min("ed").as("lo"), max("ed").as("hi"))
        .select(expr("(lo + hi) div 2").as("cut")))
      val perVal = o.crossJoin(cut)
        .select(col("cents"), when(col("ed") <= col("cut"), 1L).otherwise(0L).as("a"))
        .groupBy("cents")
        .agg(sum("a").as("ca"), (count(lit(1)) - sum("a")).as("cb"))
        // round 18: pinned once — the arm totals, the prefix pass, and the
        // argmax each re-derived the orders scan + per-value aggregate as
        // separate actions before (3 corpus passes for one ~|values| table)
        .localCheckpoint()
      val tot = broadcast(perVal.agg(sum("ca").as("na"), sum("cb").as("nb")))
      // both arm prefixes share the ONE total order, so they ride a single
      // range exchange + pass pair (round 18: the nested withRunningSum
      // calls re-range-partitioned already-ordered data and recomputed the
      // inner appender under the outer's two passes)
      val run = graft.operators.GlobalRank.withRunningSums(
        perVal, Seq(col("cents").asc),
        Seq(col("ca") -> "ra", col("cb") -> "rb"))
      val scored = run.crossJoin(tot)
        .select(col("cents"), col("na"), col("nb"),
          abs(col("ra") * col("nb") - col("rb") * col("na")).as("diff"))
      val dStat = col("mx").cast("double") / (col("na") * col("nb")).cast("double")
      val dCrit = lit(1.358) *
        sqrt((col("na") + col("nb")).cast("double") / (col("na") * col("nb")).cast("double"))
      // argmax in ONE aggregation pass (round 18): max over (diff, −cents)
      // structs picks the max diff and, among its ties, the min cents —
      // exactly the old crossJoin(max) + filter + min(cents), minus a
      // second full pass and its exchange
      scored
        .agg(max(struct(col("diff"), (lit(0L) - col("cents")).as("_negc"))).as("_m"),
          max("na").as("na"), max("nb").as("nb"))
        .select(col("na"), col("nb"), col("_m.diff").as("mx"),
          (lit(0L) - col("_m._negc")).as("at_cents"))
        .select(col("na").as("n_early"), col("nb").as("n_late"),
          round(dStat, 6).as("d_stat"),
          round(col("at_cents").cast("double") / 100.0, 2).as("at_price"),
          round(dCrit, 6).as("d_crit_05"),
          (dStat > dCrit).as("drifted"))
    }),

    "q245_gini_segment" -> ((s, dir) => {
      // Exact Gini coefficient of customer revenue per market segment —
      // the revenue-concentration number behind every "whale" narrative:
      // G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over revenue sorted ascending
      // within the segment. Revenue is exact integer cents, the rank is
      // a segment-partitioned window (groups are bounded — the q228
      // posture, not a global order), and ties are rank-order-invariant
      // because equal x contributes x·Σi regardless of permutation; both
      // engines divide the same two LONGs once.
      val rev = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val seg = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .join(rev, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), coalesce(col("cents"), lit(0L)).as("cents"),
          col("c_custkey"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("cents").asc, col("c_custkey").asc)
      seg.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), sum("cents").as("sx"),
          sum(col("i") * col("cents")).as("six"))
        .select(col("c_mktsegment"), col("n_customers"),
          round(col("sx").cast("double") / 100.0, 2).as("revenue"),
          round((lit(2) * col("six") - (col("n_customers") + 1) * col("sx"))
              .cast("double")
            / (col("n_customers") * col("sx")).cast("double"), 6).as("gini"))
    }),

    "q246_mann_whitney" -> ((s, dir) => {
      // Mann–Whitney U rank-sum test with tie correction: do URGENT
      // orders draw from the same value distribution as the rest? Ranks
      // come from one exclusive prefix sum over the per-value arm counts
      // (GlobalRank.withRunningSum — values, never rows, cross the
      // second exchange); midranks are kept DOUBLED (2·mid = 2·prefix +
      // t + 1) so the rank sum and 2·U₁ stay exact LONGs, and the tie
      // term Σ(t³−t) for the variance is integer too. Only the final
      // z-score divides — mirrored op order, 6 dp.
      val o = t(s, dir, "orders").select(
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("a"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val perVal = o.groupBy("cents")
        .agg(sum("a").as("ca"), (count(lit(1)) - sum("a")).as("cb"))
        .select(col("cents"), col("ca"), col("cb"), (col("ca") + col("cb")).as("t"))
      val run = graft.operators.GlobalRank.withRunningSum(
          perVal, Seq(col("cents").asc), col("t"), "rt")
        .select(col("ca"), col("cb"), col("t"),
          // doubled midrank of the tie group ending at rt: 2·excl + t + 1
          (lit(2) * (col("rt") - col("t")) + col("t") + 1).as("mid2"))
      val agg = run.agg(sum("ca").as("n1"), sum("cb").as("n2"),
        sum(col("ca") * col("mid2")).as("r1x2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val n1d = col("n1").cast("double")
      val n2d = col("n2").cast("double")
      val nd = (col("n1") + col("n2")).cast("double")
      // 2U₁ = 2R₁ − n₁(n₁+1); z = (U₁ − n₁n₂/2) / σ with the tie-corrected
      // σ² = (n₁n₂/12)·((n+1) − Σ(t³−t)/(n(n−1)))
      val u1x2 = col("r1x2") - col("n1") * (col("n1") + 1)
      val sigma = sqrt(n1d * n2d / 12.0 *
        (nd + 1.0 - col("ties").cast("double") / (nd * (nd - 1.0))))
      val z = (u1x2.cast("double") / 2.0 - n1d * n2d / 2.0) / sigma
      agg.select(col("n1").as("n_urgent"), col("n2").as("n_other"),
        u1x2.as("u1_x2"),
        round(z, 6).as("z_score"),
        (abs(z) > 1.96).as("significant_05"))
    }),

    "q247_dow_seasonality" -> ((s, dir) => {
      // Day-of-week seasonality index per event type: share of the
      // type's volume landing on each weekday vs the uniform 1/7 — the
      // staffing/cadence read and the pre-check before any day-grain
      // trend claim (q194) is trusted. Weekday = epoch-day mod 7
      // (engine-neutral integer arithmetic — Spark and DuckDB disagree
      // on dayofweek numbering), labels injected from one Scala map; the
      // index is cross-multiplied integer counts until the final
      // display division.
      val labels = typedLit(dowLabels)
      val ev = t(s, dir, "events").select(col("event_type"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))), lit(7))
          .cast("long").as("dw"))
      val cnt = ev.groupBy("event_type", "dw").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("event_type").agg(sum("c").as("n_type"))
      cnt.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dw"),
          element_at(labels, col("dw").cast("int") + 1).as("weekday"),
          col("c").as("n_events"),
          round((col("c") * 7).cast("double") / col("n_type"), 4)
            .as("seasonality_index"))
    }),

    "q248_zonemap_audit" -> ((s, dir) => {
      // Zone-map / data-layout effectiveness audit: for the canonical
      // "last 30 days" predicate on l_shipdate, how many simulated
      // 32-file zone maps (per-file min/max) can be SKIPPED under (a)
      // arrival order (files keyed by md5 of the order key — q218's
      // bucketing) vs (b) shipdate-sorted layout (GlobalRank ntile)?
      // This is THE number that justifies sort/Z-order at 100 TB: the
      // same scan prunes ~0% of arrival files and ~29/32 of sorted
      // ones. All counts integer; the skip test (file max < predicate
      // low bound) is exact day arithmetic.
      // pinned ONCE (round 18, guide §2.4): the arrival-order branch and
      // the shipdate-sorted ntile branch both consume `li`; unpinned,
      // each branch re-ran the lineitem scan + day projection
      val li = t(s, dir, "lineitem").select(
        datediff(col("l_shipdate"), to_date(lit("1970-01-01"))).cast("long").as("ed"),
        col("l_orderkey"), col("l_linenumber"))
        .localCheckpoint(true)
      val cutoff = broadcast(li.agg((max("ed") - 29).as("lo")))
      val arrival = li.select(col("ed"),
        (conv(substring(md5(col("l_orderkey").cast("string")), 1, 2), 16, 10)
          .cast("long") % 32).as("bucket"))
      val sorted = graft.operators.GlobalRank.withNtile(li, 32,
          Seq(col("ed").asc, col("l_orderkey").asc, col("l_linenumber").asc),
          "bucket")
        .select(col("ed"), col("bucket"))
      def audit(df: DataFrame, layout: String): DataFrame =
        df.groupBy("bucket")
          .agg(max("ed").as("mx"), count(lit(1)).as("rows"))
          .crossJoin(cutoff)
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("mx") < col("lo"), 1L).otherwise(0L)).as("files_skipped"),
            sum("rows").as("rows_total"),
            sum(when(col("mx") < col("lo"), col("rows")).otherwise(0L))
              .as("rows_skipped"))
          .select(lit(layout).as("layout"), col("n_files"), col("files_skipped"),
            col("rows_total"), col("rows_skipped"),
            round(col("rows_skipped").cast("double") / col("rows_total"), 4)
              .as("skip_fraction"))
      audit(arrival, "arrival").unionAll(audit(sorted, "shipdate_sorted"))
    }),

    "q249_km_survival" -> ((s, dir) => {
      // Kaplan–Meier survival curve of SESSION duration (q35's 30-min
      // sessionization), right-censored at the observation edge: a
      // session whose last event falls within 30 min of stream end may
      // still be open, so it contributes risk, not an event — dropping
      // it instead would bias the curve short (the classic truncation
      // mistake). Risk sets come from ONE exclusive prefix sum over
      // per-duration counts (GlobalRank — durations, not sessions,
      // cross the second exchange); the running product Π(1−dᵢ/nᵢ)
      // rides the SAME prefix-sum machinery as a sum of logs scaled to
      // exact LONGs (×1e9), so both engines accumulate identical
      // integers and exp() only at display. A terminal d=n group would
      // be ln(0): pinned to the shared −1e11 sentinel (S rounds to 0 at
      // 6 dp) in both engines.
      val w = Window.partitionBy("user_id").orderBy("e", "event_id")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("e"))
      val endT = broadcast(ev.agg(max("e").as("end_e")))
      val sess = ev
        .withColumn("_new", when(lag("e", 1).over(w).isNull ||
          col("e") - lag("e", 1).over(w) > 1800, 1L).otherwise(0L))
        .withColumn("sid", sum("_new").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid").agg(min("e").as("fst"), max("e").as("lst"))
        .crossJoin(endT)
        .select(expr("(lst - fst) div 60").as("dur"),
          when(col("end_e") - col("lst") >= 1800, 1L).otherwise(0L).as("ended"))
      val perDur = sess.groupBy("dur")
        .agg(sum("ended").as("d"), (count(lit(1)) - sum("ended")).as("c"))
      val tot = broadcast(perDur.agg(sum(col("d") + col("c")).as("n_sessions")))
      val run = graft.operators.GlobalRank.withRunningSum(
          perDur, Seq(col("dur").asc), col("d") + col("c"), "rt")
        .crossJoin(tot)
        .select(col("dur"), col("d"), col("c"),
          (col("n_sessions") - (col("rt") - col("d") - col("c"))).as("n_risk"))
      val term = run.select(col("dur"), col("d"), col("c"), col("n_risk"),
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") / col("n_risk")) * 1e9))
          .otherwise(lit(-1.0e11)).cast("long").as("lns"))
      graft.operators.GlobalRank.withRunningSum(
          term, Seq(col("dur").asc), col("lns"), "lsum")
        .select(col("dur").as("duration_min"), col("n_risk").as("n_at_risk"),
          col("d").as("n_ended"), col("c").as("n_censored"),
          round(exp(col("lsum").cast("double") / 1e9), 6).as("survival"))
    }),

    "q255_psi_drift" -> ((s, dir) => {
      // Population Stability Index between the order-value distributions
      // of the stream's two epoch halves — the credit-risk industry's
      // drift gate (PSI < 0.1 stable, > 0.25 retrain), complementing
      // q244's KS: PSI weights ALL bins, KS only the worst point. Bins
      // are the REFERENCE half's deciles, found as exact cents cut
      // points from one prefix sum over per-value counts (rank·10 ≥
      // i·n₁, all integer — no interpolated percentile); both halves'
      // bin counts are +1-smoothed so an empty comparison bin stays
      // finite, and only the per-bin ln at display is float.
      val o = t(s, dir, "orders").select(
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long").as("ed"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val cut = broadcast(o.agg(min("ed").as("lo"), max("ed").as("hi"))
        .select(expr("(lo + hi) div 2").as("cut")))
      val armed = o.crossJoin(cut)
        .select(col("cents"), when(col("ed") <= col("cut"), 1L).otherwise(0L).as("a"))
      val perVal = armed.groupBy("cents")
        .agg(sum("a").as("ca"), (count(lit(1)) - sum("a")).as("cb"))
        .localCheckpoint() // feeds the decile scan AND the bin assignment
      val n1 = broadcast(perVal.agg(sum("ca").as("n1"), sum("cb").as("n2")))
      val run = graft.operators.GlobalRank.withRunningSum(
        perVal, Seq(col("cents").asc), col("ca"), "ra")
      // decile cut points of the reference half: smallest cents with
      // 10·rank >= i·n1, i = 1..9
      val cuts = run.crossJoin(n1)
        .crossJoin(broadcast(s.range(1, 10).select(col("id").as("i"))))
        .where(col("ra") * 10 >= col("i") * col("n1"))
        .groupBy("i").agg(min("cents").as("cutv"))
      // Round 18 (guide §2.4): the ≤10-row bin table is pinned — its two
      // consumers (the display rows and the PSI-total aggregate) otherwise
      // each re-ran the whole upstream chain including the GlobalRank
      // prefix pass and the decile scan (RDD-boundary subtrees are opaque
      // to ReuseExchange, so the duplicate was a full recompute).
      val binned = perVal.crossJoin(broadcast(cuts))
        .groupBy("cents", "ca", "cb")
        .agg(sum(when(col("cents") >= col("cutv"), 1L).otherwise(0L)).as("bin"))
        .groupBy("bin").agg(sum("ca").as("ra"), sum("cb").as("rb"))
        .crossJoin(n1)
        .localCheckpoint(true)
      val pa = (col("ra") + 1).cast("double") / (col("n1") + 10).cast("double")
      val pb = (col("rb") + 1).cast("double") / (col("n2") + 10).cast("double")
      val contrib = (pb - pa) * log(pb / pa)
      val rows = binned.select(col("bin"), col("ra").as("n_ref"),
        col("rb").as("n_cmp"), round(pa, 6).as("p_ref"), round(pb, 6).as("p_cmp"),
        round(contrib, 6).as("psi_contrib"))
      rows.crossJoin(broadcast(
          binned.agg(sum(contrib).as("_psi"))))
        .select(col("bin"), col("n_ref"), col("n_cmp"), col("p_ref"),
          col("p_cmp"), col("psi_contrib"), round(col("_psi"), 6).as("psi_total"))
    }),

    "q268_overdispersion" -> ((s, dir) => {
      // Poisson overdispersion screen per event type: the variance-to-
      // mean ratio of DAILY volumes (VMR ≈ 1 under a Poisson arrival
      // model; ≫ 1 means bursty/campaign-driven traffic whose "average
      // day" is a fiction). Day-grain counts, then one moment aggregate
      // per type — S1, S2 exact LONGs; mean/variance/VMR and the
      // (days−1)·VMR dispersion statistic divide only at display.
      val d = t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("ed"))
        .groupBy("event_type", "ed").agg(count(lit(1)).as("n"))
      d.groupBy("event_type")
        .agg(count(lit(1)).as("days"), sum("n").as("s1"),
          sum(col("n") * col("n")).as("s2"))
        .select(col("event_type"), col("days"), col("s1"), col("s2"),
          round(col("s1").cast("double") / col("days"), 4).as("daily_mean"),
          round((col("s2") - col("s1").cast("double") * col("s1") / col("days"))
            / (col("days") - 1), 4).as("daily_var"),
          round(((col("s2") - col("s1").cast("double") * col("s1") / col("days"))
            / (col("days") - 1)) / (col("s1").cast("double") / col("days")), 4)
            .as("vmr"))
    }),

    "q269_mase_backtest" -> ((s, dir) => {
      // Forecast-skill backtest per event type: seasonal-naive (value 7
      // days ago) scored against the naive (yesterday) scale — MASE =
      // MAE₇/MAE₁ (Hyndman & Koehler 2006). Day-grain counts once,
      // then two equi-joins at lag 1 and lag 7 — never a window over
      // the raw stream; absolute errors sum as exact LONGs, the two
      // MAEs and their ratio divide at display. MASE < 1 = weekly
      // seasonality carries real signal for that type.
      val d = t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("ed"))
        .groupBy("event_type", "ed").agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val l1 = d.as("a").join(
          d.select(col("event_type"), (col("ed") + 1).as("ed"),
            col("n").as("n1")).as("b"), Seq("event_type", "ed"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("days_1"),
          sum(abs(col("n") - col("n1"))).as("abs_err_1"))
      val l7 = d.as("a").join(
          d.select(col("event_type"), (col("ed") + 7).as("ed"),
            col("n").as("n7")).as("b"), Seq("event_type", "ed"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("days_7"),
          sum(abs(col("n") - col("n7"))).as("abs_err_7"))
      l1.join(l7, Seq("event_type"))
        .select(col("event_type"), col("days_1"), col("days_7"),
          col("abs_err_1"), col("abs_err_7"),
          round(col("abs_err_1").cast("double") / col("days_1"), 4).as("mae_naive"),
          round(col("abs_err_7").cast("double") / col("days_7"), 4).as("mae_seasonal"),
          round((col("abs_err_7").cast("double") / col("days_7"))
            / (col("abs_err_1").cast("double") / col("days_1")), 4).as("mase"))
    }),

    "q272_brier_decomposition" -> ((s, dir) => {
      // Murphy decomposition of the Brier score for the q133 quality
      // filter: BS = REL − RES + UNC, exact because the decomposition
      // runs at the UNIQUE-forecast grain (≤ 10⁴+1 values — the
      // log-odds weight mapped to a probability by a fixed linear
      // clamp, kept in integer ten-thousandths). BS itself is computed
      // from three exact LONG moments (Σn·f², Σs·f, Σy) — no float sum
      // over the corpus at all; REL/RES are bounded-table doubles.
      // Tells you WHY a score filters badly: miscalibration (REL) vs
      // no discrimination (RES ≈ 0).
      val posSources = (0 to 4).map(i => s"src$i")
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("source").isin(posSources: _*))
      val lab = scored.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(
          least(greatest(
            expr("(CAST(round(quality_w * 10000) AS BIGINT) + 10000) div 2"),
            lit(0L)), lit(10000L)).as("fu"),
          when(col("source").isin(posSources: _*), 1L).otherwise(0L).as("y"))
      val fg = lab.groupBy("fu")
        .agg(count(lit(1)).as("n_k"), sum("y").as("s_k"))
        .localCheckpoint() // unique-forecast grain: moments + both re-aggs
      val tot = broadcast(fg.agg(sum("n_k").as("nn"), sum("s_k").as("ss"),
        sum(col("n_k") * col("fu") * col("fu")).as("m2"),
        sum(col("s_k") * col("fu")).as("m1")))
      fg.crossJoin(tot)
        .groupBy(col("nn"), col("ss"), col("m2"), col("m1"))
        .agg(
          sum(col("n_k") *
            pow(col("fu") / 10000.0 - col("s_k").cast("double") / col("n_k"), 2))
            .as("rel_sum"),
          sum(col("n_k") *
            pow(col("s_k").cast("double") / col("n_k")
              - col("ss").cast("double") / col("nn"), 2)).as("res_sum"))
        .withColumn("reliability", round(col("rel_sum") / col("nn"), 6))
        .withColumn("resolution", round(col("res_sum") / col("nn"), 6))
        .select(col("nn").as("n_docs"),
          round(col("ss").cast("double") / col("nn"), 4).as("pos_rate"),
          round((col("m2") - col("m1") * 20000L
            + col("ss") * 100000000L).cast("double")
            / (col("nn").cast("double") * 100000000L), 6).as("brier"),
          col("reliability"), col("resolution"),
          round((col("ss").cast("double") / col("nn"))
            * (lit(1.0) - col("ss").cast("double") / col("nn")), 6)
            .as("uncertainty"))
    }),

    "q275_median_ci" -> ((s, dir) => {
      // Distribution-free 95% CI for the MEDIAN daily volume per event
      // type, from binomial order statistics (rank l = ⌊(n−1.96√n)/2⌋,
      // u = ⌈1+(n+1.96√n)/2⌉ — no normality assumption on the values,
      // only on the rank of the median). Day-grain counts once; ranks
      // via a bounded per-type window (≤ |days| rows per partition);
      // the three order statistics fall out of one conditional
      // aggregate. The honest summary for a bursty series where a bare
      // median invites overconfidence.
      val d = t(s, dir, "events")
        .select(col("event_type"),
          datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("ed"))
        .groupBy("event_type", "ed").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy(col("n").asc, col("ed").asc)
      val ranked = d.withColumn("rn", row_number().over(w).cast("long"))
        .localCheckpoint() // rank pass feeds the cuts and the pick
      val cuts = ranked.groupBy("event_type").agg(count(lit(1)).as("days"))
        .select(col("event_type"), col("days"),
          greatest(floor((col("days") - lit(1.96) * sqrt(col("days"))) / 2)
            .cast("long"), lit(1L)).as("rank_lo"),
          least(ceil(lit(1.0) +
            (col("days") + lit(1.96) * sqrt(col("days"))) / 2).cast("long"),
            col("days")).as("rank_hi"),
          ceil(col("days").cast("double") / 2).cast("long").as("rank_med"))
      ranked.join(broadcast(cuts), "event_type")
        .groupBy(col("event_type"), col("days"),
          col("rank_lo"), col("rank_hi"))
        .agg(max(when(col("rn") === col("rank_med"), col("n")))
            .as("median_daily"),
          max(when(col("rn") === col("rank_lo"), col("n"))).as("ci_lo"),
          max(when(col("rn") === col("rank_hi"), col("n"))).as("ci_hi"))
    }),

    "q277_seasonal_decompose" -> ((s, dir) => {
      // Classical additive decomposition of the daily event series:
      // trend = 7-day centered moving sum (kept as an exact LONG at ×7
      // scale — the division to a mean happens only at display),
      // seasonal = per-weekday mean of the ×7 detrended series
      // (uncentered), residual = the rest. Day-grain counts once; the
      // centered window is a ±3-day self-join of the tiny day table
      // gated on ALL 7 neighbors present (edge days drop out, never
      // fabricate a half-window trend); weekday labels ride q247's
      // shared epoch-day-mod-7 list. The monitoring view that separates
      // "weekends are slow" from "something broke".
      val dd = t(s, dir, "events")
        .select(datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
          .cast("long").as("ed"))
        .groupBy("ed").agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // both self-join sides + the DOW agg read it
      val trend = dd.as("a")
        .join(dd.select(col("ed").as("_bed"), col("cnt").as("_bc")).as("b"),
          col("_bed") >= col("ed") - 3 && col("_bed") <= col("ed") + 3)
        .groupBy(col("ed"), col("cnt"))
        .agg(count(lit(1)).as("_nw"), sum("_bc").as("trend7"))
        .where(col("_nw") === 7)
        .localCheckpoint() // the DOW means and the per-day output share it
      val dowLbl = dowLabels.zipWithIndex
        .map { case (l, i) => (i.toLong, l) }
      val sp = s
      import sp.implicits._
      val lbl = broadcast(dowLbl.toDF("dow_i", "dow"))
      val seas = trend
        .select((col("ed") % 7).as("dow_i"),
          (col("cnt") * 7 - col("trend7")).as("detr7"))
        .groupBy("dow_i")
        .agg(sum("detr7").as("s_num"), count(lit(1)).as("s_den"))
      trend.select((col("ed") % 7).as("dow_i"), col("ed"), col("cnt"),
          col("trend7"))
        .join(broadcast(seas), Seq("dow_i"))
        .join(lbl, Seq("dow_i"))
        .select(col("ed"), col("dow"), col("cnt"),
          round(col("trend7").cast("double") / 7.0, 4).as("trend"),
          round(col("s_num").cast("double") / (col("s_den") * 7), 4)
            .as("seasonal"),
          round(col("cnt").cast("double") - col("trend7").cast("double") / 7.0
            - col("s_num").cast("double") / (col("s_den") * 7), 4)
            .as("residual"))
    }),

    "q280_discount_elasticity" -> ((s, dir) => {
      // Per-brand discount→quantity response: OLS slope and Pearson r
      // of quantity on discount points, all six moments exact LONGs
      // from ONE scan-side aggregate (x = discount in integer percent,
      // y = integer quantity; at extreme per-brand row counts the n·Σxy
      // cross-products want DECIMAL(38) or mean-centered streaming
      // moments — at any per-group n below ~10⁹ the LONG forms are
      // exact). The merchandising question behind every promo budget:
      // which brands actually move when discounted?
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_discount") * 100).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
      li.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("p_brand"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r"))
    }),

    "q284_eb_shrinkage" -> ((s, dir) => {
      // Empirical-Bayes shrinkage of per-brand return rates (beta-
      // binomial, method-of-moments prior): small brands get pulled
      // toward the pooled mean in proportion to their evidence — the
      // ranking discipline that stops a 3-line brand with one return
      // from topping the "worst quality" report. Counts are exact
      // LONGs; per-brand rates are 1e6-scaled to exact LONGs (the q296
      // mean_e4 trick) BEFORE the moment sums, so partial-aggregation
      // order can't perturb the prior — both engines then derive
      // identical (m, v) from identical integers through the same
      // IEEE division sequence. r6² ≤ 1e12 × 25 brands keeps the
      // square-sum far from LONG overflow.
      val br = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
        .localCheckpoint() // prior moments re-agg the bounded brand table
      val prior = broadcast(br
        .select(floor(col("k") * lit(1000000L) / col("n"))
          .cast("long").as("r6"))
        .agg(count(lit(1)).as("b"), sum("r6").as("sr6"),
          sum(col("r6") * col("r6")).as("srr6"))
        .select(
          (col("sr6").cast("double") / col("b") / lit(1e6)).as("m"),
          ((col("srr6").cast("double")
            - col("sr6").cast("double") * col("sr6") / col("b"))
            / (col("b") - 1) / lit(1e12)).as("v")))
      br.crossJoin(prior)
        .withColumn("ab", col("m") * (lit(1.0) - col("m")) / col("v") - 1.0)
        .select(col("p_brand"), col("n"), col("k"),
          round(col("k").cast("double") / col("n"), 6).as("raw_rate"),
          round((col("k") + col("m") * col("ab"))
            / (col("n") + col("ab")), 6).as("shrunk_rate"))
    }),

    "q287_simpson_audit" -> ((s, dir) => {
      // Simpson's-paradox screen on the q280 discount→quantity fit:
      // for each brand, the GLOBAL OLS slope vs the per-customer-
      // segment slopes — a sign flip between the aggregate and the
      // (majority of) strata is the reversal that invalidates the
      // naive "discounts work/don't work" read. All moments exact
      // LONGs at (brand, segment) grain; the global fit re-aggregates
      // the SAME moment table (moments are additive), so the stream is
      // scanned once.
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        // customer joins UNHINTED: a real customer dim exceeds any
        // broadcast threshold; AQE still broadcasts while it measures small
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("p_brand"), col("segment"),
          round(col("l_discount") * 100).cast("long").as("x"),
          col("l_quantity").cast("long").as("y"))
      val seg = li.groupBy("p_brand", "segment")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .localCheckpoint() // the global fit re-aggs these additive moments
      def slope(n: Column, sx: Column, sy: Column, sxy: Column,
          sxx: Column): Column =
        (n * sxy - sx * sy).cast("double") / (n * sxx - sx * sx)
      val segFit = seg.select(col("p_brand"),
        when(slope(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx")) > 0, 1L).otherwise(0L).as("pos"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_segments"), sum("pos").as("n_seg_positive"))
      val glob = seg.groupBy("p_brand")
        .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
          sum("sxy").as("sxy"), sum("sxx").as("sxx"))
        .select(col("p_brand"),
          round(slope(col("n"), col("sx"), col("sy"), col("sxy"),
            col("sxx")), 6).as("global_slope"))
      glob.join(segFit, Seq("p_brand"))
        .select(col("p_brand"), col("global_slope"), col("n_segments"),
          col("n_seg_positive"),
          ((col("global_slope") > 0 &&
            col("n_seg_positive") * 2 < col("n_segments")) ||
           (col("global_slope") < 0 &&
            col("n_seg_positive") * 2 > col("n_segments")))
            .as("simpson_flag"))
    }),

    "q289_direct_adjustment" -> ((s, dir) => {
      // Observational effect estimation by direct adjustment (stratified
      // standardization): the naive discounted-vs-not quantity gap vs
      // the stratum-weighted gap within (brand, segment) cells that
      // have BOTH arms — the difference IS the confounding the naive
      // read silently absorbs. One stream scan to exact per-(stratum,
      // arm) LONG sums; everything downstream re-aggregates that
      // bounded cell table. The causal-inference sanity check behind
      // any "discounts increase volume by X" claim.
      val cells = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("p_brand"), col("segment"),
          (col("l_discount") > 0).as("treated"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sq"))
        .localCheckpoint() // naive + strata + weights all re-agg it
      val naive = cells.groupBy("treated")
        .agg(sum("n").as("n"), sum("sq").as("sq"))
      val nT = naive.where(col("treated"))
        .select(col("n").as("n_treated"), col("sq").as("sq_t"))
      val nC = naive.where(!col("treated"))
        .select(col("n").as("n_control"), col("sq").as("sq_c"))
      val strata = cells.groupBy("p_brand", "segment")
        .agg(count(lit(1)).as("arms"),
          sum("n").as("n_s"),
          sum(when(col("treated"), col("sq"))).as("sq_ts"),
          sum(when(col("treated"), col("n"))).as("n_ts"),
          sum(when(!col("treated"), col("sq"))).as("sq_cs"),
          sum(when(!col("treated"), col("n"))).as("n_cs"))
        .where(col("arms") === 2)
      val adj = strata
        .select(col("n_s"),
          (col("n_s") * (col("sq_ts").cast("double") / col("n_ts")
            - col("sq_cs").cast("double") / col("n_cs"))).as("wdiff"))
        .agg(count(lit(1)).as("n_strata_used"), sum("n_s").as("w_tot"),
          sum("wdiff").as("wd"))
      adj.crossJoin(broadcast(nT)).crossJoin(broadcast(nC))
        .select(col("n_strata_used"), col("n_treated"), col("n_control"),
          round(col("sq_t").cast("double") / col("n_treated")
            - col("sq_c").cast("double") / col("n_control"), 4)
            .as("naive_effect"),
          round(col("wd") / col("w_tot"), 4).as("adjusted_effect"),
          round((col("sq_t").cast("double") / col("n_treated")
            - col("sq_c").cast("double") / col("n_control"))
            - col("wd") / col("w_tot"), 4).as("confounding_bias"))
    }),

    "q291_sprt_replay" -> ((s, dir) => {
      // Sequential probability ratio test replay (Wald 1945) on the
      // daily purchase rate: when would a sequential monitor have
      // stopped? The log-likelihood ratio accumulates as an EXACT LONG
      // (per-success/per-failure increments and the ±ln 19 boundaries
      // are ×10⁹-pinned shared constants — the q249 scaled-log trick),
      // so the crossing day is bit-determined, not float-lucky. Day
      // grain once; the cumulative rides a bounded triangular self-join
      // (prevCumByKey posture), zero partition-less windows.
      val d = t(s, dir, "events")
        .select(datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
            .cast("long").as("ed"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("k"))
        .groupBy("ed")
        .agg(count(lit(1)).as("n"), sum("k").as("k"))
        .withColumn("llr_day",
          col("k") * sprtL1 + (col("n") - col("k")) * sprtL2)
        .localCheckpoint() // the triangular cum + the final join share it
      val cum = d.join(prevCumByKey(
          d.select(col("ed"), col("llr_day")), "ed", "llr_day"), Seq("ed"))
        .withColumn("cum_llr", col("prev_cum") + col("llr_day"))
      cum.select(col("ed"), col("n"), col("k"),
        round(col("cum_llr").cast("double") / 1e9, 6).as("llr"),
        when(col("cum_llr") >= sprtBound, lit("accept_h1"))
          .when(col("cum_llr") <= -sprtBound, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
    }),

    "q292_price_index" -> ((s, dir) => {
      // Laspeyres / Paasche / Fisher price indices between the stream's
      // shipdate halves — the index-number layer over q257's epoch
      // split: per-part unit values (exact LONG cents and quantities)
      // for both epochs, index sums over the parts traded in BOTH (the
      // matched basket), Fisher as the geometric mean. The part-grain
      // table is bounded, so the double index sums round safely at
      // display; everything upstream is integer.
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("c"),
        col("l_quantity").cast("long").as("q"),
        datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
          .cast("long").as("ed"))
      val cut = broadcast(li.agg(min("ed").as("lo"), max("ed").as("hi"))
        .select(expr("(lo + hi) div 2").as("cut")))
      val pp = li.crossJoin(cut)
        .groupBy("l_partkey")
        .agg(sum(when(col("ed") <= col("cut"), col("c"))).as("v0"),
          sum(when(col("ed") <= col("cut"), col("q"))).as("q0"),
          sum(when(col("ed") > col("cut"), col("c"))).as("v1"),
          sum(when(col("ed") > col("cut"), col("q"))).as("q1"))
        .where(col("q0") > 0 && col("q1") > 0)
      // p_e = v_e/q_e; Laspeyres = Σ p1·q0 / Σ p0·q0, Paasche with q1
      pp.select(
          (col("v1").cast("double") / col("q1") * col("q0")).as("p1q0"),
          col("v0").cast("double").as("p0q0"), // v0 = p0·q0 exactly
          col("v1").cast("double").as("p1q1"), // v1 = p1·q1 exactly
          (col("v0").cast("double") / col("q0") * col("q1")).as("p0q1"))
        .agg(count(lit(1)).as("n_parts_both"),
          sum("p1q0").as("l_num"), sum("p0q0").as("l_den"),
          sum("p1q1").as("p_num"), sum("p0q1").as("p_den"))
        .select(col("n_parts_both"),
          round(col("l_num") / col("l_den"), 4).as("laspeyres"),
          round(col("p_num") / col("p_den"), 4).as("paasche"),
          round(sqrt((col("l_num") / col("l_den"))
            * (col("p_num") / col("p_den"))), 4).as("fisher"))
    }),

    "q294_experiment_sizing" -> ((s, dir) => {
      // Prospective A/B sizing from observed data: per event type, the
      // minimum detectable effect on the ENGAGED-user rate (≥ 15
      // events of the type — every user touches every type in this
      // stream, so bare reach saturates at 1.0) at α=0.05 / 80% power
      // if the CURRENT user base were split in two — the "is this
      // experiment even worth running" number. Counts are exact LONGs
      // from one (user, type) aggregate; z constants are shared
      // literals; only the final MDE formula is a double. MDE above
      // the effect you hope for ⇒ the test cannot conclude.
      val users = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_ev"))
        .localCheckpoint() // reach per type + the user total share it
      val totU = broadcast(users.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users")))
      users.where(col("n_ev") >= 15)
        .groupBy("event_type").agg(count(lit(1)).as("n_reached"))
        .crossJoin(totU)
        .select(col("event_type"), col("n_reached"), col("n_users"),
          round(col("n_reached").cast("double") / col("n_users"), 6)
            .as("reach_rate"),
          // (z_{0.975} + z_{0.8}) · sqrt(2·p(1−p)/(n/2))
          round(lit(1.959964 + 0.841621) *
            sqrt(lit(2.0) * (col("n_reached").cast("double") / col("n_users"))
              * (lit(1.0) - col("n_reached").cast("double") / col("n_users"))
              / (col("n_users").cast("double") / 2)), 6).as("mde_abs"))
    }),

    "q295_dose_response" -> ((s, dir) => {
      // Return-rate dose-response curve over discount points with
      // WILSON score intervals (Brown, Cai & DasGupta 2001 — the
      // interval that stays sane at extreme rates and small cells,
      // unlike the Wald ±z√(p(1−p)/n) taught everywhere): one exact
      // integer aggregate to the 11-point discount grid, the interval
      // formula the only doubles. The pricing question behind q280's
      // slope: WHERE on the discount scale does the response move?
      val g = t(s, dir, "lineitem")
        .groupBy(round(col("l_discount") * 100).cast("long").as("discount_pct"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
      val z2 = 1.959964 * 1.959964
      val p = col("k").cast("double") / col("n")
      val center = (p + lit(z2) / (col("n") * 2)) /
        (lit(1.0) + lit(z2) / col("n"))
      val half = (lit(1.959964) *
        sqrt(p * (lit(1.0) - p) / col("n")
          + lit(z2) / (col("n").cast("double") * col("n") * 4))) /
        (lit(1.0) + lit(z2) / col("n"))
      g.select(col("discount_pct"), col("n"), col("k"),
        round(p, 6).as("return_rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
    }),

    "q299_forecast_revenue" -> ((s, dir) => {
      // TPC-H Q6-shaped forecast-revenue delta: the revenue increase
      // from ELIMINATING discounts in a band (qty < 24, discount
      // 0.05–0.07, a one-year shipdate window anchored at the data's
      // max) = Σ extendedprice·discount over the filtered lines — one
      // scan whose predicates all reach the parquet reader, exact
      // cents via per-line rounding.
      val li = t(s, dir, "lineitem")
        .select(col("l_shipdate"), col("l_quantity"), col("l_discount"),
          round(col("l_extendedprice") * col("l_discount") * 100)
            .cast("long").as("dc"),
          datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
            .cast("long").as("ed"))
      val mx = broadcast(li.agg(max("ed").as("mx")))
      li.crossJoin(mx)
        .where(col("ed") > col("mx") - 365 &&
          col("l_quantity") < 24 &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07)
        .agg(count(lit(1)).as("n_lines"),
          round(sum("dc").cast("double") / 100.0, 2).as("forecast_delta"))
    }),

    "q92_heavy_hitters_grouped" -> ((s, dir) => {
      // per-language frequent tokens: the MG-summary Aggregator riding an
      // ordinary groupBy (map-side partial merge), exact pass on the
      // broadcast candidate union
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("item"))
        .where(col("item") =!= "")
      graft.operators.HeavyHitters.topFrequentByGroup(
          toks, col("lang"), col("item"), k = 40)
        .withColumnRenamed("grp", "lang")
    }),

    "q91_scalable_percentile" -> ((s, dir) => {
      // the 100 TB path for q37's exact percentiles: rank-based dataflow
      // (operators.Percentiles) instead of Spark's percentile aggregate,
      // whose buffer holds an entire group's values on one task
      graft.operators.Percentiles.exactByGroup(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_totalprice"),
          Seq(0.25, 0.5, 0.75, 0.99), Seq("p25", "p50", "p75", "p99"))
        .select(col("group").as("o_orderpriority"),
          round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
          round(col("p75"), 4).as("p75"), round(col("p99"), 4).as("p99"))
    }),

    "q85_heavy_hitters" -> ((s, dir) => {
      // exact frequent items via the two-pass Misra-Gries dataflow
      // (operators.HeavyHitters): a bounded mergeable summary finds the
      // candidate superset without shuffling the long tail; pass 2 exact-
      // counts only the candidates. Deterministic -> oracle = naive HAVING.
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("item"))
        .where(col("item") =!= "")
      graft.operators.HeavyHitters.topFrequent(toks, col("item"), k = 50)
    }),

    "q309_sla_order_stats" -> ((s, dir) => {
      // Order-to-ship SLA per priority as ORDER STATISTICS (p50/p90 = the
      // value at rank ⌈q·n⌉ — integers end to end, no interpolation to
      // float-drift): the corpus reduces to the bounded (priority, lag)
      // count table in one pass; cumulative ranks come from a triangular
      // join on that ~priorities×|lag| table, never a corpus window.
      // Rank cuts are integer-exact: r50 = (n+1)//2, r90 = (9n+9)//10.
      val d = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("sd"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
            col("o_orderdate").cast("date").as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("priority"), datediff(col("sd"), col("od")).cast("long").as("lag"))
      val g = d.groupBy("priority", "lag").agg(count(lit(1)).as("cnt"))
        .cache() // bounded (~priorities x |lag| rows); three consumers
      val cum = g.as("a")
        .join(g.select(col("priority"), col("lag").as("_l2"),
          col("cnt").as("_c2")).as("b"), Seq("priority"))
        .where(col("_l2") <= col("lag"))
        .groupBy("priority", "lag").agg(sum("_c2").as("cum"))
      val tot = g.groupBy("priority").agg(sum("cnt").as("n"))
      val ranked = cum.join(broadcast(tot), "priority")
      def orderStat(r: org.apache.spark.sql.Column) =
        min(when(col("cum") >= r, col("lag")))
      ranked.groupBy("priority")
        .agg(first("n").as("n_lines"),
          // cast truncates the double division -> floor for positives,
          // matching the twin's integer // (r50 = (n+1)//2 = ceil(n/2))
          orderStat(((col("n") + 1) / 2).cast("long")).as("p50_days"),
          orderStat(((col("n") * 9 + 9) / 10).cast("long")).as("p90_days"))
    }),

    "q313_hill_tail" -> ((s, dir) => {
      // Hill tail-index estimate of the token frequency distribution
      // (Zipf exponent from the top of the tail): the k=100 head set is
      // cut under the total order (freq DESC, token ASC); the reference
      // frequency is max(freq) OUTSIDE the head (tie-free, order-free);
      // each log-ratio is ×10⁶-pinned to a LONG before summing so
      // partial-agg order can't flip a bit (the q249 scaled-log trick).
      // One corpus pass; everything after is vocab-bounded.
      val freq = t(s, dir, "documents")
        .select(explode(split(lower(TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("f"))
        .localCheckpoint() // head cut + outside-max re-read it
      val head = freq.orderBy(col("f").desc, col("tok").asc).limit(100)
        .localCheckpoint() // bounded 100 rows; two consumers
      val ref = freq.join(head.select(col("tok")), Seq("tok"), "left_anti")
        .agg(max("f").as("ref"))
      head.crossJoin(broadcast(ref))
        .select((round(log(col("f").cast("double") / col("ref")) * 1e6))
          .cast("long").as("t6"))
        .agg(count(lit(1)).as("k"), sum("t6").as("hill_sum_e6"))
        .select(col("k"), col("hill_sum_e6"),
          when(col("hill_sum_e6") > 0,
            round(col("k").cast("double") * 1e6 / col("hill_sum_e6"), 4))
            .as("alpha"))
    }),

    "q317_customer_lorenz" -> ((s, dir) => {
      // Customer-revenue Lorenz curve at deciles (the LTV-concentration
      // counterpart of q188's event concentration): decile assignment is
      // GlobalRank.withNtile's range exchange — ntile(10) semantics, no
      // single-partition window; cumulative share via the triangular
      // suffix-sum on the 10-row decile table. Exact cents everywhere.
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("o_custkey").agg(sum("cents").as("c"))
      val dec = graft.operators.GlobalRank.withNtile(
        rev, 10, Seq(col("c").asc, col("o_custkey").asc), "decile")
      val byDec = dec.groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum("c").as("_c"))
      val cum = byDec.select(col("decile").as("_d2"), col("_c").as("_c2"))
        .join(byDec.select(col("decile")), col("_d2") <= col("decile"))
        .groupBy("decile").agg(sum("_c2").as("_cum"))
      byDec.join(cum, "decile")
        .crossJoin(broadcast(byDec.agg(sum("_c").as("_t"))))
        .select(col("decile"), col("n_customers"),
          round(col("_c").cast("double") / 100.0, 2).as("revenue"),
          round(col("_cum").cast("double") / col("_t"), 4).as("cum_share"))
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q309_sla_order_stats" ->
        """WITH d AS (SELECT o.o_orderpriority AS priority,
          |   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
          |     CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag
          |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
          |g AS (SELECT priority, lag, CAST(count(*) AS BIGINT) AS cnt
          |  FROM d GROUP BY 1, 2),
          |c AS (SELECT priority, lag,
          |   CAST(sum(cnt) OVER (PARTITION BY priority ORDER BY lag
          |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |   CAST(sum(cnt) OVER (PARTITION BY priority) AS BIGINT) AS n
          |  FROM g)
          |SELECT priority, CAST(min(n) AS BIGINT) AS n_lines,
          | CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lag END) AS BIGINT)
          |   AS p50_days,
          | CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lag END) AS BIGINT)
          |   AS p90_days
          |FROM c GROUP BY 1""".stripMargin,

      "q313_hill_tail" ->
        s"""WITH tok AS (SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |  FROM documents),
           |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM tok
           |  WHERE tok <> '' GROUP BY 1),
           |head AS (SELECT tok, f FROM f
           |  QUALIFY row_number() OVER (ORDER BY f DESC, tok ASC) <= 100),
           |r AS (SELECT CAST(max(f) AS BIGINT) AS ref FROM f
           |  WHERE tok NOT IN (SELECT tok FROM head)),
           |t AS (SELECT CAST(round(ln(CAST(head.f AS DOUBLE) / r.ref) * 1e6)
           |   AS BIGINT) AS t6 FROM head, r)
           |SELECT CAST(count(*) AS BIGINT) AS k,
           | CAST(sum(t6) AS BIGINT) AS hill_sum_e6,
           | CASE WHEN sum(t6) > 0
           |  THEN round(count(*) * 1e6 / sum(t6), 4) END AS alpha
           |FROM t""".stripMargin,

      "q317_customer_lorenz" ->
        """WITH rev AS (SELECT o_custkey,
          |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |     AS c FROM orders GROUP BY 1),
          |d AS (SELECT c, CAST(ntile(10) OVER (ORDER BY c, o_custkey)
          |   AS BIGINT) AS decile FROM rev),
          |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
          |   CAST(sum(c) AS BIGINT) AS c FROM d GROUP BY 1),
          |t AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM g)
          |SELECT g.decile, g.n_customers,
          | round(CAST(g.c AS DOUBLE) / 100.0, 2) AS revenue,
          | round(CAST(sum(g.c) OVER (ORDER BY g.decile
          |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.tt, 4) AS cum_share
          |FROM g, t""".stripMargin,
      "q37_percentile" ->
        """SELECT o_orderpriority,
          | round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
          | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
          | round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
          | round(quantile_cont(o_totalprice, 0.99), 4) AS p99
          |FROM orders GROUP BY o_orderpriority""".stripMargin,

      // Verdict-row oracle: DuckDB runs ITS OWN sketches (HLL,
      // approx_quantile's t-digest) against its own exact answers and
      // reports the same within-5% booleans — sketch values themselves are
      // engine-specific and never compared.
      "q39_sketches" ->
        """SELECT event_type,
          | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
          | abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
          |   <= count(DISTINCT user_id) * 0.15 AS users_within_15pct,
          | abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
          |   <= abs(quantile_cont(value, 0.5)) * 0.05 AS p50_within_5pct,
          | count(*) AS n
          |FROM events GROUP BY event_type""".stripMargin,

      "q50_stats_agg" ->
        """SELECT l_returnflag, count(*) AS n,
          | round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
          | round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
          | round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_pop_qp,
          | round(stddev_samp(l_extendedprice), 2) AS sd_price,
          | round(var_samp(l_quantity), 4) AS var_qty,
          | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
          | round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
          | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
          |FROM lineitem GROUP BY l_returnflag""".stripMargin,

      "q54_histogram" ->
        """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
          | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price,
          | round(min(o_totalprice), 2) AS min_price,
          | round(max(o_totalprice), 2) AS max_price
          |FROM orders GROUP BY 1""".stripMargin,

      "q74_zscore" ->
        """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
          |  FROM events GROUP BY 1)
          |SELECT event_id, e.event_type AS event_type,
          | round((e.value - mu) / sd, 4) AS z
          |FROM events e JOIN s USING (event_type)
          |WHERE abs((e.value - mu) / sd) > 2.5""".stripMargin,

      "q137_decayed_trend" ->
        """WITH e AS (SELECT event_type, epoch_us(ts::TIMESTAMP) AS us FROM events),
          |m AS (SELECT max(us) AS mx FROM e)
          |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
          | round(sum(exp((us - mx) / 604800000000.0)), 4) AS decayed,
          | round(sum(exp((us - mx) / 604800000000.0)) / count(*), 6) AS recency_ratio
          |FROM e, m GROUP BY event_type""".stripMargin,

      "q145_calibration" ->
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |l AS (SELECT q.doc_id, q.quality_w,
           |   CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
           |        THEN 1 ELSE 0 END AS y
           |  FROM q JOIN documents d USING (doc_id)),
           |r AS (SELECT doc_id, quality_w, y,
           |   CAST(row_number() OVER (ORDER BY quality_w ASC, doc_id ASC) AS BIGINT) AS rn
           |  FROM l),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l)
           |SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS decile,
           | CAST(count(*) AS BIGINT) AS n_docs,
           | round(avg(quality_w), 4) + 0.0 AS mean_w,
           | round(avg(CAST(y AS DOUBLE)), 4) AS pos_rate
           |FROM r, t GROUP BY 1""".stripMargin,

      "q148_cms_freq" -> {
        // 2-nibble positional hex decode (the hexNum13 pattern at width 2)
        def bkt2(h: String): String =
          s"((strpos('0123456789abcdef', substring($h, 1, 1)) - 1) * 16" +
            s" + (strpos('0123456789abcdef', substring($h, 2, 1)) - 1))"
        val hq = "md5(CAST(j AS VARCHAR) || ':' || tok)"
        s"""WITH tok0 AS (SELECT unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok
           |  FROM documents),
           |tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           |  FROM tok0 WHERE tok <> '' GROUP BY tok),
           |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tc),
           |js AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS j),
           |cells AS (SELECT j, CAST(${bkt2(hq)} AS BIGINT) AS bkt,
           |   CAST(sum(cnt) AS BIGINT) AS c
           |  FROM tc, js GROUP BY 1, 2),
           |top AS (SELECT tok, cnt,
           |   row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rn
           |  FROM tc QUALIFY rn <= 20),
           |qt AS (SELECT tok, cnt AS true_cnt, j, CAST(${bkt2(hq)} AS BIGINT) AS bkt
           |  FROM top, js),
           |est AS (SELECT qt.tok, qt.true_cnt, min(c.c) AS cms_est
           |  FROM qt JOIN cells c USING (j, bkt) GROUP BY 1, 2)
           |SELECT tok, true_cnt, CAST(cms_est AS BIGINT) AS cms_est,
           | CAST(cms_est - true_cnt AS BIGINT) AS overest,
           | CAST(cms_est - true_cnt AS DOUBLE) <= exp(1.0) / 256 * nn.n AS within_bound
           |FROM est, nn""".stripMargin
      },

      "q152_dist_drift" ->
        s"""WITH tk AS (SELECT source, (doc_id % 10 = 0) AS is_batch,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok FROM documents),
           |c AS (SELECT source, tok,
           |   CAST(sum(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS cb,
           |   CAST(sum(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS cc
           |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
           |t AS (SELECT source, CAST(sum(cb) AS BIGINT) AS nb,
           |   CAST(sum(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS v
           |  FROM c GROUP BY source),
           |p AS (SELECT c.source, t.nb, t.nc, t.v,
           |   CAST(cb + 1 AS DOUBLE) / (nb + v) AS p,
           |   CAST(cc + 1 AS DOUBLE) / (nc + v) AS q
           |  FROM c JOIN t USING (source))
           |SELECT source, max(v) AS vocab, max(nb) AS n_batch_toks,
           | max(nc) AS n_corpus_toks,
           | round(sum(p * ln(p / q)), 6) AS kl,
           | round(sum(p * ln(p / q)), 6) > 0.02 AS drifted
           |FROM p GROUP BY source""".stripMargin,

      "q156_threshold_tune" ->
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |l AS (SELECT CAST(round(q.quality_w * 10000) AS BIGINT) AS w4,
           |   CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
           |        THEN 1 ELSE 0 END AS y
           |  FROM q JOIN documents d USING (doc_id)),
           |b AS (SELECT CASE WHEN w4 < -10000 THEN CAST(-1 AS BIGINT)
           |         ELSE least((w4 + 10000) // 1000, 20) END AS bin,
           |   CAST(count(*) AS BIGINT) AS nd, CAST(sum(y) AS BIGINT) AS np
           |  FROM l GROUP BY 1),
           |t AS (SELECT CAST(sum(nd) AS BIGINT) AS td,
           |   CAST(sum(np) AS BIGINT) AS tpos FROM b),
           |i AS (SELECT CAST(unnest(range(0, 21)) AS BIGINT) AS ti),
           |sw AS (SELECT ti, CAST(coalesce(sum(b.nd), 0) AS BIGINT) AS kept,
           |   CAST(coalesce(sum(b.np), 0) AS BIGINT) AS tp
           |  FROM i LEFT JOIN b ON b.bin >= i.ti GROUP BY ti),
           |m AS (SELECT sw.ti, sw.kept, sw.tp, sw.kept - sw.tp AS fp,
           |   t.tpos - sw.tp AS fn,
           |   CASE WHEN sw.kept = 0 THEN 0.0
           |        ELSE CAST(sw.tp AS DOUBLE) / sw.kept END AS prec0,
           |   CAST(sw.tp AS DOUBLE) / t.tpos AS rec0
           |  FROM sw, t),
           |f AS (SELECT *, CASE WHEN tp = 0 THEN 0.0
           |   ELSE 2.0 * prec0 * rec0 / (prec0 + rec0) END AS f10 FROM m),
           |bf AS (SELECT max(f10) AS bf FROM f)
           |SELECT (ti * 1000 - 10000) / 10000.0 AS threshold, kept, tp, fp, fn,
           | round(prec0, 6) AS prec, round(rec0, 6) AS recall,
           | round(f10, 6) AS f1, f10 = bf.bf AS is_best
           |FROM f, bf""".stripMargin,

      "q167_bootstrap_ci" -> {
        val gopher = TextAnalysis.gopherRulesOracleSql(
          "documents", "doc_id", s"string_split(lower(${cleanSql("text")}), ' ')")
        // 13-nibble positional hex decode of the replica hash (hexNum13
        // pattern on an inline expression)
        val hx = "md5(CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))"
        val dec = (1 to 13).map(i =>
          s"(strpos('0123456789abcdef', substring($hx, $i, 1)) - 1) * ${1L << (4 * (13 - i))}")
          .mkString("(", " + ", ")")
        s"""WITH g AS (
           |$gopher
           |),
           |l AS (SELECT g.doc_id, d.source,
           |   CASE WHEN g.passes THEN 1.0 ELSE 0.0 END AS y
           |  FROM g JOIN documents d USING (doc_id)),
           |bs AS (SELECT CAST(unnest(range(0, 32)) AS BIGINT) AS b),
           |e AS (SELECT l.source, bs.b, l.y,
           |   CAST($dec AS DOUBLE) / 4503599627370496.0 AS u
           |  FROM l, bs),
           |wgt AS (SELECT source, b, y,
           |   CASE WHEN u < 0.36787944117144233 THEN 0.0
           |        WHEN u < 0.7357588823428847 THEN 1.0
           |        WHEN u < 0.9196986029286058 THEN 2.0
           |        WHEN u < 0.9810118431238462 THEN 3.0
           |        WHEN u < 0.9963401531726563 THEN 4.0
           |        WHEN u < 0.9994058151824183 THEN 5.0
           |        WHEN u < 0.9999167588507119 THEN 6.0
           |        ELSE 7.0 END AS w
           |  FROM e),
           |boot AS (SELECT source, b,
           |   CASE WHEN sum(w) > 0 THEN sum(w * y) / sum(w) END AS rate_b
           |  FROM wgt GROUP BY source, b),
           |ci AS (SELECT source, round(avg(rate_b), 6) AS boot_mean,
           |   round(stddev_samp(rate_b), 6) AS boot_sd,
           |   CAST(count(rate_b) AS BIGINT) AS n_eff_replicas
           |  FROM boot GROUP BY source),
           |pt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |   round(avg(y), 6) AS pass_rate FROM l GROUP BY source)
           |SELECT pt.source, pt.n_docs, pt.pass_rate, ci.boot_mean, ci.boot_sd,
           | round(ci.boot_sd * 1.96, 6) AS ci95_halfwidth, ci.n_eff_replicas
           |FROM pt JOIN ci USING (source)""".stripMargin
      },

      "q178_length_chisq" ->
        """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
          |r AS (SELECT source,
          |   CAST(row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rn
          |  FROM d),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
          |b AS (SELECT source, (rn - 1) * 10 // n AS bin, n FROM r, t),
          |cont AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS obs,
          |   CAST(max(n) AS BIGINT) AS n FROM b GROUP BY 1, 2),
          |bt AS (SELECT bin, CAST(sum(obs) AS BIGINT) AS bin_total FROM cont GROUP BY bin),
          |st AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_docs FROM cont GROUP BY source),
          |e AS (SELECT cont.source, st.n_docs,
          |   obs - st.n_docs * CAST(bt.bin_total AS DOUBLE) / cont.n AS d,
          |   st.n_docs * CAST(bt.bin_total AS DOUBLE) / cont.n AS e
          |  FROM cont JOIN bt USING (bin) JOIN st USING (source))
          |SELECT source, n_docs, round(sum(d * d / e), 4) AS chi2,
          | round(sum(d * d / e), 4) > 21.666 AS drifted
          |FROM e GROUP BY 1, 2""".stripMargin,

      "q189_length_tail_index" ->
        """WITH r AS (SELECT doc_id, n_chars,
          |   row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
          |  FROM documents),
          |nk AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |   CAST(count(*) * 5 // 100 AS BIGINT) AS k FROM documents),
          |thr AS (SELECT n_chars AS x_k1 FROM r, nk WHERE r.rk = nk.k + 1)
          |SELECT nk.n AS n_docs, nk.k, thr.x_k1,
          | round(avg(ln(CAST(r.n_chars AS DOUBLE) / thr.x_k1)), 4) AS hill_h,
          | round(1.0 / avg(ln(CAST(r.n_chars AS DOUBLE) / thr.x_k1)), 4)
          |   AS tail_alpha
          |FROM r, nk, thr WHERE r.rk <= nk.k
          |GROUP BY nk.n, nk.k, thr.x_k1""".stripMargin,

      "q195_changepoint" ->
        """WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
          |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS c
          |  FROM ev GROUP BY day),
          |b AS (SELECT min(day) AS d0, CAST(count(*) AS BIGINT) AS total,
          |   CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS nd
          |  FROM ev),
          |s AS (SELECT b.nd, b.total, CAST(i.i AS BIGINT) AS i,
          |   b.d0 + CAST(i.i - 1 AS INT) AS day
          |  FROM b, (SELECT unnest(range(1, (SELECT nd FROM b) + 1)) AS i) i),
          |f AS (SELECT s.nd, s.total, s.i, s.day, coalesce(daily.c, 0)
          |   AS n_events FROM s LEFT JOIN daily USING (day)),
          |r AS (SELECT *, CAST(sum(n_events) OVER (ORDER BY day
          |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rt FROM f),
          |n AS (SELECT day, n_events, nd, nd * rt - i * total AS ncusum FROM r),
          |p AS (SELECT max(abs(ncusum)) AS peak FROM n)
          |SELECT n.day, n.n_events,
          | round(CAST(n.ncusum AS DOUBLE) / n.nd, 4) AS cusum,
          | (abs(n.ncusum) = p.peak) AS is_peak
          |FROM n, p""".stripMargin,

      "q210_pareto_revenue" ->
        """WITH rev AS (SELECT o_custkey,
          |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |     AS cents
          |  FROM orders GROUP BY o_custkey),
          |c AS (SELECT cents, sum(cents) OVER (ORDER BY cents DESC, o_custkey
          |   ROWS UNBOUNDED PRECEDING) AS cum FROM rev),
          |t AS (SELECT CAST(max(cum) AS BIGINT) AS total,
          |   CAST(count(*) AS BIGINT) AS n_customers FROM c)
          |SELECT t.n_customers,
          | CAST(sum(CASE WHEN (c.cum - c.cents) * 5 < t.total * 4
          |   THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
          | round(CAST(sum(CASE WHEN (c.cum - c.cents) * 5 < t.total * 4
          |   THEN 1 ELSE 0 END) AS DOUBLE) / t.n_customers, 4)
          |   AS share_of_customers
          |FROM c, t GROUP BY t.n_customers""".stripMargin,

      "q212_volume_correlation" ->
        """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
          |daily AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS c
          |  FROM ev GROUP BY 1, 2),
          |b AS (SELECT min(day) AS d0,
          |   CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS nd
          |  FROM ev),
          |days AS (SELECT b.nd, b.d0 + CAST(x.x AS INT) AS day
          |  FROM b, (SELECT unnest(range(0, (SELECT nd FROM b))) AS x) x),
          |sc AS (SELECT t.event_type, d.nd, d.day
          |  FROM days d CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
          |s AS (SELECT sc.event_type, sc.nd, sc.day, coalesce(daily.c, 0) AS y
          |  FROM sc LEFT JOIN daily
          |    ON daily.event_type = sc.event_type AND daily.day = sc.day),
          |j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
          |   a.nd, a.y AS x, b.y AS y
          |  FROM s a JOIN s b ON a.day = b.day AND a.event_type < b.event_type),
          |agg AS (SELECT type_a, type_b, nd,
          |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |   CAST(sum(x * y) AS BIGINT) AS sxy,
          |   CAST(sum(x * x) AS BIGINT) AS sxx,
          |   CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM j GROUP BY 1, 2, 3)
          |SELECT type_a, type_b, nd AS n_days,
          | CASE WHEN sqrt(CAST(nd * sxx - sx * sx AS DOUBLE)) *
          |        sqrt(CAST(nd * syy - sy * sy AS DOUBLE)) > 0
          |      THEN round(CAST(nd * sxy - sx * sy AS DOUBLE) /
          |        (sqrt(CAST(nd * sxx - sx * sx AS DOUBLE)) *
          |         sqrt(CAST(nd * syy - sy * sy AS DOUBLE))), 6) END
          |   AS pearson_r
          |FROM agg""".stripMargin,

      "q214_supplier_hhi" ->
        """WITH rev AS (SELECT l_suppkey,
          |   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          |     AS cents
          |  FROM lineitem GROUP BY l_suppkey)
          |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_suppliers,
          | round(CAST(sum(rev.cents) AS DOUBLE) / 100.0, 2) AS revenue,
          | round(sum(CAST(rev.cents AS DOUBLE) * rev.cents) /
          |   (CAST(sum(rev.cents) AS DOUBLE) * sum(rev.cents)), 6) AS hhi
          |FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
          |JOIN nation n ON n.n_nationkey = s.s_nationkey
          |GROUP BY n.n_name""".stripMargin,

      "q218_shuffle_skew" ->
        """WITH r AS (SELECT l_orderkey,
          |   ((strpos('0123456789abcdef',
          |       substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          |    + (strpos('0123456789abcdef',
          |       substring(md5(CAST(l_orderkey AS VARCHAR)), 2, 1)) - 1)) % 32
          |     AS bucket
          |  FROM lineitem),
          |pk AS (SELECT bucket, l_orderkey, CAST(count(*) AS BIGINT) AS c
          |  FROM r GROUP BY 1, 2),
          |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_keys,
          |   CAST(sum(c) AS BIGINT) AS n_rows,
          |   CAST(max(c) AS BIGINT) AS max_key_rows
          |  FROM pk GROUP BY bucket),
          |tt AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM pb)
          |SELECT pb.bucket, pb.n_keys, pb.n_rows, pb.max_key_rows,
          | round(CAST(pb.n_rows AS DOUBLE) * 32 / tt.tot, 4) AS load_factor
          |FROM pb, tt""".stripMargin,

      "q224_median_of_means" ->
        """WITH ev AS (SELECT value,
          |   substring(md5(CAST(event_id AS VARCHAR)), 1, 1) AS b
          |  FROM events),
          |bm AS (SELECT b, round(avg(value), 6) AS m FROM ev GROUP BY b),
          |mom AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
          |   round(quantile_cont(m, 0.5), 4) AS mom_mean FROM bm),
          |pl AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
          |   round(avg(value), 4) AS plain_mean FROM ev)
          |SELECT pl.n_events, mom.n_buckets, pl.plain_mean, mom.mom_mean
          |FROM pl, mom""".stripMargin,

      "q227_cuped" ->
        """WITH ev AS (SELECT user_id,
          |   CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
          |b AS (SELECT CAST(floor((min(e) + max(e)) / 2) AS BIGINT) AS mid
          |  FROM ev),
          |pu AS (SELECT user_id,
          |   CAST(sum(CASE WHEN e < b.mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
          |   CAST(sum(CASE WHEN e >= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS y,
          |   CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) IN
          |     ('0','1','2','3','4','5','6','7') THEN 'A' ELSE 'B' END AS arm
          |  FROM ev, b GROUP BY user_id),
          |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |   CAST(sum(x * y) AS BIGINT) AS sxy,
          |   CAST(sum(x * x) AS BIGINT) AS sxx,
          |   CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM pu GROUP BY arm),
          |pool AS (SELECT CAST((sum(n) * sum(sxy) - sum(sx) * sum(sy))
          |     AS DOUBLE) /
          |   CAST(sum(n) * sum(sxx) - sum(sx) * sum(sx) AS DOUBLE) AS theta
          |  FROM arms),
          |t AS (SELECT arm, n, sy,
          |   CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
          |     AS var_y,
          |   CAST(n * sxy - sx * sy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
          |     AS cov_xy,
          |   CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
          |     AS var_x
          |  FROM arms)
          |SELECT arm, n AS n_users,
          | round(CAST(sy AS DOUBLE) / n, 4) AS mean_post,
          | round(var_y, 4) AS var_post,
          | round(var_y - 2 * p.theta * cov_xy
          |   + p.theta * p.theta * var_x, 4) AS var_cuped,
          | round(1 - (var_y - 2 * p.theta * cov_xy
          |   + p.theta * p.theta * var_x) / var_y, 4) AS var_reduction,
          | round(p.theta, 6) AS theta
          |FROM t, pool p""".stripMargin,

      "q230_benford" -> {
        val caseExpr = benfordShares.map { case (d, p) =>
          s"WHEN $d THEN $p" }.mkString("CASE digit ", " ", " END")
        s"""WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice
           |     * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
           |  FROM orders),
           |dg AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders
           |  FROM d GROUP BY digit),
           |be AS (SELECT digit, n_orders, $caseExpr AS benford_share
           |  FROM dg),
           |tt AS (SELECT CAST(sum(n_orders) AS BIGINT) AS tot FROM be),
           |ch AS (SELECT sum((n_orders - tt.tot * benford_share) *
           |    (n_orders - tt.tot * benford_share) /
           |    (tt.tot * benford_share)) AS chi2
           |  FROM be, tt)
           |SELECT be.digit, be.n_orders,
           | round(CAST(be.n_orders AS DOUBLE) / tt.tot, 4) AS obs_share,
           | be.benford_share,
           | round(ch.chi2, 4) AS chi2_total
           |FROM be, tt, ch""".stripMargin
      },

      "q235_price_dispersion" ->
        """WITH u AS (SELECT l_partkey, l_suppkey,
          |   CAST(round(l_extendedprice * 100 / l_quantity) AS BIGINT)
          |     AS uc
          |  FROM lineitem),
          |ps AS (SELECT l_partkey, l_suppkey,
          |   CAST(sum(uc) AS DOUBLE) / count(*) AS mean_uc
          |  FROM u GROUP BY 1, 2),
          |pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_suppliers,
          |   min(mean_uc) AS lo, max(mean_uc) AS hi
          |  FROM ps GROUP BY 1 HAVING count(*) >= 2),
          |r AS (SELECT l_partkey, n_suppliers,
          |   round(lo / 100.0, 2) AS min_unit_price,
          |   round(hi / 100.0, 2) AS max_unit_price,
          |   (hi - lo) / lo AS rel,
          |   CAST(row_number() OVER (ORDER BY (hi - lo) / lo DESC,
          |     l_partkey ASC) AS BIGINT) AS rank
          |  FROM pp)
          |SELECT rank, l_partkey, n_suppliers, min_unit_price,
          | max_unit_price, round(rel, 4) AS rel_spread
          |FROM r WHERE rank <= 20""".stripMargin,

      "q239_ewma_anomaly" -> {
        val vals = ewmaWeights.map { case (j, w) => s"($j, $w)" }.mkString(", ")
        s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
           |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS c
           |  FROM ev GROUP BY day),
           |b AS (SELECT min(day) AS d0,
           |   CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS nd
           |  FROM ev),
           |s AS (SELECT CAST(i.i AS BIGINT) AS i, b.d0 + CAST(i.i - 1 AS INT) AS day
           |  FROM b, (SELECT unnest(range(1, (SELECT nd FROM b) + 1)) AS i) i),
           |f AS (SELECT s.i, s.day, coalesce(daily.c, 0) AS n_events
           |  FROM s LEFT JOIN daily USING (day)),
           |w(j, wt) AS (VALUES $vals),
           |p AS (SELECT f.i + w.j AS i, CAST(w.wt AS BIGINT) AS wt,
           |   CAST(w.wt AS BIGINT) * f.n_events AS wy FROM f, w),
           |base AS (SELECT i, CAST(sum(wt) AS BIGINT) AS denom,
           |   CAST(sum(wy) AS BIGINT) AS numer FROM p GROUP BY i)
           |SELECT f.day, f.n_events,
           | round(CAST(numer AS DOUBLE) / denom, 4) AS ewma,
           | CASE WHEN numer > 0 THEN
           |   round(CAST(f.n_events * denom AS DOUBLE) / numer, 4) END AS ratio,
           | (f.n_events * denom > numer * 2) AS is_spike
           |FROM f JOIN base USING (i)""".stripMargin
      },

      "q244_ks_drift" ->
        """WITH o AS (SELECT
          |   CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
          |     AS ed,
          |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          |b AS (SELECT (min(ed) + max(ed)) // 2 AS cut FROM o),
          |pv AS (SELECT cents,
          |   CAST(sum(CASE WHEN ed <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          |   CAST(count(*) - sum(CASE WHEN ed <= b.cut THEN 1 ELSE 0 END)
          |     AS BIGINT) AS cb
          |  FROM o, b GROUP BY cents),
          |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
          |   CAST(sum(cb) AS BIGINT) AS nb FROM pv),
          |r AS (SELECT cents,
          |   CAST(sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
          |     AS BIGINT) AS ra,
          |   CAST(sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
          |     AS BIGINT) AS rb FROM pv),
          |sc AS (SELECT cents, t.na, t.nb,
          |   abs(ra * t.nb - rb * t.na) AS diff FROM r, t),
          |p AS (SELECT max(diff) AS mx FROM sc),
          |g AS (SELECT sc.na, sc.nb, p.mx, min(sc.cents) AS at_cents
          |  FROM sc, p WHERE sc.diff = p.mx GROUP BY 1, 2, 3)
          |SELECT na AS n_early, nb AS n_late,
          | round(CAST(mx AS DOUBLE) / CAST(na * nb AS DOUBLE), 6) AS d_stat,
          | round(CAST(at_cents AS DOUBLE) / 100.0, 2) AS at_price,
          | round(1.358 * sqrt(CAST(na + nb AS DOUBLE)
          |   / CAST(na * nb AS DOUBLE)), 6) AS d_crit_05,
          | (CAST(mx AS DOUBLE) / CAST(na * nb AS DOUBLE) >
          |  1.358 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na * nb AS DOUBLE)))
          |   AS drifted
          |FROM g""".stripMargin,

      "q245_gini_segment" ->
        """WITH rev AS (SELECT o_custkey,
          |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |     AS cents FROM orders GROUP BY o_custkey),
          |seg AS (SELECT c.c_mktsegment, coalesce(rev.cents, 0) AS cents,
          |   c.c_custkey
          |  FROM customer c LEFT JOIN rev ON c.c_custkey = rev.o_custkey),
          |rk AS (SELECT c_mktsegment, cents,
          |   CAST(row_number() OVER (PARTITION BY c_mktsegment
          |     ORDER BY cents, c_custkey) AS BIGINT) AS i FROM seg),
          |a AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
          |   CAST(sum(cents) AS BIGINT) AS sx,
          |   CAST(sum(i * cents) AS BIGINT) AS six
          |  FROM rk GROUP BY c_mktsegment)
          |SELECT c_mktsegment, n_customers,
          | round(CAST(sx AS DOUBLE) / 100.0, 2) AS revenue,
          | round(CAST(2 * six - (n_customers + 1) * sx AS DOUBLE)
          |   / CAST(n_customers * sx AS DOUBLE), 6) AS gini
          |FROM a""".stripMargin,

      "q246_mann_whitney" ->
        """WITH o AS (SELECT
          |   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
          |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          |pv AS (SELECT cents, CAST(sum(a) AS BIGINT) AS ca,
          |   CAST(count(*) - sum(a) AS BIGINT) AS cb,
          |   CAST(count(*) AS BIGINT) AS t
          |  FROM o GROUP BY cents),
          |r AS (SELECT ca, cb, t,
          |   2 * (CAST(sum(t) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
          |     AS BIGINT) - t) + t + 1 AS mid2 FROM pv),
          |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
          |   CAST(sum(cb) AS BIGINT) AS n2,
          |   CAST(sum(ca * mid2) AS BIGINT) AS r1x2,
          |   CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM r)
          |SELECT n1 AS n_urgent, n2 AS n_other,
          | r1x2 - n1 * (n1 + 1) AS u1_x2,
          | round((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
          |     - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
          |   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
          |     * (CAST(n1 + n2 AS DOUBLE) + 1.0 - CAST(ties AS DOUBLE)
          |       / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))),
          |   6) AS z_score,
          | (abs((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
          |     - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
          |   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
          |     * (CAST(n1 + n2 AS DOUBLE) + 1.0 - CAST(ties AS DOUBLE)
          |       / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))))
          |   > 1.96) AS significant_05
          |FROM agg""".stripMargin,

      "q247_dow_seasonality" -> {
        val labelCase = dowLabels.zipWithIndex
          .map { case (l, i) => s"WHEN $i THEN '$l'" }.mkString(" ")
        s"""WITH ev AS (SELECT event_type,
           |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
           |     AS BIGINT) % 7 AS dw FROM events),
           |c AS (SELECT event_type, dw, CAST(count(*) AS BIGINT) AS c
           |  FROM ev GROUP BY 1, 2),
           |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_type
           |  FROM c GROUP BY event_type)
           |SELECT c.event_type, c.dw, CASE c.dw $labelCase END AS weekday,
           | c.c AS n_events,
           | round(CAST(c.c * 7 AS DOUBLE) / t.n_type, 4) AS seasonality_index
           |FROM c JOIN t ON c.event_type = t.event_type""".stripMargin
      },

      "q248_zonemap_audit" ->
        """WITH li AS (SELECT
          |   CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
          |     AS ed, l_orderkey, l_linenumber FROM lineitem),
          |co AS (SELECT max(ed) - 29 AS lo FROM li),
          |arr AS (SELECT ed,
          |   ((strpos('0123456789abcdef',
          |       substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          |    + (strpos('0123456789abcdef',
          |       substring(md5(CAST(l_orderkey AS VARCHAR)), 2, 1)) - 1)) % 32
          |     AS bucket FROM li),
          |srt AS (SELECT ed, CAST(ntile(32) OVER (ORDER BY ed, l_orderkey,
          |   l_linenumber) AS BIGINT) AS bucket FROM li),
          |fa AS (SELECT bucket, max(ed) AS mx, CAST(count(*) AS BIGINT) AS rows_
          |  FROM arr GROUP BY bucket),
          |fs AS (SELECT bucket, max(ed) AS mx, CAST(count(*) AS BIGINT) AS rows_
          |  FROM srt GROUP BY bucket),
          |aa AS (SELECT 'arrival' AS layout, CAST(count(*) AS BIGINT) AS n_files,
          |   CAST(sum(CASE WHEN mx < co.lo THEN 1 ELSE 0 END) AS BIGINT)
          |     AS files_skipped,
          |   CAST(sum(rows_) AS BIGINT) AS rows_total,
          |   CAST(sum(CASE WHEN mx < co.lo THEN rows_ ELSE 0 END) AS BIGINT)
          |     AS rows_skipped
          |  FROM fa, co),
          |ss AS (SELECT 'shipdate_sorted' AS layout,
          |   CAST(count(*) AS BIGINT) AS n_files,
          |   CAST(sum(CASE WHEN mx < co.lo THEN 1 ELSE 0 END) AS BIGINT)
          |     AS files_skipped,
          |   CAST(sum(rows_) AS BIGINT) AS rows_total,
          |   CAST(sum(CASE WHEN mx < co.lo THEN rows_ ELSE 0 END) AS BIGINT)
          |     AS rows_skipped
          |  FROM fs, co)
          |SELECT layout, n_files, files_skipped, rows_total, rows_skipped,
          | round(CAST(rows_skipped AS DOUBLE) / rows_total, 4) AS skip_fraction
          |FROM (SELECT * FROM aa UNION ALL SELECT * FROM ss)""".stripMargin,

      "q249_km_survival" ->
        """WITH ev AS (SELECT user_id, event_id,
          |   CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
          |et AS (SELECT max(e) AS end_e FROM ev),
          |g AS (SELECT user_id, event_id, e,
          |   CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
          |     THEN 1 ELSE 0 END AS new_s
          |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
          |sg AS (SELECT user_id, e,
          |   CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY e, event_id
          |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM g),
          |sx AS (SELECT (max(e) - min(e)) // 60 AS dur,
          |   CASE WHEN (SELECT end_e FROM et) - max(e) >= 1800
          |     THEN 1 ELSE 0 END AS ended
          |  FROM sg GROUP BY user_id, sid),
          |pd AS (SELECT dur, CAST(sum(ended) AS BIGINT) AS d,
          |   CAST(count(*) - sum(ended) AS BIGINT) AS c
          |  FROM sx GROUP BY dur),
          |n AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_sessions FROM pd),
          |r AS (SELECT dur, d, c,
          |   n.n_sessions - (CAST(sum(d + c) OVER (ORDER BY dur
          |     ROWS UNBOUNDED PRECEDING) AS BIGINT) - d - c) AS n_risk
          |  FROM pd, n),
          |tm AS (SELECT dur, d, c, n_risk,
          |   CASE WHEN d < n_risk THEN CAST(round(
          |     ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e9) AS BIGINT)
          |    ELSE CAST(-1e11 AS BIGINT) END AS lns FROM r),
          |ls AS (SELECT dur, d, c, n_risk,
          |   CAST(sum(lns) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
          |     AS BIGINT) AS lsum FROM tm)
          |SELECT dur AS duration_min, n_risk AS n_at_risk, d AS n_ended,
          | c AS n_censored, round(exp(CAST(lsum AS DOUBLE) / 1e9), 6)
          |   AS survival
          |FROM ls""".stripMargin,

      "q255_psi_drift" ->
        """WITH o AS (SELECT
          |   CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
          |     AS ed,
          |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          |b AS (SELECT (min(ed) + max(ed)) // 2 AS cut FROM o),
          |pv AS (SELECT cents,
          |   CAST(sum(CASE WHEN ed <= b.cut THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          |   CAST(count(*) - sum(CASE WHEN ed <= b.cut THEN 1 ELSE 0 END)
          |     AS BIGINT) AS cb
          |  FROM o, b GROUP BY cents),
          |n AS (SELECT CAST(sum(ca) AS BIGINT) AS n1,
          |   CAST(sum(cb) AS BIGINT) AS n2 FROM pv),
          |r AS (SELECT cents,
          |   CAST(sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
          |     AS BIGINT) AS ra FROM pv),
          |cuts AS (SELECT i.i, min(r.cents) AS cutv
          |  FROM r, n, (SELECT unnest(range(1, 10)) AS i) i
          |  WHERE r.ra * 10 >= CAST(i.i AS BIGINT) * n.n1 GROUP BY i.i),
          |bv AS (SELECT pv.cents, pv.ca, pv.cb,
          |   CAST(sum(CASE WHEN pv.cents >= cuts.cutv THEN 1 ELSE 0 END)
          |     AS BIGINT) AS bin
          |  FROM pv, cuts GROUP BY 1, 2, 3),
          |bn AS (SELECT bin, CAST(sum(ca) AS BIGINT) AS ra,
          |   CAST(sum(cb) AS BIGINT) AS rb FROM bv GROUP BY bin),
          |sc AS (SELECT bin, ra, rb,
          |   CAST(ra + 1 AS DOUBLE) / CAST(n.n1 + 10 AS DOUBLE) AS pa,
          |   CAST(rb + 1 AS DOUBLE) / CAST(n.n2 + 10 AS DOUBLE) AS pb
          |  FROM bn, n),
          |tp AS (SELECT sum((pb - pa) * ln(pb / pa)) AS psi FROM sc)
          |SELECT sc.bin, sc.ra AS n_ref, sc.rb AS n_cmp,
          | round(sc.pa, 6) AS p_ref, round(sc.pb, 6) AS p_cmp,
          | round((sc.pb - sc.pa) * ln(sc.pb / sc.pa), 6) AS psi_contrib,
          | round(tp.psi, 6) AS psi_total
          |FROM sc, tp""".stripMargin,

      "q268_overdispersion" ->
        """WITH d AS (SELECT event_type,
          |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |     AS BIGINT) AS ed, CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS days,
          |   CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
          |  FROM d GROUP BY 1)
          |SELECT event_type, days, s1, s2,
          | round(CAST(s1 AS DOUBLE) / days, 4) AS daily_mean,
          | round((s2 - CAST(s1 AS DOUBLE) * s1 / days) / (days - 1), 4)
          |   AS daily_var,
          | round(((s2 - CAST(s1 AS DOUBLE) * s1 / days) / (days - 1))
          |   / (CAST(s1 AS DOUBLE) / days), 4) AS vmr
          |FROM m""".stripMargin,

      "q269_mase_backtest" ->
        """WITH d AS (SELECT event_type,
          |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |     AS BIGINT) AS ed, CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |l1 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS days_1,
          |   CAST(sum(abs(a.n - b.n)) AS BIGINT) AS abs_err_1
          |  FROM d a JOIN d b ON a.event_type = b.event_type
          |   AND b.ed = a.ed - 1 GROUP BY 1),
          |l7 AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS days_7,
          |   CAST(sum(abs(a.n - b.n)) AS BIGINT) AS abs_err_7
          |  FROM d a JOIN d b ON a.event_type = b.event_type
          |   AND b.ed = a.ed - 7 GROUP BY 1)
          |SELECT l1.event_type, l1.days_1, l7.days_7, l1.abs_err_1,
          | l7.abs_err_7,
          | round(CAST(l1.abs_err_1 AS DOUBLE) / l1.days_1, 4) AS mae_naive,
          | round(CAST(l7.abs_err_7 AS DOUBLE) / l7.days_7, 4) AS mae_seasonal,
          | round((CAST(l7.abs_err_7 AS DOUBLE) / l7.days_7)
          |   / (CAST(l1.abs_err_1 AS DOUBLE) / l1.days_1), 4) AS mase
          |FROM l1 JOIN l7 ON l1.event_type = l7.event_type""".stripMargin,

      "q272_brier_decomposition" ->
        s"""WITH q AS (
           |$nbQualitySql
           |),
           |l AS (SELECT least(greatest(
           |    (CAST(round(q.quality_w * 10000) AS BIGINT) + 10000) // 2,
           |    0), 10000) AS fu,
           |   CASE WHEN d.source IN ('src0','src1','src2','src3','src4')
           |        THEN 1 ELSE 0 END AS y
           |  FROM q JOIN documents d USING (doc_id)),
           |fg AS (SELECT fu, CAST(count(*) AS BIGINT) AS n_k,
           |   CAST(sum(y) AS BIGINT) AS s_k FROM l GROUP BY 1),
           |tot AS (SELECT CAST(sum(n_k) AS BIGINT) AS nn,
           |   CAST(sum(s_k) AS BIGINT) AS ss,
           |   CAST(sum(n_k * fu * fu) AS BIGINT) AS m2,
           |   CAST(sum(s_k * fu) AS BIGINT) AS m1 FROM fg),
           |parts AS (SELECT tot.nn, tot.ss, tot.m2, tot.m1,
           |   sum(fg.n_k * pow(fg.fu / 10000.0
           |     - CAST(fg.s_k AS DOUBLE) / fg.n_k, 2)) AS rel_sum,
           |   sum(fg.n_k * pow(CAST(fg.s_k AS DOUBLE) / fg.n_k
           |     - CAST(tot.ss AS DOUBLE) / tot.nn, 2)) AS res_sum
           |  FROM fg, tot GROUP BY 1, 2, 3, 4)
           |SELECT nn AS n_docs,
           | round(CAST(ss AS DOUBLE) / nn, 4) AS pos_rate,
           | round(CAST(m2 - m1 * 20000 + ss * 100000000 AS DOUBLE)
           |   / (CAST(nn AS DOUBLE) * 100000000), 6) AS brier,
           | round(rel_sum / nn, 6) AS reliability,
           | round(res_sum / nn, 6) AS resolution,
           | round((CAST(ss AS DOUBLE) / nn)
           |   * (1.0 - CAST(ss AS DOUBLE) / nn), 6) AS uncertainty
           |FROM parts""".stripMargin,

      "q275_median_ci" ->
        """WITH d AS (SELECT event_type,
          |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |     AS BIGINT) AS ed, CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, n,
          |   CAST(row_number() OVER (PARTITION BY event_type
          |     ORDER BY n ASC, ed ASC) AS BIGINT) AS rn FROM d),
          |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS days,
          |   greatest(CAST(floor((count(*) - 1.96 * sqrt(count(*))) / 2)
          |     AS BIGINT), 1) AS rank_lo,
          |   least(CAST(ceil(1.0 + (count(*) + 1.96 * sqrt(count(*))) / 2)
          |     AS BIGINT), CAST(count(*) AS BIGINT)) AS rank_hi,
          |   CAST(ceil(count(*) / 2.0) AS BIGINT) AS rank_med
          |  FROM d GROUP BY 1)
          |SELECT r.event_type, c.days, c.rank_lo, c.rank_hi,
          | CAST(max(CASE WHEN r.rn = c.rank_med THEN r.n END) AS BIGINT)
          |   AS median_daily,
          | CAST(max(CASE WHEN r.rn = c.rank_lo THEN r.n END) AS BIGINT)
          |   AS ci_lo,
          | CAST(max(CASE WHEN r.rn = c.rank_hi THEN r.n END) AS BIGINT)
          |   AS ci_hi
          |FROM r JOIN c ON r.event_type = c.event_type
          |GROUP BY 1, 2, 3, 4""".stripMargin,

      "q277_seasonal_decompose" -> {
        val dowCase = "CASE CAST(ed % 7 AS BIGINT) " + dowLabels.zipWithIndex
          .map { case (l, i) => s"WHEN $i THEN '$l' " }.mkString + "END"
        s"""WITH dd AS (SELECT
           |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
           |     AS BIGINT) AS ed, CAST(count(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1),
           |trend AS (SELECT a.ed, a.cnt,
           |   CAST(sum(b.cnt) AS BIGINT) AS trend7
           |  FROM dd a JOIN dd b ON b.ed BETWEEN a.ed - 3 AND a.ed + 3
           |  GROUP BY 1, 2 HAVING count(*) = 7),
           |seas AS (SELECT CAST(ed % 7 AS BIGINT) AS dow_i,
           |   CAST(sum(cnt * 7 - trend7) AS BIGINT) AS s_num,
           |   CAST(count(*) AS BIGINT) AS s_den
           |  FROM trend GROUP BY 1)
           |SELECT t.ed, $dowCase AS dow, t.cnt,
           | round(CAST(t.trend7 AS DOUBLE) / 7.0, 4) AS trend,
           | round(CAST(s.s_num AS DOUBLE) / (s.s_den * 7), 4) AS seasonal,
           | round(CAST(t.cnt AS DOUBLE) - CAST(t.trend7 AS DOUBLE) / 7.0
           |   - CAST(s.s_num AS DOUBLE) / (s.s_den * 7), 4) AS residual
           |FROM trend t JOIN seas s ON CAST(t.ed % 7 AS BIGINT) = s.dow_i"""
          .stripMargin
      },

      "q280_discount_elasticity" ->
        """WITH li AS (SELECT p.p_brand,
          |   CAST(round(l.l_discount * 100) AS BIGINT) AS x,
          |   CAST(l.l_quantity AS BIGINT) AS y
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
          |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |   CAST(sum(x * y) AS BIGINT) AS sxy,
          |   CAST(sum(x * x) AS BIGINT) AS sxx,
          |   CAST(sum(y * y) AS BIGINT) AS syy
          |  FROM li GROUP BY 1)
          |SELECT p_brand, n,
          | round(CAST(n * sxy - sx * sy AS DOUBLE)
          |   / (n * sxx - sx * sx), 6) AS slope,
          | round(CAST(n * sxy - sx * sy AS DOUBLE)
          |   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
          |     * (n * syy - sy * sy)), 4) AS r
          |FROM m""".stripMargin,

      "q284_eb_shrinkage" ->
        """WITH br AS (SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
          |     AS BIGINT) AS k
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |  GROUP BY 1),
          |pr AS (SELECT CAST(sr6 AS DOUBLE) / b / 1e6 AS m,
          |   (CAST(srr6 AS DOUBLE) - CAST(sr6 AS DOUBLE) * sr6 / b)
          |     / (b - 1) / 1e12 AS v FROM (
          |   SELECT count(*) AS b, CAST(sum(r6) AS BIGINT) AS sr6,
          |    CAST(sum(r6 * r6) AS BIGINT) AS srr6 FROM (
          |    SELECT CAST(floor(k * 1000000 / n) AS BIGINT) AS r6 FROM br)))
          |SELECT br.p_brand, br.n, br.k,
          | round(CAST(br.k AS DOUBLE) / br.n, 6) AS raw_rate,
          | round((br.k + pr.m * (pr.m * (1.0 - pr.m) / pr.v - 1.0))
          |   / (br.n + (pr.m * (1.0 - pr.m) / pr.v - 1.0)), 6)
          |   AS shrunk_rate
          |FROM br, pr""".stripMargin,

      "q287_simpson_audit" ->
        """WITH li AS (SELECT p.p_brand, c.c_mktsegment AS segment,
          |   CAST(round(l.l_discount * 100) AS BIGINT) AS x,
          |   CAST(l.l_quantity AS BIGINT) AS y
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |   JOIN orders o ON l.l_orderkey = o.o_orderkey
          |   JOIN customer c ON o.o_custkey = c.c_custkey),
          |seg AS (SELECT p_brand, segment, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |   CAST(sum(x * y) AS BIGINT) AS sxy,
          |   CAST(sum(x * x) AS BIGINT) AS sxx
          |  FROM li GROUP BY 1, 2),
          |sf AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_segments,
          |   CAST(sum(CASE WHEN CAST(n * sxy - sx * sy AS DOUBLE)
          |      / (n * sxx - sx * sx) > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |     AS n_seg_positive
          |  FROM seg GROUP BY 1),
          |gl AS (SELECT p_brand,
          |   round(CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS DOUBLE)
          |     / (sum(n) * sum(sxx) - sum(sx) * sum(sx)), 6)
          |     AS global_slope
          |  FROM seg GROUP BY 1)
          |SELECT gl.p_brand, gl.global_slope, sf.n_segments,
          | sf.n_seg_positive,
          | ((gl.global_slope > 0 AND sf.n_seg_positive * 2 < sf.n_segments)
          |  OR (gl.global_slope < 0
          |   AND sf.n_seg_positive * 2 > sf.n_segments)) AS simpson_flag
          |FROM gl JOIN sf ON gl.p_brand = sf.p_brand""".stripMargin,

      "q289_direct_adjustment" ->
        """WITH cells AS (SELECT p.p_brand, c.c_mktsegment AS segment,
          |   l.l_discount > 0 AS treated, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sq
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
          |   JOIN orders o ON l.l_orderkey = o.o_orderkey
          |   JOIN customer c ON o.o_custkey = c.c_custkey
          |  GROUP BY 1, 2, 3),
          |nt AS (SELECT CAST(sum(n) AS BIGINT) AS n_treated,
          |   CAST(sum(sq) AS BIGINT) AS sq_t FROM cells WHERE treated),
          |nc AS (SELECT CAST(sum(n) AS BIGINT) AS n_control,
          |   CAST(sum(sq) AS BIGINT) AS sq_c FROM cells WHERE NOT treated),
          |st AS (SELECT p_brand, segment, CAST(count(*) AS BIGINT) AS arms,
          |   CAST(sum(n) AS BIGINT) AS n_s,
          |   CAST(sum(CASE WHEN treated THEN sq END) AS BIGINT) AS sq_ts,
          |   CAST(sum(CASE WHEN treated THEN n END) AS BIGINT) AS n_ts,
          |   CAST(sum(CASE WHEN NOT treated THEN sq END) AS BIGINT)
          |     AS sq_cs,
          |   CAST(sum(CASE WHEN NOT treated THEN n END) AS BIGINT) AS n_cs
          |  FROM cells GROUP BY 1, 2 HAVING count(*) = 2),
          |adj AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
          |   CAST(sum(n_s) AS BIGINT) AS w_tot,
          |   sum(n_s * (CAST(sq_ts AS DOUBLE) / n_ts
          |     - CAST(sq_cs AS DOUBLE) / n_cs)) AS wd FROM st)
          |SELECT adj.n_strata_used, nt.n_treated, nc.n_control,
          | round(CAST(nt.sq_t AS DOUBLE) / nt.n_treated
          |   - CAST(nc.sq_c AS DOUBLE) / nc.n_control, 4) AS naive_effect,
          | round(adj.wd / adj.w_tot, 4) AS adjusted_effect,
          | round((CAST(nt.sq_t AS DOUBLE) / nt.n_treated
          |   - CAST(nc.sq_c AS DOUBLE) / nc.n_control)
          |   - adj.wd / adj.w_tot, 4) AS confounding_bias
          |FROM adj, nt, nc""".stripMargin,

      "q291_sprt_replay" ->
        s"""WITH d AS (SELECT
           |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
           |     AS BIGINT) AS ed, CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |     AS BIGINT) AS k
           |  FROM events GROUP BY 1),
           |l AS (SELECT ed, n, k,
           |   k * CAST($sprtL1 AS BIGINT)
           |    + (n - k) * CAST($sprtL2 AS BIGINT) AS llr_day FROM d),
           |c AS (SELECT ed, n, k,
           |   CAST(sum(llr_day) OVER (ORDER BY ed ROWS UNBOUNDED PRECEDING)
           |     AS BIGINT) AS cum_llr FROM l)
           |SELECT ed, n, k, round(CAST(cum_llr AS DOUBLE) / 1e9, 6) AS llr,
           | CASE WHEN cum_llr >= $sprtBound THEN 'accept_h1'
           |  WHEN cum_llr <= -$sprtBound THEN 'accept_h0'
           |  ELSE 'continue' END AS decision
           |FROM c""".stripMargin,

      "q292_price_index" ->
        """WITH li AS (SELECT l_partkey,
          |   CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
          |   CAST(l_quantity AS BIGINT) AS q,
          |   CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
          |     AS BIGINT) AS ed FROM lineitem),
          |b AS (SELECT (min(ed) + max(ed)) // 2 AS cut FROM li),
          |pp AS (SELECT l_partkey,
          |   CAST(sum(CASE WHEN ed <= b.cut THEN c END) AS BIGINT) AS v0,
          |   CAST(sum(CASE WHEN ed <= b.cut THEN q END) AS BIGINT) AS q0,
          |   CAST(sum(CASE WHEN ed > b.cut THEN c END) AS BIGINT) AS v1,
          |   CAST(sum(CASE WHEN ed > b.cut THEN q END) AS BIGINT) AS q1
          |  FROM li, b GROUP BY 1
          |  HAVING q0 > 0 AND q1 > 0),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS n_parts_both,
          |   sum(CAST(v1 AS DOUBLE) / q1 * q0) AS l_num,
          |   sum(CAST(v0 AS DOUBLE)) AS l_den,
          |   sum(CAST(v1 AS DOUBLE)) AS p_num,
          |   sum(CAST(v0 AS DOUBLE) / q0 * q1) AS p_den FROM pp)
          |SELECT n_parts_both, round(l_num / l_den, 4) AS laspeyres,
          | round(p_num / p_den, 4) AS paasche,
          | round(sqrt((l_num / l_den) * (p_num / p_den)), 4) AS fisher
          |FROM s""".stripMargin,

      "q294_experiment_sizing" ->
        """WITH u AS (SELECT user_id, event_type,
          |   CAST(count(*) AS BIGINT) AS n_ev FROM events GROUP BY 1, 2),
          |t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          |  FROM u),
          |r AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_reached
          |  FROM u WHERE n_ev >= 15 GROUP BY 1)
          |SELECT r.event_type, r.n_reached, t.n_users,
          | round(CAST(r.n_reached AS DOUBLE) / t.n_users, 6) AS reach_rate,
          | round((1.959964 + 0.841621) *
          |   sqrt(2.0 * (CAST(r.n_reached AS DOUBLE) / t.n_users)
          |    * (1.0 - CAST(r.n_reached AS DOUBLE) / t.n_users)
          |    / (CAST(t.n_users AS DOUBLE) / 2)), 6) AS mde_abs
          |FROM r, t""".stripMargin,

      "q295_dose_response" ->
        """WITH g AS (SELECT CAST(round(l_discount * 100) AS BIGINT)
          |   AS discount_pct, CAST(count(*) AS BIGINT) AS n,
          |   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          |     AS BIGINT) AS k
          |  FROM lineitem GROUP BY 1),
          |w AS (SELECT discount_pct, n, k,
          |   CAST(k AS DOUBLE) / n AS p,
          |   1.959964 * 1.959964 AS z2 FROM g)
          |SELECT discount_pct, n, k, round(p, 6) AS return_rate,
          | round((p + z2 / (n * 2)) / (1.0 + z2 / n)
          |  - (1.959964 * sqrt(p * (1.0 - p) / n
          |     + z2 / (CAST(n AS DOUBLE) * n * 4))) / (1.0 + z2 / n), 6)
          |   AS wilson_lo,
          | round((p + z2 / (n * 2)) / (1.0 + z2 / n)
          |  + (1.959964 * sqrt(p * (1.0 - p) / n
          |     + z2 / (CAST(n AS DOUBLE) * n * 4))) / (1.0 + z2 / n), 6)
          |   AS wilson_hi
          |FROM w""".stripMargin,

      "q299_forecast_revenue" ->
        """WITH li AS (SELECT l_quantity, l_discount,
          |   CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
          |     AS dc,
          |   CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
          |     AS BIGINT) AS ed FROM lineitem),
          |mx AS (SELECT max(ed) AS mx FROM li)
          |SELECT CAST(count(*) AS BIGINT) AS n_lines,
          | round(CAST(sum(dc) AS DOUBLE) / 100.0, 2) AS forecast_delta
          |FROM li, mx
          |WHERE li.ed > mx.mx - 365 AND li.l_quantity < 24
          | AND li.l_discount >= 0.05 AND li.l_discount <= 0.07"""
          .stripMargin,

      "q92_heavy_hitters_grouped" ->
        s"""WITH toks AS (SELECT lang,
           |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS item
           |  FROM documents),
           |t2 AS (SELECT lang, item FROM toks WHERE item <> ''),
           |sz AS (SELECT lang, count(*) AS n FROM t2 GROUP BY 1)
           |SELECT t2.lang AS lang, item, count(*) AS cnt
           |FROM t2 JOIN sz ON t2.lang = sz.lang
           |GROUP BY 1, 2, sz.n
           |HAVING count(*) * 40 > sz.n""".stripMargin,

      "q91_scalable_percentile" ->
        """SELECT o_orderpriority,
          | round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
          | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
          | round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
          | round(quantile_cont(o_totalprice, 0.99), 4) AS p99
          |FROM orders GROUP BY o_orderpriority""".stripMargin,

      "q85_heavy_hitters" ->
        s"""WITH toks AS (SELECT unnest(string_split(lower(${cleanSql("text")}), ' '))
           |   AS item FROM documents),
           |t2 AS (SELECT item FROM toks WHERE item <> '')
           |SELECT item, count(*) AS cnt FROM t2 GROUP BY 1
           |HAVING count(*) * 50 > (SELECT count(*) FROM t2)""".stripMargin,
  )
}
