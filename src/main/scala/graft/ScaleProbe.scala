package graft

import org.apache.spark.sql.functions._

/** Dev probe: scale-stress datapoints for BASELINE.md.
  *
  * Dedup mode (default): near-dup dedup on a synthetically replicated
  * corpus. Each source doc is copied `rep` times (fresh ids); odd copies
  * get a perturbing suffix token so they are NEAR-dups (jaccard just under
  * 1), not byte dups. Every source doc thus induces a dense near-dup
  * cluster — the worst case for candidate-pair volume — and the probe
  * reports docs/pairs/clusters plus wall-clock for signature+LSH+verify
  * and for connected components.
  *
  * Rank mode: stresses the GlobalRank / Percentiles rank dataflows (the
  * replacements for single-partition windows and per-group-buffering
  * percentile aggregates) on a replicated `orders` table, and VERIFIES
  * them against the built-ins at the same scale: max row number == n,
  * ntile bucket sizes within 1, per-group exact percentiles equal to
  * Spark's `percentile` aggregate bit-for-bit.
  *
  * Span mode: stresses the SpanDedup (exact duplicated-substring)
  * dataflow on a purely replicated corpus — the ADVERSARIAL case where
  * every window is cross-doc duplicated, so the pass-2 semi-join carries
  * 100% of the window stream instead of the rare-duplicate real-world
  * share — and VERIFIES the exact expectation that replication induces:
  * every doc with >= L tokens reports dup_ratio == 1.0, and exactly
  * rep × base such docs report.
  *
  * Overlap mode: stresses the CorpusOverlap (cross-source contamination
  * matrix) self-join in its ADVERSARIAL case — pure replication with one
  * synthetic source per copy puts EVERY shingle in EVERY source, so each
  * distinct hash fans out to the full C(rep, 2) pair set (the bounded
  * maximum) — and VERIFIES the closed form: exactly C(rep, 2) pairs, every
  * jaccard exactly 1.0, every intersection equal to the per-source
  * distinct-shingle count.
  *
  * Semdedup mode: pins SemDeDup's k ∝ n contract — replicating the
  * corpus must raise the cell count so within-cell pair volume stays
  * linear in n (asserted against both a linear bound and the fixed-k
  * quadratic regime), and perturbed replicas (cos ≈ 1) must drop.
  *
  * Pq mode: ADC scan at k=256 codebooks — compiles the generated code and
  * asserts method bytecode stays under the JVM 64 KB limit (the LUT rides
  * as data in a native expression), then times the top-5 scan.
  *
  * Ivf mode: the broadcast-centroid ceiling, lifted — a k=10,000-cell
  * coarse quantizer (the 100 TB IVFADC regime) rides as a BROADCAST
  * CentMatrix: the plan-side payload is a fixed-size handle (measured by
  * serialized size vs the inline form), task deserialize time stays flat
  * vs k=1,000 inline, results are identical to the inline form, and a
  * 10k-query probe batch keeps the probed-cell join row count exactly at
  * the closed form Σ_q Σ_{c∈probe(q)} |cell c| with no driver-side state
  * beyond the one broadcast.
  *
  * Ccchain mode: star-contraction connected components on a pure PATH
  * graph — the adversarial diameter case — asserting the round count is
  * logarithmic while min-label propagation (capped) is still walking.
  *
  * Fitwall mode: the sampled Lloyd fit — doubling the corpus must leave
  * the fit wall ~flat (iterations run on the capped md5-draw sample; only
  * the one sample-extraction pass sees the corpus).
  *
  * Diff mode: the q126 snapshot-diff shape at replicated scale — both
  * versions are rep× the corpus, the change manifold is carved by the
  * same deterministic id slices, and the probe VERIFIES the closed-form
  * added/removed/changed counts while timing the one full-outer
  * sort-merge join over (id, digest) pairs.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [rep]        — dedup mode
  *        runMain graft.ScaleProbe rank [sfDir] [rep]   — rank mode
  *        runMain graft.ScaleProbe span [sfDir] [rep]   — span mode
  *        runMain graft.ScaleProbe overlap [sfDir] [rep] — overlap mode
  *        runMain graft.ScaleProbe semdedup [sfDir] [rep] — semdedup mode
  *        runMain graft.ScaleProbe pq [sfDir] [rep]      — pq mode
  *        runMain graft.ScaleProbe ivf [sfDir] [rep]     — ivf mode
  *        runMain graft.ScaleProbe ccchain [links]       — ccchain mode
  *        runMain graft.ScaleProbe fitwall [sfDir] [rep] — fitwall mode
  *        runMain graft.ScaleProbe diff [sfDir] [rep]    — diff mode
  */
object ScaleProbe {
  private def session() = GraftSession("graft-scaleprobe", GraftSession.cpus(32))

  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    a
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("rank")) { rankProbe(args.drop(1)); return }
    if (args.headOption.contains("span")) { spanProbe(args.drop(1)); return }
    if (args.headOption.contains("overlap")) { overlapProbe(args.drop(1)); return }
    if (args.headOption.contains("semdedup")) { semdedupProbe(args.drop(1)); return }
    if (args.headOption.contains("pq")) { pqProbe(args.drop(1)); return }
    if (args.headOption.contains("ivf")) { ivfProbe(args.drop(1)); return }
    if (args.headOption.contains("ccchain")) { ccChainProbe(args.drop(1)); return }
    if (args.headOption.contains("fitwall")) { fitWallProbe(args.drop(1)); return }
    if (args.headOption.contains("diff")) { diffProbe(args.drop(1)); return }
    if (args.headOption.contains("pagerank")) { pageRankProbe(args.drop(1)); return }
    if (args.headOption.contains("gram")) { gramProbe(args.drop(1)); return }
    if (args.headOption.contains("cdc")) { cdcProbe(args.drop(1)); return }
    if (args.headOption.contains("bloom")) { bloomProbe(args.drop(1)); return }
    if (args.headOption.contains("knn")) { knnProbe(args.drop(1)); return }
    if (args.headOption.contains("backlog")) { backlogProbe(args.drop(1)); return }
    if (args.headOption.contains("skyline")) { skylineProbe(args.drop(1)); return }
    if (args.headOption.contains("kcore")) { kcoreProbe(args.drop(1)); return }
    if (args.headOption.contains("dupcollapse")) { dupCollapseProbe(args.drop(1)); return }
    if (args.headOption.contains("dbscan")) { dbscanProbe(args.drop(1)); return }
    if (args.headOption.contains("dbscanplanes")) { dbscanPlanesProbe(args.drop(1)); return }
    if (args.headOption.contains("ac")) { acProbe(args.drop(1)); return }
    if (args.headOption.contains("linkage")) { linkageProbe(args.drop(1)); return }
    if (args.headOption.contains("dedupchain")) { dedupChainProbe(args.drop(1)); return }
    if (args.headOption.contains("audio")) { audioProbe(args.drop(1)); return }
    if (args.headOption.contains("image")) { imageProbe(args.drop(1)); return }
    if (args.headOption.contains("lexindex")) { lexIndexProbe(args.drop(1)); return }
    if (args.headOption.contains("annquery")) { annQueryProbe(args.drop(1)); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session()

    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"),
        when(col("_r") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zq"), col("_r").cast("string"))).as("text"))
      .repartition(64).cache()
    val nDocs = big.count()
    println(s"[probe] corpus: $nDocs docs (rep=$rep)")

    val preCached = spark.sparkContext.getPersistentRDDs.keySet
    val (rawPairs, release) = graft.operators.Dedup.minhashNearDupsManaged(
      big, col("doc_id"), col("text"), shingleLen = 3,
      numBands = 16, rowsPerBand = 2, threshold = 0.7)
    val pairs = rawPairs.cache()
    val nPairs = timed("minhash LSH + verify")(pairs.count())
    println(s"[probe] near-dup pairs: $nPairs")
    // epilogue hygiene: the operator's signature cache must drain on
    // release — a long-lived driver should not rely on ContextCleaner
    release()
    // only `pairs` (this probe's own cache) may remain beyond the baseline
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(preCached).size <= 1,
      s"signature caches linger after release: ${spark.sparkContext.getPersistentRDDs.keys}")
    println("[probe] signature caches released (persistent RDDs drained)")

    val cc = graft.operators.Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    val nClusters = timed("connected components")(
      cc.select("component").distinct().count())
    println(s"[probe] clusters: $nClusters")
    spark.stop()
  }

  private def spanProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(40)
    require(rep >= 2, "span probe needs rep >= 2 so every window is duplicated")
    val spark = session()

    val L = 30
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    // pure replication (fresh ids, text UNCHANGED): every L-token window of
    // every copy also occurs in the other rep-1 copies → the exact expected
    // output is known in closed form at any scale
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"), col("text"))
      .repartition(64).cache()
    val nDocs = big.count()
    val base = docs.where(size(split(
      graft.functions.TextExprs.cleanText(col("text")), " ")) >= L).count()
    val wins = big.select((size(split(
      graft.functions.TextExprs.cleanText(col("text")), " ")) - (L - 1)).as("w"))
      .where(col("w") >= 1).agg(sum("w")).head().getLong(0)
    println(s"[probe] span corpus: $nDocs docs (rep=$rep), $wins windows of $L tokens")

    val out = graft.operators.SpanDedup
      .perDocDupShare(big, col("doc_id"), col("text"), L).cache()
    val rows = timed("SpanDedup.perDocDupShare (all-dup worst case)")(out.count())
    assert(rows == base * rep,
      s"every replicated doc with >= $L tokens must report: got $rows, want ${base * rep}")
    val agg = out.agg(min("dup_ratio"), sum("dup_windows")).head()
    assert(agg.getDouble(0) == 1.0,
      s"pure replication must make every window duplicated, min ratio ${agg.getDouble(0)}")
    assert(agg.getLong(1) == wins,
      s"dup windows must equal ALL windows: ${agg.getLong(1)} vs $wins")
    println(s"[probe] verified: $rows docs all at dup_ratio=1.0, ${agg.getLong(1)} dup windows")
    out.unpersist(); big.unpersist()
    spark.stop()
  }

  private def overlapProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(8)
    require(rep >= 2, "overlap probe needs rep >= 2 sources")
    val spark = session()

    val n = 5
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    // pure replication, one synthetic source per copy (text UNCHANGED):
    // every source carries the identical shingle set, so every hash joins
    // across all rep sources — the bounded worst case for the self-join
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"),
        concat(lit("s"), col("_r").cast("string")).as("source"), col("text"))
      .repartition(64).cache()
    val nDocs = big.count()
    val baseShingles = docs
      .select(split(graft.functions.TextExprs.cleanText(col("text")), " ").as("toks"))
      .withColumn("_n", size(col("toks"))).where(col("_n") >= n)
      .select(explode(sequence(lit(0), col("_n") - n)).as("pos"), col("toks"))
      .select(substring(md5(concat_ws(" ",
        slice(col("toks"), col("pos") + 1, lit(n)))), 1, 16).as("h"))
      .distinct().count()
    println(s"[probe] overlap corpus: $nDocs docs, $rep sources, " +
      s"$baseShingles distinct shingles/source, candidate stream = " +
      s"${baseShingles * rep.toLong * (rep - 1) / 2} pair-rows")

    val out = graft.operators.CorpusOverlap
      .sourceOverlap(big, col("source"), col("text"), n).cache()
    val pairs = timed("CorpusOverlap.sourceOverlap (all-shared worst case)")(out.count())
    assert(pairs == rep.toLong * (rep - 1) / 2,
      s"expected C($rep,2) pairs, got $pairs")
    val agg = out.agg(min("jaccard"), max("jaccard"),
      min("inter"), max("inter")).head()
    assert(agg.getDouble(0) == 1.0 && agg.getDouble(1) == 1.0,
      s"pure replication must give jaccard 1.0 on every pair: $agg")
    assert(agg.getLong(2) == baseShingles && agg.getLong(3) == baseShingles,
      s"every intersection must be the full shingle set: $agg vs $baseShingles")
    println(s"[probe] verified: $pairs pairs all at jaccard=1.0, " +
      s"intersections all $baseShingles")
    out.unpersist(); big.unpersist()
    spark.stop()
  }

  /** Pins SemDeDup's scale contract: replicating the corpus RAISES the cell
    * count proportionally (k = n / targetCellSize), so the within-cell pair
    * stream stays LINEAR in n instead of the quadratic blowup a fixed k
    * produces. Perturbed replicas are near-identical (cos ≈ 1), so the probe
    * also verifies the dedup finds them. */
  private def semdedupProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(32)
    require(rep >= 4, "semdedup probe wants rep >= 4 so most rows are near-dups")
    val spark = session()

    val target = 128L
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    // perturbed replication: copies of a vector are near-identical (tiny
    // per-copy offset — cosine ≈ 1 ≥ threshold) so every copy family is a
    // dense semantic-dup cluster, the densest realistic workload
    val big = emb.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("vec_id") * rep + col("_r")).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + col("_r").cast("double") * 1e-4).as("embedding"))
      .repartition(64).cache()
    val n = big.count()
    val k = graft.operators.SemDeDup.cellCount(n, target)
    println(s"[probe] semdedup corpus: $n vectors (rep=$rep) -> k=$k cells " +
      s"(fixed k=4 would put ~${n * (n - 1) / 2 / 4} pairs in play)")

    val out = timed("SemDeDup.semdedup (fit + within-cell dedup)")(
      graft.operators.SemDeDup.semdedup(big, col("vec_id"), col("embedding"),
        threshold = 0.95, targetCellSize = target).cache())
    val kept = out.where(col("keep")).count()
    val dropped = n - kept
    val cells = out.groupBy("cluster").count()
      .agg(count(lit(1)).as("nc"), max("count").as("mx"),
        sum(col("count") * (col("count") - 1) / 2).as("pairs")).head()
    val (nCells, maxCell, pairs) = (cells.getLong(0), cells.getLong(1),
      cells.getAs[Number](2).longValue())
    println(s"[probe] cells=$nCells maxCell=$maxCell withinCellPairs=$pairs " +
      s"kept=$kept dropped=$dropped")
    assert(k == math.max(4L, n / target).toInt, s"cell count must scale: k=$k")
    // the scale claim: pair volume LINEAR in n (vs ~n^2/8 at fixed k=4)
    assert(pairs <= n * target * 4,
      s"within-cell pairs $pairs exceed the linear bound ${n * target * 4} — cells too coarse")
    assert(pairs < n * (n - 1) / 2 / 8,
      s"pair volume $pairs is not meaningfully below the fixed-k quadratic regime")
    // recall sanity: most replicas must land with their family and drop
    assert(dropped >= (n - n / rep) / 2,
      s"expected most of the ${n - n / rep} near-dup replicas dropped, got $dropped")
    out.unpersist(); big.unpersist()
    spark.stop()
  }

  /** Times the ADC scan at the k=256 codebooks real PQ deployments run and
    * asserts the generated code stays within JVM method limits (the LUT is
    * a native expression carrying the codebook as data — an unrolled
    * literal form dies at "Code grows beyond 64 KB" here). */
  private def pqProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = session()

    val kCode = 256
    val cents = (0 until 4).map { m =>
      (0 until kCode).map(j =>
        Array.tabulate(16)(i => math.sin(m * 100003 + j * 16 + i))).toSeq
    }
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val big = emb.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("vec_id") * rep + col("_r")).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + col("_r").cast("double") * 1e-4).as("v"))
      .repartition(64).cache()
    val n = big.count()
    println(s"[probe] pq corpus: $n vectors, 4 subspaces x $kCode codes")

    // real k=256 assignment via the flat argmin (the fit's hot inner loop)
    val codeCols = (0 until 4).map { m =>
      graft.operators.KMeansOp.argmin(
        org.apache.spark.sql.functions.slice(col("v"), m * 16 + 1, 16),
        cents(m))._1.as(s"code$m")
    }
    val codes = big.select(col("vec_id") +: codeCols: _*).cache()
    timed(s"k=$kCode argmin encode of $n vectors")(codes.count())

    val q = emb.where(col("vec_id") < 8)
      .select(Seq(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv")) ++
        (0 until 4).map(m =>
          graft.plans.AnnNative.adcLut(
            col("embedding").cast("array<double>"), cents(m), m * 16).as(s"_lut$m")): _*)
    val adc = (0 until 4).map(m =>
      element_at(col(s"_lut$m"), col(s"code$m") + 1)).reduce(_ + _)
    def scan() = q.crossJoin(codes)
      .select(col("query_id"), col("vec_id").as("corpus_id"), adc.as("adc"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("adc").asc, col("corpus_id").asc)))
      .where(col("rnk") <= 5)

    // bytecode proof, not a plan-string check: compile the generated code
    // and read method sizes (AQE off so stages exist pre-execution)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import org.apache.spark.sql.execution.debug._
    val stats = codegenStringSeq(scan().queryExecution.executedPlan)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(stats.nonEmpty, "expected WholeStageCodegen subtrees in the ADC scan")
    stats.foreach { case (subtree, _, bc) =>
      assert(bc.maxMethodCodeSize > 0 && bc.maxMethodCodeSize < 65535,
        s"ADC codegen method size ${bc.maxMethodCodeSize} out of bounds in:\n$subtree")
    }
    println(s"[probe] codegen ok: ${stats.size} subtrees, max method " +
      s"${stats.map(_._3.maxMethodCodeSize).max} bytes")

    scan().write.format("noop").mode("overwrite").save() // warm
    val t0 = System.nanoTime()
    scan().write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[probe] ADC top-5, 8 queries x $n codes: $secs%.2f s " +
      f"(${8 * n / secs / 1e6}%.1f M candidate-rows/s)")
    codes.unpersist(); big.unpersist()
    spark.stop()
  }

  /** The 100 TB coarse-quantizer regime: k=10,000 cells as a broadcast
    * CentMatrix vs k=1,000 inline — plan payload flat, per-task deserialize
    * flat, identical results, and a 10k-query probe batch whose
    * probed-cell join is exactly the closed-form candidate count. */
  private def ivfProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(26)
    val spark = session()
    val dim = 64
    def synthCents(k: Int): Seq[Array[Double]] =
      (0 until k).map(j => Array.tabulate(dim)(i => math.sin(j * dim + i)))

    // 1) plan-side payload: serialized size of the matrix carrier
    def serSize(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.size()
    }
    val k1 = 1000; val k10 = 10000
    val inline1 = graft.plans.InlineCents(synthCents(k1).map(_.toIndexedSeq))
    val cm10 = graft.plans.AnnNative.matrix(spark, synthCents(k10))
    assert(cm10.isInstanceOf[graft.plans.BcastCents],
      s"k=$k10 x $dim must cross the broadcast threshold")
    val (s1, s10) = (serSize(inline1), serSize(cm10))
    println(s"[probe] plan payload: inline k=$k1 = $s1 B; BROADCAST k=$k10 = $s10 B")
    assert(s10 < s1 / 100,
      s"broadcast handle must be orders of magnitude below the inline matrix")

    // 2) identical results broadcast vs inline at k=10k
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val big = emb.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("vec_id") * rep + col("_r")).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + col("_r").cast("double") * 1e-4).as("v"))
      .repartition(64).cache()
    val n = big.count()
    val inline10 = graft.plans.InlineCents(synthCents(k10).map(_.toIndexedSeq))
    def assign(cm: graft.plans.CentMatrix) = big.select(col("vec_id"),
      graft.plans.AnnNative.argMaxDot(col("v"), cm).as("cell"))
    val diff = assign(cm10).as("a").join(assign(inline10).as("b"), "vec_id")
      .where(col("a.cell") =!= col("b.cell")).count()
    assert(diff == 0, s"$diff of $n assignments diverge between broadcast and inline")
    println(s"[probe] broadcast ≡ inline on all $n assignments at k=$k10")

    // 3) per-task deserialize time, k=1k inline vs k=10k broadcast
    val deser = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        deser.addAndGet(e.taskMetrics.executorDeserializeTime); tasks.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def meanDeser(cm: graft.plans.CentMatrix, label: String): Double = {
      deser.set(0); tasks.set(0)
      timed(s"argmax assign $label")(
        assign(cm).write.format("noop").mode("overwrite").save())
      Thread.sleep(1000) // let the listener bus drain (private API otherwise)
      val m = deser.get.toDouble / math.max(tasks.get, 1)
      println(f"[probe] mean task deserialize ($label): $m%.1f ms over ${tasks.get} tasks")
      m
    }
    val d1 = meanDeser(graft.plans.AnnNative.matrix(spark, synthCents(k1)), s"k=$k1")
    val d10 = meanDeser(cm10, s"k=$k10 broadcast")
    spark.sparkContext.removeSparkListener(listener)
    assert(d10 <= math.max(d1, 1.0) * 10 + 20,
      f"10x the cells must not inflate task deserialize: $d1%.1f -> $d10%.1f ms")

    // 4) 10k-query probe batch: the probed-cell join carries EXACTLY
    //    Σ_q Σ_{c∈probe(q)} |cell c| candidate rows — bounded by
    //    queries × nProbe × maxCell, with no driver collect anywhere
    val nProbe = 2
    val codes = assign(cm10).cache()
    codes.count()
    val queries = big.limit(10000)
      .select(col("vec_id").as("query_id"), col("v").as("qv")).cache()
    val nq = queries.count()
    val probed = queries.select(col("query_id"),
      explode(graft.plans.AnnNative.topMByDot(col("qv"), cm10, nProbe)).as("cell"))
    val joinRows = timed(s"probe join, $nq queries x nProbe=$nProbe vs $n codes")(
      probed.join(codes, probed("cell") === codes("cell")).count())
    val hist = codes.groupBy("cell").count()
    val expected = probed.join(hist, "cell").agg(sum("count")).head().getLong(0)
    assert(joinRows == expected,
      s"probed-cell join must equal the closed form: $joinRows vs $expected")
    val maxCell = hist.agg(max("count")).head().getLong(0)
    println(s"[probe] probe join rows=$joinRows (closed form ok), bound=" +
      s"${nq * nProbe * maxCell} (= queries x nProbe x maxCell $maxCell)")
    spark.stop()
  }

  /** Star contraction on a pure path graph (worst-case diameter): round
    * count must be logarithmic in chain length; capped min-label is still
    * mid-walk at the same budget. */
  private def ccChainProbe(args: Array[String]): Unit = {
    val links = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = session()
    val pairs = spark.range(links)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    edges.count()
    val (labels, rounds) = timed(s"starComponents on a $links-link chain")(
      graft.operators.Dedup.starComponents(edges, 60))
    val bad = labels.where(col("component") =!= 0L).count()
    val logBound = 2 * math.ceil(math.log(links.toDouble) / math.log(2)).toInt + 3
    println(s"[probe] star rounds=$rounds (log bound $logBound) badLabels=$bad")
    assert(bad == 0 && rounds <= logBound,
      s"star contraction must converge logarithmically: rounds=$rounds bad=$bad")
    // the baseline at the same round budget: min-label has only walked
    // `rounds` hops of a $links-hop diameter
    val (ml, mlRounds) = timed(s"minLabel capped at ${rounds} rounds")(
      graft.operators.Dedup.minLabelComponents(edges, rounds))
    val mlBad = ml.where(col("component") =!= 0L).count()
    println(s"[probe] min-label at the same budget: rounds=$mlRounds unresolved=$mlBad")
    assert(mlBad > 0, "min-label should still be walking the chain at the star budget")
    spark.stop()
  }

  /** Sampled Lloyd fit: doubling the corpus must leave the fit wall ~flat
    * (iterations scan the capped sample; only the TakeOrdered draw pass
    * sees the corpus). */
  private def fitWallProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = session()
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    def corpus(r: Int) = emb.crossJoin(spark.range(r).select(col("id").as("_r")))
      .select((col("vec_id") * r + col("_r")).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + col("_r").cast("double") * 1e-4).as("v"))
      .repartition(64).cache()
    def fitWall(df: org.apache.spark.sql.DataFrame): Double = {
      df.count() // corpus materialized; time the fit alone
      val t0 = System.nanoTime()
      graft.operators.KMeansOp.fit(df, col("vec_id"), col("v"), k = 16, iters = 4)
      (System.nanoTime() - t0) / 1e9
    }
    val small = corpus(rep); val nS = small.count(); val tSmall = fitWall(small)
    val bigC = corpus(rep * 2); val nB = bigC.count(); val tBig = fitWall(bigC)
    println(f"[probe] fit wall (k=16, iters=4): n=$nS t=$tSmall%.1f s; " +
      f"n=$nB t=$tBig%.1f s (ratio ${tBig / tSmall}%.2f)")
    assert(tBig <= tSmall * 2.0 + 2.0,
      f"sampled fit must be ~flat as n doubles: $tSmall%.1f s -> $tBig%.1f s")
    small.unpersist(); bigC.unpersist()
    spark.stop()
  }

  private def rankProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(80)
    val spark = session()

    import graft.operators.{GlobalRank, Percentiles}
    val orders = graft.sources.Tables.table(spark, sfDir, "orders")
    val big = orders.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("o_orderkey") * rep + col("_r")).as("k"),
        (col("o_totalprice") + col("_r") * 0.01).as("v"),
        col("o_orderpriority").as("g"))
      .repartition(64).cache()
    val n = big.count()
    println(s"[probe] rank corpus: $n rows (rep=$rep)")

    val rn = timed("GlobalRank.withRowNumber")(
      GlobalRank.withRowNumber(big, Seq(col("v").asc, col("k").asc), "rn")
        .agg(max("rn"), count(lit(1))).head())
    assert(rn.getLong(0) == n && rn.getLong(1) == n,
      s"rank must be a total order 1..$n, got max=${rn.getLong(0)}")

    val tiles = timed("GlobalRank.withNtile(100)")(
      GlobalRank.withNtile(big, 100, Seq(col("v").asc, col("k").asc), "t")
        .groupBy("t").count().agg(min("count"), max("count"), count(lit(1))).head())
    assert(tiles.getLong(2) == 100 && tiles.getLong(1) - tiles.getLong(0) <= 1,
      s"ntile buckets must differ by <= 1 row: $tiles")

    // prefix sum (q93's engine): stress at probe scale and verify BIT-EQUAL
    // against the single-partition window on the same total order. k is
    // unique, so equal counts + empty one-direction except == equality.
    val vexpr = (col("k") % 1000).cast("long")
    val cum = timed("GlobalRank.withRunningSum")(
      GlobalRank.withRunningSum(big, Seq(col("v").asc, col("k").asc), vexpr, "cum")
        .select(col("k"), col("cum")).cache())
    val total = cum.agg(max("cum"), count(lit(1))).head()
    val expectTotal = big.agg(sum(vexpr)).head().getLong(0)
    assert(total.getLong(0) == expectTotal && total.getLong(1) == n,
      s"running sum must end at sum(v)=$expectTotal over $n rows, got $total")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").asc, col("k").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val winCum = timed("single-partition window prefix sum (reference)")(
      big.select(col("k"), sum(vexpr).over(w).as("cum")).cache())
    assert(winCum.count() == n && timed("prefix-sum equality check")(
      cum.except(winCum).count()) == 0,
      "withRunningSum must equal the window prefix sum bit-for-bit")
    cum.unpersist(); winCum.unpersist()
    println(s"[probe] prefix sum matches the single-partition window on $n rows")

    val ps = Seq(0.25, 0.5, 0.95, 0.99)
    val names = Seq("p25", "p50", "p95", "p99")
    val ours = timed("Percentiles.exactByGroup")(
      Percentiles.exactByGroup(big, col("g"), col("v"), ps, names)
        .collect().map(r => r.getString(0) -> names.indices.map(i => r.getDouble(i + 1))).toMap)
    // reference: Spark's buffering percentile aggregate at the SAME scale
    val ref = timed("builtin percentile aggregate (reference)")(
      big.groupBy("g")
        .agg(expr(s"percentile(v, array(${ps.mkString("D,")}D))").as("p"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap)
    val diffs = ours.flatMap { case (g, vs) =>
      vs.zip(ref(g)).zipWithIndex.collect {
        case ((a, b), i) if math.abs(a - b) > 1e-6 => s"$g ${names(i)}: $a vs $b"
      }
    }
    assert(diffs.isEmpty, s"percentile mismatch:\n${diffs.mkString("\n")}")
    println(s"[probe] percentiles match the buffering aggregate on ${ours.size} groups")
    spark.stop()
  }

  /** q126's snapshot-diff dataflow at rep× the corpus: one full-outer
    * sort-merge join over (id, digest); closed-form counts asserted. */
  /** Bloom mode: the q151 two-stage decontamination at replicated train
    * scale. Pure replication (fresh ids, texts unchanged) of the TRAIN
    * side against a FIXED benchmark must (a) leave the bloom set-bit
    * table byte-identical (it depends only on the benchmark), and
    * (b) scale both the bloom-candidate doc count and the exact-verified
    * contaminated doc count by exactly rep. Wall-clock should track the
    * train volume — the benchmark side is a constant broadcast. */
  /** Backlog mode: the q206 difference-array claim measured. The naive
    * interval aggregation explodes one row per (span, day) — its cost is
    * proportional to interval LENGTH — while the delta dataflow emits two
    * events per span regardless. Widening every interval by `widen`×
    * must grow the naive wall roughly linearly and leave the delta wall
    * flat, with both producing identical backlog tables (verified on the
    * full join, not a sample). */
  /** Skyline mode: measure q232's claim about the naive dominance LEFT
    * ANTI join (a nested-loop non-equi join) vs the prefix-max sweep
    * (operators.Skyline.frontier2d) — in BOTH regimes, because the naive
    * plan's cost is DISTRIBUTION-dependent, not just O(n²):
    *
    *  - dominator-DENSE data (the replicated catalog): the broadcast
    *    nested loop's anti-join EARLY-EXITS on the first dominator, so
    *    most probes stop after a few comparisons and the naive join
    *    looks flat — the seductive benchmark that lies about scale;
    *  - ANTICHAIN data (descending price, ascending size — every point
    *    on the frontier): no dominator exists, the early exit never
    *    fires, and the naive join does the full n² work, while the
    *    sweep stays one-aggregate + one-range-exchange flat.
    *
    * Both routes must return the identical frontier at every size. */
  /** kcore mode: the q267 fixpoint peel on a synthetic graph with a CLOSED-
    * FORM answer and a controllable peel depth — a C-cycle (every node
    * degree 2 = the whole k=2 core) with an L-link pendant chain hanging
    * off every cycle node. Chains peel exactly one link per round, so the
    * peel runs L rounds regardless of C; doubling C must ~double the wall
    * (per-round cost is linear in the surviving edge list) while rounds
    * stay L. Verifies core size == C and every core degree == 2. */
  /** Dup-collapse mode: the round-13 claim under test — the edit-distance
    * verifier's cost is FLAT in exact-copy count. The corpus is replicated
    * rep× with IDENTICAL text (doc pairs grow as rep², distinct-text pairs
    * don't grow at all), the operator runs at rep = 1 and rep = N, and the
    * probe VERIFIES the rep-N pair set against the closed form derived
    * from the rep-1 output: cross pairs ×rep², plus C(m·rep, 2) same-text
    * pairs per distinct text. Wall clock is printed for the read; the
    * assertions are on the counts (timing on a shared VM is advisory). */
  private def dupCollapseProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session()
    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .where(col("n_chars") <= 512)
      .select(col("doc_id"), col("text")).cache()
    val nBase = base.count()
    // per-distinct-text copy counts in the BASE corpus (texts may already
    // repeat) — the closed form needs them
    val mT = base
      .select(graft.functions.TextExprs.cleanText(col("text")).as("t"))
      .where(size(split(col("t"), " ")) >= 3) // the operator's survivor set
      .select(md5(col("t")).as("tid"))
      .groupBy("tid").count().select(col("count").as("m"))
      .collect().map(_.getLong(0))
    val p1 = timed(s"verify rep=1 ($nBase docs)") {
      graft.operators.Dedup.editDistNearDups(base, col("doc_id"), col("text"))
        .cache()
    }
    val n1 = p1.count()
    val cross1 = p1.where(col("edit_dist") > 0 || col("sim") < 1.0).count()
    // cross pairs at rep=1 per TEXT pair: each base text pair (m_a, m_b)
    // contributes m_a*m_b doc pairs; at rep=r it contributes m_a*m_b*r².
    // Same-text pairs at rep=1: sum C(m,2); at rep=r: sum C(m*r, 2).
    val same1 = n1 - cross1
    val sameExpect1 = mT.map(m => m * (m - 1) / 2).sum
    assert(same1 == sameExpect1, s"same-text pairs: $same1 vs $sameExpect1")
    val crossTextPairs = cross1 // equals Σ m_a·m_b over verified text pairs? No:
    // cross1 COUNTS doc pairs already = Σ m_a·m_b at rep=1; at rep=r it is ×r².
    val big = base.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"), col("text"))
      .repartition(64).cache()
    val nBig = big.count()
    val pN = timed(s"verify rep=$rep ($nBig docs, doc pairs x${rep * rep})") {
      graft.operators.Dedup.editDistNearDups(big, col("doc_id"), col("text"))
        .cache()
    }
    val nN = pN.count()
    val crossN = pN.where(col("edit_dist") > 0 || col("sim") < 1.0).count()
    val sameN = nN - crossN
    val crossExpectN = crossTextPairs * rep * rep
    val sameExpectN = mT.map(m => (m * rep) * (m * rep - 1) / 2).sum
    println(s"[probe] pairs rep=1: $n1 (cross $cross1, same $same1); " +
      s"rep=$rep: $nN (cross $crossN, same $sameN)")
    assert(crossN == crossExpectN, s"cross pairs: $crossN vs $crossExpectN")
    assert(sameN == sameExpectN, s"same pairs: $sameN vs $sameExpectN")
    println(f"[probe] closed form holds: DP volume constant, output x${nN.toDouble / n1}%.1f")
    spark.stop()
  }

  /** The ImageIO twin of the audio probe: generate+decode N PNGs on 1
    * thread vs 32, with and without ImageIO's default FILE-backed stream
    * cache (every `ImageIO.read(InputStream)` spills the stream to a
    * temp file unless `setUseCache(false)`) — measures whether the image
    * queries pay a hidden disk round-trip or a registry convoy. */
  private def imageProbe(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(20000)
    def work(id: Long): Int = {
      val png = graft.multimodal.ImageGen.rampPng(16, 16,
        (1 + id % 3).toInt, (1 + (id / 3) % 3).toInt, ((id % 7) * 10).toInt)
      graft.multimodal.ImagePHash.aHashBits(id, png).count(_ == '1')
    }
    Seq(true, false).foreach { useCache =>
      javax.imageio.ImageIO.setUseCache(useCache)
      (0L until 500L).foreach(work)
      val t1 = System.nanoTime
      (0L until n.toLong).foreach(work)
      val single = (System.nanoTime - t1) / 1e9
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      val t2 = System.nanoTime
      val futs = (0 until 32).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var s = 0L; var i = t.toLong
            while (i < n) { s += work(i); i += 32 }
            s
          }
        })
      }
      futs.foreach(_.get())
      pool.shutdown()
      val par = (System.nanoTime - t2) / 1e9
      println(f"[probe] useCache=$useCache: single $single%.2f s, " +
        f"32-thread $par%.2f s (speedup x${single / par}%.1f) for $n PNGs")
    }
  }

  /** Diagnose the javax.sound superlinearity (q319/q320/q333 run ~20× at
    * 10× docs in the sf1 suite): generate+decode N WAVs on 1 thread vs
    * 32 — if the 32-way run is not ≫ faster, a global lock inside
    * AudioSystem's provider path serializes executor threads and the
    * per-call registry lookup, not PCM work, is the bill. No Spark — the
    * raw codec calls, isolated. */
  private def audioProbe(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(5000)
    def work(id: Long): Long = {
      val wav = graft.multimodal.AudioGen.pcmWav(id)
      graft.multimodal.AudioIoCodec.windowedAbsStats(id, wav, 64, 2)._3
    }
    (0L until 500L).foreach(work) // warm: JIT + provider registry
    val t1 = System.nanoTime
    (0L until n.toLong).foreach(work)
    val single = (System.nanoTime - t1) / 1e9
    println(f"[probe] single-thread $n docs: $single%.2f s")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
    val t2 = System.nanoTime
    val futs = (0 until 32).map { t =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          var s = 0L; var i = t.toLong
          while (i < n) { s += work(i); i += 32 }
          s
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    val par = (System.nanoTime - t2) / 1e9
    println(f"[probe] 32-thread $n docs: $par%.2f s (speedup x${single / par}%.1f)")
  }

  /** The q328 automaton's scale claim, measured: ac_count_matches wall
    * must be ~flat in the blocklist size (one state transition per input
    * byte regardless of k), while ContainsAny — correct for dozen-lexeme
    * classifier lexicons — probes each pattern separately and grows
    * linearly in k on the zero-match worst case (every probe scans the
    * whole text and fails). All patterns are absent from the corpus, so
    * both operators do maximal work; correctness is cross-checked by an
    * injected canary counting exactly 1 per doc. */
  private def acProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).cache()
    println(s"[probe] corpus: ${docs.count()} docs")
    def pats(k: Int): Seq[String] = (0 until k).map(i => f"canary pattern $i%05d")
    def timeIt(df: org.apache.spark.sql.DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm: codegen + JIT
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // correctness witness: an injected canary counts exactly once per doc
    val hit = docs.select(graft.plans.AcCountMatches.acCountMatches(
        concat(col("text"), lit(" canary pattern 00003")), pats(8)).as("c"))
      .agg(sum("c"), count(lit(1))).head
    assert(hit.getLong(0) == hit.getLong(1), s"injected canary must count 1/doc: $hit")
    val walls = Seq(8, 1024).map { k =>
      val ac = timeIt(docs.select(graft.plans.AcCountMatches
        .acCountMatches(col("text"), pats(k)).as("c")))
      val ca = timeIt(docs.select(graft.plans.ContainsAny
        .containsAny(col("text"), pats(k)).as("c")))
      println(f"[probe] k=$k%4d: ac_count_matches $ac%.3f s, contains_any $ca%.3f s")
      (ac, ca)
    }
    val acRatio = walls(1)._1 / walls(0)._1
    val caRatio = walls(1)._2 / walls(0)._2
    println(f"[probe] 128x the blocklist: automaton x$acRatio%.2f, per-pattern probing x$caRatio%.1f")
    assert(acRatio < 6.0, f"automaton wall must stay ~flat in k, got x$acRatio%.2f")
    spark.stop()
  }

  /** Dbscan distinct-vector collapse under pure replication — the
    * copies² regime a dup-heavy corpus presents to density clustering.
    * Synthetic blobs: 16 clusters on orthogonal one-hot dims (0..15),
    * each cluster = m identical copies (m = 32·rep); nNoise = 16·rep
    * UNIQUE two-hot vectors on reserved dims 16..63 (mutual cos ≤ 0.5 <
    * eps, cos 0 to every cluster). Closed forms at eps=0.6, minPts=3:
    * every cluster member core (mult = m ≥ 3), exactly 16 clusters
    * labeled by their min member id, zero borders, all noise named
    * noise — and the DISTINCT-grain candidate graph has ZERO pairs at
    * ANY rep (collapse leaves 16 + nNoise nodes, all pairwise below
    * eps), so the ε-graph cost scales with distinct vectors, not
    * copies². Timed at rep and 2·rep to witness the flat distinct
    * grain. */
  private def dbscanProbe(args: Array[String]): Unit = {
    val rep = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(32)
    val spark = session()
    import org.apache.spark.sql.functions._
    val sp2 = spark
    import sp2.implicits._
    val noisePairs = (for { i <- 16 until 64; j <- i + 1 until 64 } yield (i, j))
    def corpus(r: Int) = {
      val m = 32L * r
      val nNoise = math.min(16 * r, noisePairs.size)
      val clusters = spark.range(16).select(col("id").as("c"))
        .crossJoin(spark.range(m).select(col("id").as("r")))
        .select((col("c") * 10000000L + col("r")).as("vec_id"),
          expr("transform(sequence(0, 63), j -> IF(CAST(j AS BIGINT) = c, " +
            "CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as("v"))
      val np = noisePairs.take(nNoise).zipWithIndex
        .map { case ((i, j), n) => (1000000000L + n, i, j) }
        .toDF("vec_id", "i", "j")
      val noise = np.select(col("vec_id"),
        expr("transform(sequence(0, 63), k -> IF(CAST(k AS INT) = i OR " +
          "CAST(k AS INT) = j, CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").as("v"))
      (clusters.unionAll(noise).repartition(64).cache(), m, nNoise)
    }
    Seq(rep, 2 * rep).foreach { r =>
      val (big, m, nNoise) = corpus(r)
      val n = big.count()
      val out = timed(s"dbscan rep=$r ($n vectors, m=$m per blob)") {
        graft.operators.Dbscan.cluster(big, col("vec_id"), col("v"),
          eps = 0.6, minPts = 3).cache()
      }
      val byRole = out.groupBy("role").count().collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
      assert(byRole.getOrElse("core", 0L) == 16 * m,
        s"cores: ${byRole.get("core")} vs ${16 * m}")
      assert(byRole.getOrElse("border", 0L) == 0L,
        s"borders: ${byRole.get("border")}")
      assert(byRole.getOrElse("noise", 0L) == nNoise,
        s"noise: ${byRole.get("noise")} vs $nNoise")
      val labels = out.where(col("role") === "core")
        .select("cluster_id").distinct().collect().map(_.getLong(0)).sorted
      assert(labels.toSeq == (0 until 16).map(_ * 10000000L),
        s"labels: ${labels.mkString(",")}")
      // the collapse's whole point: the distinct-grain ε-graph is EMPTY
      val groups = big.groupBy("v").agg(min("vec_id").as("gid"))
      val gPairs = graft.operators.Dedup.embeddingNearDups(
        groups, col("gid"), col("v"), threshold = 0.6, nPlanes = 8, dim = 64)
        .count()
      assert(gPairs == 0L, s"distinct-grain pairs: $gPairs")
      println(s"[probe] rep=$r closed form holds: 16 clusters, " +
        s"${16 * m} cores, $nNoise noise, 0 distinct-grain pairs")
      out.unpersist(); big.unpersist()
    }
    spark.stop()
  }

  /** The ε-graph nPlanes knob DEMONSTRATED at 10× (VERDICT r14 #7): on a
    * corpus of n DISTINCT lattice vectors (the collapse can't help — no
    * exact copies), candidate-pair volume is Σ_buckets C(size, 2) ≈
    * n²/2^(p+1) for p hyperplanes. Growing the corpus 10× under FIXED
    * planes grows candidates ~100× (the quadratic regime q324's sf1 run
    * brushed); stepping planes by log₂(10×) ≈ +4 re-tightens buckets and
    * holds the growth to ~100/16 ≈ 6× — LINEAR-ish in n, which is the
    * documented "raise nPlanes with n" contract. The probe counts
    * candidates analytically (one bucket agg — the 10×-fixed join is
    * exactly what we refuse to run) and runs the real verify join only at
    * the scaled setting. */
  private def dbscanPlanesProbe(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(20000)
    val spark = session()
    import graft.functions.VectorExprs
    // hash-mixed coordinates: sign-diverse under random hyperplanes, so
    // buckets load uniformly and the plane count is the real knob (a
    // low-entropy lattice here leaves mega-buckets that extra planes
    // cannot split — the probe would measure the corpus, not the knob)
    def corpus(sz: Int) = spark.range(sz)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), j -> " +
          "CAST(pmod(xxhash64(id, j), 2001) - 1000 AS FLOAT))").as("v"))
      .repartition(64).cache()
    def candPairs(df: org.apache.spark.sql.DataFrame, p: Int): Long = {
      val planes = VectorExprs.deterministicPlanes(p, 64)
      df.select(VectorExprs.hyperplaneBucket(col("v"), planes).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) / 2"))).head.getDouble(0).toLong
    }
    val (p0, p1) = (8, 12) // +4 = ceil(log2 10) rounded up to re-tighten
    val small = corpus(n); val big = corpus(10 * n)
    val c0s = candPairs(small, p0)
    val c0b = candPairs(big, p0)
    val c1s = candPairs(small, p1)
    val c1b = candPairs(big, p1)
    println(f"[probe] n=$n: fixed p=$p0 candidates $c0s -> $c0b at 10x " +
      f"(x${c0b.toDouble / c0s}%.1f); stepped p=$p0->$p1 candidates " +
      f"$c0s -> $c1b (x${c1b.toDouble / c0s}%.1f); p=$p1 at n: $c1s")
    // quadratic regime under fixed planes; linear-ish under stepped
    assert(c0b.toDouble / c0s > 50.0,
      s"fixed-plane growth unexpectedly tame: $c0s -> $c0b")
    assert(c1b.toDouble / c0s < 16.0,
      s"stepped-plane growth superlinear: $c0s -> $c1b")
    val t0 = System.nanoTime()
    val verified = graft.operators.Dedup.embeddingNearDups(
      big, col("vec_id"), col("v"), threshold = 0.95, nPlanes = p1, dim = 64)
      .count()
    println(f"[probe] verify join at 10x n, p=$p1: $verified pairs in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    small.unpersist(); big.unpersist()
    spark.stop()
  }

  /** Linkage-blocking contract (q88 / VERDICT r15 #1): on a name universe
    * that GROWS with the corpus (minted 10-char names, 4-letter alphabet
    * per position — every 3-char prefix block holds ~n/64 names), a FIXED
    * 3-char prefix block grows its within-block pair space ~quadratically
    * at 10× names, while QueryHelpers.linkagePfxLen steps the prefix with
    * the distinct-name count and re-cuts it — the dbscanplanes
    * "raise the knob with n" contract applied to record linkage. Closed
    * forms under uniform minting: pairs ≈ B·C(n/B, 2) with B = 4^pfx
    * blocks, so 10× names under fixed pfx ≈ ×100 pairs and each +1 prefix
    * char divides by ~4. The probe then times the full verify (native
    * Jaro-Winkler) at 10× under the stepped prefix. */
  private def linkageProbe(args: Array[String]): Unit = {
    val n = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(9000)
    val spark = session()
    // minted catalog: names are deterministic 10-char strings over a
    // 4-letter-per-position alphabet — prefix blocks fill uniformly, so
    // the prefix length is the real knob (not the name distribution)
    def corpus(sz: Int) = spark.range(sz)
      .select(col("id").as("key"),
        expr("array_join(transform(sequence(0, 9), j -> " +
          "chr(97 + CAST(pmod(xxhash64(id, j), 4) AS INT))), '')").as("name"))
      .repartition(64).cache()
    def candPairs(df: org.apache.spark.sql.DataFrame, pfx: Int): Long = {
      val dn = df.select(substring(col("name"), 1, pfx).as("b"), col("name"))
        .distinct() // the q88 distinct-name collapse
      dn.groupBy("b").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) / 2"))).head.getDouble(0).toLong
    }
    val small = corpus(n); val big = corpus(10 * n)
    val names0 = small.select("name").distinct().count()
    val names1 = big.select("name").distinct().count()
    val (p0, p1) = (graft.queries.QueryHelpers.linkagePfxLen(names0),
      graft.queries.QueryHelpers.linkagePfxLen(names1))
    println(s"[probe] distinct names $names0 -> $names1 at 10x: " +
      s"adaptive prefix $p0 -> $p1")
    // input validation, not a contract check: the rule steps once per
    // DECADE, so an n whose 10× image stays inside one band (e.g. 500 →
    // 5k, both ≤ 10k) cannot demonstrate the step — tell the caller to
    // pick n near a boundary instead of misreporting a broken contract
    require(p1 > p0, s"probe input n=$n does not cross a linkagePfxLen " +
      s"decade ($names0 -> $names1 distinct names both map to prefix $p0) " +
      "— choose n so that 10x the minted names crosses 10000 or 100000")
    val c0s = candPairs(small, p0)
    val c0b = candPairs(big, p0)  // yesterday's knob at tomorrow's corpus
    val c1b = candPairs(big, p1)  // the stepped knob
    println(f"[probe] n=$n: fixed pfx=$p0 pairs $c0s -> $c0b at 10x " +
      f"(x${c0b.toDouble / c0s}%.1f); stepped pfx=$p0->$p1 pairs " +
      f"$c0s -> $c1b (x${c1b.toDouble / c0s}%.1f)")
    assert(c0b.toDouble / c0s > 50.0,
      s"fixed-prefix growth unexpectedly tame: $c0s -> $c0b")
    assert(c1b < c0b / 3,
      s"stepped prefix failed to re-cut the pair space: $c0b -> $c1b")
    val t0 = System.nanoTime()
    val verified = big.select(substring(col("name"), 1, p1).as("b"), col("name"))
      .distinct().as("a")
      .join(big.select(substring(col("name"), 1, p1).as("b"),
        col("name").as("nb")).distinct().as("bb"), Seq("b"))
      .where(col("name") < col("nb"))
      .where(round(graft.plans.JaroWinkler.jaroWinkler(col("name"), col("nb")), 4)
        .between(0.88, 0.9999))
      .count()
    println(f"[probe] verify at 10x names, pfx=$p1: $verified pairs in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    small.unpersist(); big.unpersist()
    spark.stop()
  }

  /** One-decade evidence for the dedup CORE (VERDICT r15 #6): the composed
    * COLLAPSED near-dup chain — distinct-text collapse → 8-band LSH join →
    * hamming verify → member expansion → connected components
    * (Dedup.simhashNearDupsExact + connectedComponents) — run at rep×
    * pure replication of the sf0.1 documents corpus (rep=100 ≈ 500k docs),
    * with PIGEONHOLE-EXACT closed forms. Pure replication leaves the
    * DISTINCT-TEXT universe untouched, so banding + verify cost is
    * invariant by construction and the pair set is a pure expansion:
    *   pairs(rep)    = base_pairs·rep² + eligible_docs·C(rep,2)
    *   clusters(rep) = base_clusters + (eligible_docs − docs_in_base_pairs)
    * (each base doc's copies weld onto its text's component; components
    * merge exactly as at base; previously-pairless eligible docs become
    * their own copy-cluster). The probe asserts both EXACTLY at rep/10 and
    * rep, and bounds the wall growth between the decades — quadratic
    * VERIFY work would be ~100×; output-bound expansion is ~rep²-row
    * minting through streamed joins, the q88 posture. */
  private def dedupChainProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.forall(_.isDigit))
      .getOrElse("/root/testdata/sf0.1")
    val rep = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(100)
    require(rep >= 10 && rep % 10 == 0, "dedupchain wants rep >= 10, a multiple of 10")
    val spark = session()
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $dt%.1f s")
      (a, dt)
    }
    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    def chain(r: Int): (Long, Long, Long, Double) = {
      val corpus =
        if (r == 1) base
        else base.crossJoin(spark.range(r).select(col("id").as("_r")))
          .select((col("doc_id") * r + col("_r")).as("doc_id"), col("text"))
      val big = corpus.repartition(64).cache()
      val nd = big.count()
      val p = graft.operators.Dedup.simhashNearDupsExact(
        big, col("doc_id"), col("text")).select("id_a", "id_b").cache()
      val (np, tPairs) = timed(s"rep=$r collapse+LSH+verify+expand ($nd docs)")(
        p.count())
      val docsInPairs = p.select(col("id_a").as("d"))
        .unionAll(p.select(col("id_b").as("d"))).distinct().count()
      val (nc, tCc) = timed(s"rep=$r connected components")(
        graft.operators.Dedup.connectedComponents(p)
          .select("component").distinct().count())
      p.unpersist(); big.unpersist()
      (np, nc, docsInPairs, tPairs + tCc)
    }
    val (basePairs, baseClusters, baseDocsInPairs, _) = chain(1)
    val eligibleDocs = base
      .select(graft.functions.TextExprs.cleanText(col("text")).as("cln"))
      .where(size(split(col("cln"), " ")) >= 3).count()
    val (p10, c10, _, w10) = chain(rep / 10)
    val (p100, c100, _, w100) = chain(rep)
    def expectPairs(r: Long): Long =
      basePairs * r * r + eligibleDocs * r * (r - 1) / 2
    val expectClusters: Long = baseClusters + (eligibleDocs - baseDocsInPairs)
    println(f"[probe] pairs rep=${rep / 10}: $p10 (closed form ${expectPairs(rep / 10)}); " +
      f"rep=$rep: $p100 (closed form ${expectPairs(rep)})")
    println(f"[probe] clusters rep=${rep / 10}: $c10, rep=$rep: $c100 " +
      f"(closed form $expectClusters); wall $w10%.1f s -> $w100%.1f s " +
      f"(x${w100 / w10}%.1f for 10x docs)")
    assert(p10 == expectPairs(rep / 10), s"pair closed form broken at rep=${rep / 10}")
    assert(p100 == expectPairs(rep), s"pair closed form broken at rep=$rep")
    assert(c10 == expectClusters && c100 == expectClusters,
      "cluster closed form broken")
    // quadratic verify would be ~100x between the decades; the collapsed
    // chain's wall is bound by the copies² PAIR OUTPUT it must mint
    // (~100x more ROWS at rep than rep/10, streamed) plus constant verify
    assert(w100 / w10 < 40.0, f"dedup chain wall superquadratic: x${w100 / w10}%.1f")
    spark.stop()
  }

  private def kcoreProbe(args: Array[String]): Unit = {
    val c = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(100000)
    val l = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = session()
    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $dt%.2f s")
      dt
    }
    def edges(cc: Long): org.apache.spark.sql.DataFrame = {
      val cyc = spark.range(cc).select(col("id").as("a"),
        ((col("id") + 1) % cc).as("b"))
      val hang = spark.range(cc).select(col("id").as("a"),
        (lit(cc) + col("id") * l).as("b"))
      val chain = spark.range(cc * (l - 1)).select(
        (lit(cc) + expr(s"(id div ${l - 1})") * l + col("id") % (l - 1)).as("a"),
        (lit(cc) + expr(s"(id div ${l - 1})") * l + col("id") % (l - 1) + 1).as("b"))
      cyc.unionAll(hang).unionAll(chain)
        .select(least(col("a"), col("b")).as("p1"),
          greatest(col("a"), col("b")).as("p2"))
    }
    Seq(c.toLong, 2L * c).foreach { cc =>
      var core: Array[(Long, Long)] = null
      val dt = timed(s"kcore C=$cc L=$l (${cc * (l + 1)} edges)") {
        core = graft.operators.KCore.core(edges(cc), k = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(core.length == cc, s"core size ${core.length} != $cc")
      assert(core.forall(_._2 == 2L), "every cycle node keeps degree 2")
      println(f"[probe] kcore C=$cc verified: core=${core.length} " +
        f"rounds=$l-deep peel, ${dt / (cc * (l + 1))}%.2e s/edge")
    }
  }

  private def skylineProbe(args: Array[String]): Unit = {
    val base = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt)
      .getOrElse(20000)
    val rep = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = session()
    def timed[A](name: String)(f: => A): Double = {
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $dt%.2f s")
      dt
    }
    def run(tag: String, pf: org.apache.spark.sql.DataFrame, n: Long): (Double, Double) = {
      val sweep = graft.operators.Skyline.frontier2d(pf, col("c"), col("sz"))
        .select("k")
      var sweepDf: org.apache.spark.sql.DataFrame = null
      val tS = timed(s"$tag sweep n=$n") {
        sweepDf = sweep.localCheckpoint(true)
      }
      var naiveDf: org.apache.spark.sql.DataFrame = null
      val tN = timed(s"$tag naive n=$n") {
        naiveDf = pf.as("p").join(pf.as("q"),
            col("q.c") <= col("p.c") && col("q.sz") >= col("p.sz") &&
              (col("q.c") < col("p.c") || col("q.sz") > col("p.sz")),
            "left_anti")
          .select(col("p.k").as("k")).localCheckpoint(true)
      }
      val diff = sweepDf.exceptAll(naiveDf).count() + naiveDf.exceptAll(sweepDf).count()
      require(diff == 0L, s"frontier mismatch for $tag n=$n")
      println(s"[probe] $tag n=$n: sweep == naive (${sweepDf.count()} frontier rows)")
      (tS, tN)
    }
    for (f <- Seq(1, rep)) {
      val n = base.toLong * f
      // dominator-dense: sizes cycle 1..50, price grows with the id —
      // nearly every point is dominated by an early small-id row
      val dense = spark.range(n).select(col("id").as("k"),
          (col("id") % 50 + 1).as("sz"), (col("id") * 10 + col("id") % 7).as("c"))
        .localCheckpoint(true)
      run("dense", dense, n)
      // antichain: price strictly RISES with size — more size always
      // costs more, so no point dominates any other: every row is on
      // the frontier and the anti-join's early exit never fires
      val anti = spark.range(n).select(col("id").as("k"),
          col("id").as("sz"), ((col("id") + 1) * 10).as("c"))
        .localCheckpoint(true)
      run("antichain", anti, n)
    }
    spark.stop()
  }

  private def backlogProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val widen = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = session()
    val close = graft.sources.Tables.table(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate").cast("date")).as("_c"))
    val spans0 = graft.sources.Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o"))
      .join(close, col("o_orderkey") === col("l_orderkey"))
      .select(col("o"), greatest(col("o"), col("_c")).as("c"))
      .localCheckpoint(true)
    for (f <- Seq(1, widen)) {
      val spans = spans0.select(col("o"),
        date_add(col("o"), (datediff(col("c"), col("o")) * f).cast("int")).as("c"))
      val deltas = spans.select(col("o").as("day"), lit(1L).as("d"))
        .unionAll(spans.select(date_add(col("c"), 1).as("day"), lit(-1L).as("d")))
        .groupBy("day").agg(sum("d").as("delta"))
      // localCheckpoint(true) materializes eagerly — the timer wraps the
      // checkpoint so it measures the actual dataflow, and the equality
      // join below reads the materialized tables without recompute
      val viaDelta = timed(s"delta prefix-sum widen=$f") {
        graft.operators.GlobalRank.withRunningSum(
            deltas, Seq(col("day").asc), col("delta"), "open_orders")
          .select(col("day"), col("open_orders")).localCheckpoint(true)
      }
      val viaNaive = timed(s"naive day-explode widen=$f") {
        spans.select(explode(expr("sequence(o, c)")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("open_naive"))
          .localCheckpoint(true)
      }
      // full equality on days where any span is open (the delta table
      // also carries zero-backlog gap days; the naive one cannot)
      val diff = viaDelta.join(viaNaive, Seq("day"), "full")
        .where(coalesce(col("open_orders"), lit(0L)) =!=
          coalesce(col("open_naive"), lit(0L)) &&
          coalesce(col("open_orders"), lit(0L)) =!= 0L)
        .count()
      require(diff == 0L, s"backlog mismatch on $diff days at widen=$f")
      println(s"[probe] widen=$f: delta == naive on every open day")
    }
    spark.stop()
  }

  private def bloomProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = session()
    import org.apache.spark.sql.DataFrame
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    def shingleH(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        split(graft.functions.TextExprs.cleanText(col("text")), " ").as("toks"))
      .select(col("doc_id"),
        explode(graft.operators.Dedup.shinglesOfToks(col("toks"), 5)).as("g"))
      .select(col("doc_id"), substring(md5(col("g")), 1, 16).as("h"))
    val benchH = shingleH(docs.where(col("doc_id") % 20 === 0))
      .select("h").distinct().localCheckpoint(true)
    val nBench = benchH.count()
    val js = array((0 until 4).map(j => lit(j)): _*)
    val base = docs.where(col("doc_id") % 20 =!= 0)
    val big = base.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"), col("text"))
    // two filter sizes: the fixture-sized 2^14 (SATURATES at this bench —
    // the classic under-sized-bloom failure mode, shown on purpose) and
    // the rule-sized 2^18 ≈ 20 bits/element, which must stay selective
    for ((nib, m) <- Seq((4, 1 << 14), (5, 1 << 18))) {
      def bpos(j: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(j.cast("string"), lit(":"), h)), 1, nib), 16, 10)
          .cast("long") % m
      val bits = benchH.select(explode(js).as("j"), col("h"))
        .select(bpos(col("j"), col("h")).as("pos")).distinct().localCheckpoint(true)
      val nBits = bits.count()
      println(f"[probe] bloom m=$m: $nBench bench shingles → $nBits set bits " +
        f"(fill ${nBits.toDouble / m}%.3f, constant in rep)")
      def run(train: DataFrame, tag: String): (Long, Long) = {
        val t0 = System.nanoTime()
        val tr = shingleH(train).distinct()
        val hit = tr.select(col("doc_id"), col("h"), explode(js).as("j"))
          .select(col("doc_id"), col("h"), bpos(col("j"), col("h")).as("pos"))
          .join(broadcast(bits), "pos")
          .groupBy("doc_id", "h").agg(count(lit(1)).as("_k"))
          .where(col("_k") === 4)
          .localCheckpoint(true)
        val nCand = hit.select("doc_id").distinct().count()
        val nDirty = hit.join(benchH, "h").select("doc_id").distinct().count()
        println(f"[probe] bloom m=$m $tag: candidates=$nCand exact-contaminated=$nDirty " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        (nCand, nDirty)
      }
      val (c1, d1) = run(base, "rep=1")
      val (cN, dN) = run(big, s"rep=$rep")
      assert(cN == rep * c1 && dN == rep * d1,
        s"pure replication must scale candidate/contaminated counts by rep: " +
          s"($cN, $dN) vs rep × ($c1, $d1)")
      println(s"[probe] m=$m closed form verified: counts scale exactly ×$rep")
    }
    spark.stop()
  }

  /** Knn mode: q147's mutual-kNN graph at bucketed-candidate scale — the
    * documented 100 TB posture where candidates come from an index
    * partition instead of the n² brute force. 10-plane LSH buckets bound
    * the candidate stream (volume asserted against the closed form
    * Σ_b |b|·(|b|−1) from the bucket histogram); perturbed replication
    * makes every copy family a dense near-neighbor cluster, so the graph
    * must keep its mutual edges overwhelmingly intra-family. */
  private def knnProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = session()
    import graft.functions.VectorExprs
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
    val big = emb.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("vec_id") * rep + col("_r")).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") + col("_r").cast("double") * 1e-4).as("embedding"))
      .repartition(64)
    val planes = VectorExprs.deterministicPlanes(10, 64)
    val v = big.select(col("vec_id"), col("embedding"),
        VectorExprs.normNative(col("embedding")).as("nrm"),
        VectorExprs.hyperplaneBucket(col("embedding"), planes).as("bkt"))
      .localCheckpoint(true)
    val n = v.count()
    val hist = v.groupBy("bkt").count().collect().map(_.getLong(1))
    val expectPairs = hist.map(c => c * (c - 1)).sum
    println(s"[probe] knn: $n vectors → ${hist.length} buckets " +
      s"(max ${hist.max}), closed-form candidate rows $expectPairs")
    val a = v.select(col("bkt"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = v.select(col("bkt"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    var t0 = System.nanoTime()
    // checkpoint the scored candidate stream so the closed-form count and
    // the top-k pass share ONE evaluation of the 27M-row cosine fold
    val sims = a.join(b, "bkt").where(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorExprs.cosineHoisted(col("va"), col("vb"),
          col("na"), col("nb")), 6).as("cos"))
      .localCheckpoint(true)
    val nPairs = sims.count()
    println(f"[probe] knn: candidate scoring ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"($nPairs pair rows)")
    assert(nPairs == expectPairs,
      s"bucketed candidate volume must match the closed form: $nPairs vs $expectPairs")
    t0 = System.nanoTime()
    val topk = graft.operators.TopKAgg
      .perKey(sims, col("id_a"), col("cos"), col("id_b"), 4)
      .select(col("_k").as("id_a"), col("id").as("id_b"))
      .localCheckpoint(true)
    val mutual = topk.join(
        topk.select(col("id_b").as("id_a"), col("id_a").as("id_b")),
        Seq("id_a", "id_b"))
      .where(col("id_a") < col("id_b"))
      .localCheckpoint(true)
    val nMutual = mutual.count()
    // an empty mutual graph would make the share check below vacuously
    // true (0 >= 0.99·0) AND print NaN — fail loudly instead
    assert(nMutual > 0, "mutual-kNN graph must not be empty")
    val intra = mutual.where(expr(s"id_a DIV $rep = id_b DIV $rep")).count()
    println(f"[probe] knn: top-4 + mutuality ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"($nMutual mutual edges, intra-family share ${intra.toDouble / nMutual}%.4f)")
    assert(intra >= (0.99 * nMutual).toLong,
      "perturbed replicas must pick their own family as nearest neighbors")
    t0 = System.nanoTime()
    val cc = graft.operators.Dedup.connectedComponents(mutual)
    val nClusters = cc.select("component").distinct().count()
    println(f"[probe] knn: CC ${(System.nanoTime() - t0) / 1e9}%.1f s → " +
      s"$nClusters clusters over ${cc.count()} non-singleton nodes")
    spark.stop()
  }

  private def diffProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = session()
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"), col("text"))
    val n = big.count()
    println(s"[probe] diff corpus: $n docs per version side (rep=$rep)")
    val v1 = big.where(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = big.where(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h2"))
    val t0 = System.nanoTime()
    val byStatus = v1.join(v2, Seq("doc_id"), "full_outer")
      .select(when(col("h1").isNull, lit("added"))
        .when(col("h2").isNull, lit("removed"))
        .when(col("h1") =!= col("h2"), lit("changed")).as("status"))
      .where(col("status").isNotNull)
      .groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(f"[probe] full-outer diff: ${(System.nanoTime() - t0) / 1e9}%.1f s → $byStatus")
    // closed form over the dense replicated id space [0, n·rep)
    val ids = (0L until n).iterator
    var add = 0L; var rem = 0L; var chg = 0L
    ids.foreach { i =>
      val in1 = i % 7 != 3; val in2 = i % 13 != 5
      if (!in1 && in2) add += 1
      else if (in1 && !in2) rem += 1
      else if (in1 && in2 && i % 11 == 0) chg += 1
    }
    assert(byStatus == Map("added" -> add, "removed" -> rem, "changed" -> chg),
      s"closed form (${(add, rem, chg)}) vs measured $byStatus")
    println(s"[probe] closed-form counts verified (added=$add removed=$rem changed=$chg)")
    spark.stop()
  }

  /** PageRank under pure corpus replication: texts unchanged, rep× rows.
    * Every edge weight and out-weight scales by exactly rep, so each
    * contribution (rep·w)/(rep·outw)·pr has the SAME real quotient as the
    * base corpus — the rank vector is closed-form INVARIANT under
    * replication, while the edge-build does rep× the streaming work. The
    * probe verifies both: identical ranks (≤1e-9, summation-order noise
    * only) and near-linear edge/iteration wall. */
  private def pageRankProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session()
    def ranksOf(d: org.apache.spark.sql.DataFrame): Map[String, Double] = {
      val toks = d.select(split(lower(
        graft.functions.TextExprs.cleanText(col("text"))), " ").as("ts"))
      graft.operators.PageRank.ranks(
          graft.operators.PageRank.adjacencyEdges(toks), iters = 5, damping = 0.85)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val base = timed("pagerank 1x (edges + 5 iterations)")(ranksOf(docs))
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select(col("text")).repartition(64).cache()
    println(s"[probe] pagerank corpus: ${big.count()} docs (rep=$rep), vocab ${base.size}")
    val scaled = timed(s"pagerank ${rep}x (edges + 5 iterations)")(ranksOf(big))
    assert(scaled.keySet == base.keySet,
      s"replication must not change the vocabulary: ${scaled.size} vs ${base.size}")
    val maxDiff = base.map { case (t, p) => math.abs(scaled(t) - p) }.max
    assert(maxDiff < 1e-9,
      s"rank vector must be replication-invariant (same w/outw quotients); max diff $maxDiff")
    println(f"[probe] replication invariance verified: max |Δpr| = $maxDiff%.2e")
    big.unpersist()
    spark.stop()
  }

  /** CDC chunking under pure replication (fresh ids, texts unchanged):
    * boundaries are a pure function of content, so each copy chunks
    * identically — every chunk hash's occurrence count scales EXACTLY by
    * rep and the distinct-hash space is unchanged. The probe verifies the
    * closed form on the full duplicate index and measures the chunking
    * wall (per-doc window + hash agg) as the corpus scales. */
  private def cdcProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = session()
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    def occ(d: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.operators.CdcChunk.chunks(d, col("doc_id"), col("text"))
        .groupBy("h").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = timed("cdc chunk 1x")(occ(docs))
    val big = docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select((col("doc_id") * rep + col("_r")).as("doc_id"), col("text"))
      .repartition(64).cache()
    println(s"[probe] cdc corpus: ${big.count()} docs (rep=$rep), ${base.size} distinct chunks at 1x")
    val scaled = timed(s"cdc chunk ${rep}x")(occ(big))
    assert(scaled.keySet == base.keySet,
      s"replication must not mint new chunk hashes: ${scaled.size} vs ${base.size}")
    val bad = base.collectFirst { case (h, n) if scaled(h) != n * rep => (h, n, scaled(h)) }
    assert(bad.isEmpty,
      s"every chunk count must scale exactly ${rep}x, first violation: $bad")
    println(s"[probe] closed form verified: ${base.size} chunk hashes all at exactly ${rep}x")
    big.unpersist()
    spark.stop()
  }

  /** One-pass Gram/PCA under replication: Σxxᵀ and Σx scale by rep and n
    * by rep, so covariance — and therefore the power-iteration loadings
    * and λ — are exactly invariant; the aggregate itself streams rep× the
    * rows through the same fixed (d+1)² buffer. */
  private def gramProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = session()
    def load(d: org.apache.spark.sql.DataFrame): Array[(Long, Double, Double)] =
      graft.operators.Pca.topComponent(d, col("embedding"), dim = 64, iters = 3)
        .orderBy("dim_idx").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .select("embedding")
    val base = timed("gram+pca 1x")(load(emb))
    val big = emb.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .select(col("embedding")).repartition(64).cache()
    println(s"[probe] gram corpus: ${big.count()} vectors (rep=$rep)")
    val scaled = timed(s"gram+pca ${rep}x")(load(big))
    val maxDiff = base.zip(scaled).map { case ((_, l0, g0), (_, l1, g1)) =>
      math.max(math.abs(l1 - l0), math.abs(g1 - g0)) }.max
    assert(maxDiff < 1e-9,
      s"covariance (hence loadings/lambda) must be replication-invariant; max diff $maxDiff")
    println(f"[probe] replication invariance verified: max |Δ| = $maxDiff%.2e")
    big.unpersist()
    spark.stop()
  }

  /** Lexindex mode (VERDICT r16 #6): the LexIndex query-path scale
    * contract measured at a 10× corpus. The grown corpus is the base
    * documents plus 9·|base| FILLER docs with a DISJOINT minted vocabulary
    * (two unique tokens per filler doc), so:
    *  (a) matched postings for the probe terms are INVARIANT while the
    *      corpus grows 10× (and the vocabulary ~20·|base|) — the query
    *      wall must track the former, not the latter;
    *  (b) the vocabulary growth crosses [[graft.operators.LexIndex
    *      .nBucketsFor]] steps, so the modulus rises and the
    *      PRUNED-PARTITION FRACTION |term buckets| / nBuckets SHRINKS —
    *      the raise-the-knob-with-n contract applied to the artifact
    *      layout (bigger corpus ⇒ a query touches a SMALLER fraction).
    * Usage: runMain graft.ScaleProbe lexindex [sfDir] */
  private def lexIndexProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    import spark.implicits._
    val terms = Seq("spark", "vector", "stream")
    val base = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    val filler = spark.range(9L * nBase).select(
      (col("id") + 1000000000L).as("doc_id"),
      concat(lit("fillertok"), col("id"), lit(" gtok"), col("id")).as("text"))
    val big = base.unionByName(filler)
    def timedMin(runs: Int)(f: => Unit): Double =
      (1 to runs).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    def buildAndProbe(tag: String, df: org.apache.spark.sql.DataFrame)
        : (Int, Int, Double, Long) = {
      val dir = s"target/probe_lexindex/$tag"
      val t0 = System.nanoTime()
      graft.operators.LexIndex.build(df, col("doc_id"), col("text"), dir)
      println(f"[probe] build $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val (_, _, nb) = graft.operators.LexIndex.stats(spark, dir)
      val termBuckets = terms.toDF("t")
        .select(pmod(xxhash64(col("t")), lit(nb)).as("b"))
        .distinct().as[Long].collect().length
      // matched postings = Σ dfreq over the probe terms (manifest-resolved
      // dict — rebuilds over a reused probe dir advance the generation)
      val matched = graft.operators.LexIndex.liveDict(spark, dir)
        .where(col("token").isin(terms: _*))
        .agg(coalesce(sum("dfreq"), lit(0L))).head().getLong(0)
      val plan = graft.operators.LexIndex.query(spark, dir, terms)
        .queryExecution.executedPlan.toString
      require(plan.contains("PartitionFilters") && plan.contains("tok_bucket"),
        "query plan lost its static bucket pruning")
      val wall = timedMin(3) {
        graft.operators.LexIndex.query(spark, dir, terms).collect()
      }
      println(f"[probe] $tag: nBuckets=$nb termBuckets=$termBuckets " +
        f"(fraction ${termBuckets.toDouble / nb}%.4f) matched=$matched " +
        f"query wall $wall%.2f s")
      (nb, termBuckets, wall, matched)
    }
    val (nb0, tb0, w0, m0) = buildAndProbe("base", base)
    val (nb1, tb1, w1, m1) = buildAndProbe("big", big)
    assert(m1 == m0,
      s"matched postings must be invariant under disjoint-vocab growth: $m0 -> $m1")
    assert(nb1 > nb0, s"nBuckets must step with the vocabulary: $nb0 -> $nb1")
    assert(tb1.toDouble / nb1 < tb0.toDouble / nb0,
      f"pruned fraction must SHRINK as the corpus grows: " +
        f"${tb0.toDouble / nb0}%.4f -> ${tb1.toDouble / nb1}%.4f")
    assert(w1 / w0 < 4.0,
      f"query wall must track matched postings, not corpus size: x${w1 / w0}%.1f")
    println(f"[probe] lexindex contract holds: 10x corpus, matched postings " +
      f"invariant ($m0), fraction ${tb0.toDouble / nb0}%.4f -> " +
      f"${tb1.toDouble / nb1}%.4f, wall x${w1 / w0}%.2f")
    spark.stop()
  }

  /** Annquery mode (VERDICT r16 #7 — the second decade for ANN): the
    * IVFADC QUERY path at rep× replicated vectors with FROZEN quantizers.
    * Build fits on the base corpus; copies arrive via [[graft.operators
    * .AnnIndex.append]] (one argmin+encode pass per ingest, zero Lloyd),
    * so every copy encodes identically and the probed-cell populations
    * scale EXACTLY with replication. Asserts, at rep/10 and rep:
    *  (a) candidates/query = the probed cells' population — checked by
    *      the exact ×10 between the decades, per query;
    *  (b) recall@5 at the DISTINCT-vector grain is FLAT across the
    *      decades (copy-invariant ADC ⇒ the approximate distinct top-k
    *      cannot move when only multiplicity grows);
    *  (c) the query wall is bounded by the candidate growth (~10×), never
    *      the corpus² — printed for the record.
    * Usage: runMain graft.ScaleProbe annquery [sfDir] [rep] */
  private def annQueryProbe(args: Array[String]): Unit = {
    val sfDir = args.headOption.filterNot(_.forall(_.isDigit))
      .getOrElse("/root/testdata/sf0.1")
    val rep = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(100)
    require(rep >= 10 && rep % 10 == 0, "annquery wants rep >= 10, a multiple of 10")
    val spark = session()
    val base = graft.sources.Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).repartition(32).cache()
    val nBase = base.count()
    val dir = "target/probe_annquery"
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $dt%.1f s"); (a, dt)
    }
    def copies(lo: Long, hi: Long) =
      base.crossJoin(spark.range(lo, hi).select(col("id").as("_c")))
        .select((col("vec_id") + col("_c") * nBase).as("vec_id"), col("embedding"))
    timed(s"build (quantizers fit once on $nBase base vectors)")(
      graft.operators.AnnIndex.build(base, col("vec_id"), col("embedding"), dir))
    val q = base.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    // exact distinct-grain ground truth from the base corpus (L2², the
    // ADC objective), top-5 per query
    import org.apache.spark.sql.expressions.Window
    val exactTop = q.crossJoin(base.select(col("vec_id").as("cid"),
        col("embedding").cast("array<double>").as("cv")))
      .select(col("query_id"), col("cid"),
        round(graft.functions.VectorExprs.dot(col("qv"), col("qv")) +
          graft.functions.VectorExprs.dot(col("cv"), col("cv")) -
          lit(2.0) * graft.functions.VectorExprs.dot(col("qv"), col("cv")), 6).as("d2"))
      .withColumn("r", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2").asc, col("cid").asc)))
      .where(col("r") <= 5)
      .select(col("query_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def probe(tag: String): (Map[Long, Long], Double, Double) = {
      val all = graft.operators.AnnIndex.query(spark, dir, q,
        k = Int.MaxValue, nProbe = 2)
      val cand = all.groupBy("query_id").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val approxTop = all
        .withColumn("orig", pmod(col("corpus_id"), lit(nBase)))
        .groupBy("query_id", "orig").agg(min("adc").as("adc"))
        .withColumn("r", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc").asc, col("orig").asc)))
        .where(col("r") <= 5)
        .select(col("query_id"), col("orig"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (approxTop intersect exactTop).size.toDouble / exactTop.size
      val (_, wall) = timed(s"$tag top-5 query (8 queries, nProbe=2)")(
        graft.operators.AnnIndex.query(spark, dir, q, k = 5, nProbe = 2).collect())
      println(f"[probe] $tag: candidates/query ${cand.values.sum / cand.size} avg, " +
        f"distinct-grain recall@5 $recall%.3f")
      (cand, recall, wall)
    }
    timed(s"append decade 1 (copies 1..${rep / 10 - 1}, frozen quantizers)")(
      graft.operators.AnnIndex.append(spark, dir, copies(1, rep / 10),
        col("vec_id"), col("embedding")))
    val (cand10, rec10, w10) = probe(s"rep=${rep / 10}")
    timed(s"append decade 2 (copies ${rep / 10}..${rep - 1})")(
      graft.operators.AnnIndex.append(spark, dir, copies(rep / 10, rep),
        col("vec_id"), col("embedding")))
    val (cand100, rec100, w100) = probe(s"rep=$rep")
    cand10.foreach { case (qid, n) =>
      assert(cand100(qid) == 10 * n,
        s"candidates/query must scale exactly with probed-cell population: " +
          s"query $qid: $n -> ${cand100(qid)} (want ${10 * n})")
    }
    assert(rec10 == rec100,
      f"distinct-grain recall must be FLAT across decades: $rec10%.3f -> $rec100%.3f")
    assert(w100 / w10 < 40.0,
      f"query wall outgrew the candidate set: x${w100 / w10}%.1f")
    println(f"[probe] annquery contract holds: candidates x10 exact per query, " +
      f"recall flat at $rec100%.3f, wall $w10%.1f s -> $w100%.1f s " +
      f"(x${w100 / w10}%.1f for 10x candidates)")
    base.unpersist()
    spark.stop()
  }
}
