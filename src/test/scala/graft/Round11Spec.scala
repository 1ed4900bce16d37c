package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: star-contraction connected components, the
  * broadcast-backed CentMatrix path, and the q102 rank swap. */
class Round11Spec extends SparkSpec {

  private def sym(df: org.apache.spark.sql.DataFrame) = {
    val p = df.select(col("id_a").as("src"), col("id_b").as("dst"))
    p.union(p.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  test("starComponents ≡ driver union-find on a random graph") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter(p => p._1 != p._2).distinct.toDF("id_a", "id_b")
    // reference: the small-graph driver union-find path
    val viaDriver = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (labels, rounds) = graft.operators.Dedup.starComponents(sym(pairs), 25)
    val viaStars = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rounds < 25, "star contraction must actually converge")
    assert(viaStars == viaDriver,
      s"mismatch: ${(viaDriver -- viaStars).take(5)} / ${(viaStars -- viaDriver).take(5)}")
  }

  test("star contraction is logarithmic on a chain; min-label pays diameter") {
    val sp = spark
    import sp.implicits._
    // path graph 0-1-...-L: worst case for per-hop label propagation
    val L = 64
    val chain = (0 until L).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (labels, starRounds) = graft.operators.Dedup.starComponents(sym(chain), 50)
    assert(labels.count() == L + 1)
    assert(labels.where(col("component") =!= 0L).count() == 0,
      "every chain node must label to the minimum id 0")
    val logBound = 2 * math.ceil(math.log(L.toDouble) / math.log(2)).toInt + 3
    assert(starRounds <= logBound,
      s"star rounds $starRounds exceed the O(log) bound $logBound on an $L-link chain")
    // the regime stars fix: min-label walks the chain one hop per round
    // (smaller L to keep the round-per-job cost testable)
    val Lm = 24
    val chainM = (0 until Lm).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val (_, mlRounds) = graft.operators.Dedup.minLabelComponents(sym(chainM), Lm + 5)
    assert(mlRounds >= Lm,
      s"min-label should pay ~diameter rounds on a chain (got $mlRounds for $Lm links)")
    assert(starRounds < mlRounds,
      "stars must beat min-label on a chain even at a quarter the length")
  }

  test("broadcast-backed CentMatrix ≡ inline for every ANN kernel") {
    val e = graft.sources.Tables.table(spark, sf(), "embeddings").limit(64)
      .select(col("vec_id"), col("embedding"))
    val cents = e.orderBy("vec_id").limit(6).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val inline = graft.plans.InlineCents(cents.map(_.toIndexedSeq))
    val bcast = graft.plans.BcastCents(
      spark.sparkContext.broadcast(cents.map(_.clone()).toArray), cents.length)
    import graft.plans.AnnNative
    val v = col("embedding").cast("array<double>")
    def run(cm: graft.plans.CentMatrix) = e.select(col("vec_id"),
        AnnNative.argminScore(v, cm)._1.as("amin"),
        AnnNative.argTopM(v, cm, 3).as("atop"),
        AnnNative.argMaxDot(v, cm).as("amax"),
        AnnNative.topMByDot(v, cm, 3).as("tdot"),
        AnnNative.adcLut(v, cm, 0).as("lut"),
        AnnNative.subCentroid(v, AnnNative.argMaxDot(v, cm), cm).as("resid"))
      .collect().map(_.toString).sorted.toSeq
    assert(run(inline) == run(bcast),
      "broadcast and inline matrices must produce identical results")
  }

  test("AnnNative.matrix picks broadcast above the size threshold") {
    val small = Seq.fill(4)(Array.fill(16)(0.5))
    val big = Seq.fill(10000)(Array.fill(16)(0.5)) // 160k elems > 64k threshold
    assert(graft.plans.AnnNative.matrix(spark, small).isInstanceOf[graft.plans.InlineCents])
    assert(graft.plans.AnnNative.matrix(spark, big).isInstanceOf[graft.plans.BcastCents])
  }

  test("identically-built inline ANN expressions are semanticEquals") {
    // the advice finding: raw Array params degraded equals to reference
    // identity, defeating subexpression elimination
    import org.apache.spark.sql.graft.ColumnBridge
    val cents = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val child = ColumnBridge.expression(col("x"))
    val a = graft.plans.ArgMinScoreExpr(child, graft.plans.InlineCents(cents))
    val b = graft.plans.ArgMinScoreExpr(child,
      graft.plans.InlineCents(cents.map(c => c.map(identity))))
    assert(a == b, "content-equal inline matrices must make expressions equal")
  }

  test("oracle preconditions: sf0.01 fits inside the Lloyd sample cap; q124 corpus k=4") {
    // the unrolled DuckDB Lloyd twins describe a FULL-table fit; the engine
    // fits on the md5-draw sample, which equals the full table only while
    // n <= the cap — pin that for the verify fixture
    val n = graft.sources.Tables.table(spark, sf("0.01"), "embeddings").count()
    assert(n <= graft.operators.KMeansOp.DefaultFitSampleCap,
      s"sf0.01 embeddings ($n rows) exceed the fit-sample cap — oracles would drift")
    val nCorpus = graft.sources.Tables.table(spark, sf("0.01"), "embeddings")
      .where(col("vec_id") % 10 =!= 0).count()
    assert(graft.operators.SemDeDup.cellCount(nCorpus) == 4,
      s"q124's oracle pins k=4; cellCount($nCorpus) moved")
  }

  test("sampled fit still learns k centroids when the corpus exceeds the cap") {
    val sp = spark
    import sp.implicits._
    val big = (0 until 3000).map(i => (i.toLong, Seq.tabulate(8)(d =>
      math.sin(i * 8 + d).toFloat))).toDF("id", "v")
    val (cents, _) = graft.operators.KMeansOp.fit(
      big, col("id"), col("v"), k = 4, iters = 2, fitSampleCap = 256)
    assert(cents.length == 4 && cents.forall(_.length == 8))
  }

  test("q123: the index query path plans no aggregate and no embeddings scan") {
    val df = SparkEntry.queries("q123_ann_index_query")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Aggregate"),
      s"query side must run ZERO Lloyd iterations (no aggregate stages):\n${p.take(1000)}")
    // the only embeddings read is the 8-row QUERY fixture (vec_id < 8
    // pushed down); the corpus side must come from the stored codes.
    // PlanInspect reads 2: the probe branch, and the same branch under the
    // dynamic-pruning SubqueryAdaptiveBroadcast that reuses its broadcast
    val embScans = PlanInspect(df).scansOf("embeddings")
    assert(embScans === 2 && p.contains("LessThan(vec_id,8)"),
      s"expected only the bounded query-vector scan, got $embScans embeddings scans")
    assert(p.contains("ann_index"), "corpus side must scan the stored artifact")
    // scale orientation: the 100 TB codes artifact STREAMS while the
    // bounded probe set broadcasts, and the probe's cells dynamically
    // prune the cell-partitioned scan — unprobed cell directories are
    // never read
    assert(p.contains("dynamicpruning") && p.contains("SubqueryAdaptiveBroadcast"),
      s"probed cells must partition-prune the codes scan:\n${p.take(1200)}")
  }

  test("q123 ≡ q115 row-for-row (build+query round trip through the artifact)") {
    val a = SparkEntry.queries("q123_ann_index_query")(spark, sf())
      .collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.queries("q115_ivfpq_search")(spark, sf())
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "the stored index must reproduce the inline IVFADC answers")
  }

  test("q124: corpus-internal pairs never re-verify; output is batch-only") {
    val sp = spark
    import sp.implicits._
    // corpus holds an IDENTICAL internal pair (0, 1); the batch vector is
    // orthogonal to it — nothing in the batch may drop because of a
    // corpus-corpus duplication, and no corpus row may appear in output
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 1f, 0f)),
      (4L, Seq(0f, 0f, 0.9f, 0.1f)), (5L, Seq(0f, 0.8f, 0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val batch = Seq((100L, Seq(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = graft.operators.SemDeDup.semdedupIncremental(
      corpus, batch, col("vec_id"), col("embedding"), threshold = 0.95)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(100L),
      "output must cover exactly the batch ids")
    assert(rows.forall(_.getBoolean(2)),
      "a corpus-internal duplicate must not drop an unrelated batch row")
    // and a batch row that DOES duplicate corpus content drops
    val batch2 = Seq((101L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val out2 = graft.operators.SemDeDup.semdedupIncremental(
      corpus, batch2, col("vec_id"), col("embedding"), threshold = 0.95).collect()
    assert(out2.length == 1 && !out2.head.getBoolean(2) && out2.head.getLong(1) >= 2,
      s"batch dup of the corpus pair must drop with n_dups >= 2: ${out2.toSeq}")
  }

  test("q125: snake sharding balances tokens; plan has no Window node") {
    val out = SparkEntry.queries("q125_shard_manifest")(spark, sf())
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8 && rows.map(_._1).toSet == (0L until 8L).toSet)
    assert(rows.map(_._2).sum == 500, "every doc lands in exactly one shard")
    // snake dealing bounds the spread: after each full down-and-back round
    // the loads differ by at most one round's doc-size delta; empirically
    // the spread must stay far below one shard's share
    val toks = rows.map(_._3)
    val maxDoc = rows.map(_._4).max
    assert(toks.max - toks.min <= 2 * maxDoc,
      s"shard spread ${toks.max - toks.min} vs max doc $maxDoc — snake order broken")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "shard rank must use GlobalRank, not a window")
  }

  test("q126: statuses match the closed-form slice arithmetic; diff excludes unchanged") {
    val out = SparkEntry.queries("q126_snapshot_diff")(spark, sf())
    val byStatus = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = graft.sources.Tables.table(spark, sf(), "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val added = ids.count(i => i % 7 == 3 && i % 13 != 5)
    val removed = ids.count(i => i % 13 == 5 && i % 7 != 3)
    val changed = ids.count(i => i % 11 == 0 && i % 7 != 3 && i % 13 != 5)
    assert(byStatus == Map("added" -> added.toLong, "removed" -> removed.toLong,
      "changed" -> changed.toLong), s"got $byStatus")
    // full-outer on the id admits no broadcast; the diff must plan the
    // shuffle join on pre-hashed (id, digest) pairs
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), "snapshot diff must be a full-outer join")
    assert(!plan.contains("BroadcastHashJoin"), "full-outer cannot broadcast")
  }

  test("q127: every doc kept ≥ once; copy_idx dense; copies bounded by ceil(epochs)") {
    val out = SparkEntry.queries("q127_repeat_upsample")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc.size == 500, s"all docs repeat >= 1 epoch, got ${byDoc.size}")
    byDoc.foreach { case (doc, rows) =>
      val n = rows.head._3
      assert(rows.map(_._4).sorted.toSeq == (0L until n).toSeq,
        s"doc $doc: copy_idx must be dense 0..${n - 1}")
      assert(n >= 1 && n <= 4, s"doc $doc: $n copies outside [1, cap]")
    }
    // fractional-epoch draw must actually split a source's docs (factors
    // here are non-integer for every non-max source)
    val perSourceDistinct = out.groupBy(_._2).map(_._2.map(_._3).distinct.size)
    assert(perSourceDistinct.exists(_ > 1),
      "expected at least one source with both floor and floor+1 copy counts")
  }

  test("q128: per-shard cum totals equal q125's manifest; packs dense; no Window") {
    val out = SparkEntry.queries("q128_export_pipeline")(spark, sf())
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cross-query consistency: the composition's per-shard token totals
    // must equal the standalone shard manifest's
    val manifest = SparkEntry.queries("q125_shard_manifest")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val maxCum = rows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).max }
    assert(maxCum == manifest, s"shard totals diverge: $maxCum vs $manifest")
    // packs within a shard are dense from 0 and monotone in cum order
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      val packs = rs.sortBy(_._3).map(_._4)
      assert(packs.head == 0, s"shard $shard: first pack must be 0")
      assert(packs.zip(packs.tail).forall { case (a, b) => b == a || b == a + 1 || b > a },
        s"shard $shard: pack ids must be nondecreasing in stream order")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-shard prefix sums must ride the range exchange, not a window")
  }

  test("q129: upsert artifact holds every vector exactly once; top-5 per query served") {
    val out = SparkEntry.queries("q129_ann_index_upsert")(spark, sf())
    val rows = out.collect()
    assert(rows.length == 40, s"8 queries × top-5, got ${rows.length}")
    val ix = "target/ann_index_upsert/sf0.001"
    val codes = graft.sources.Tables.parquet(spark, s"$ix/codes",
      graft.operators.IndexLog.snapshotFiles(spark, ix, "codes").head.map(f => s"$ix/$f"))
    val n = graft.sources.Tables.table(spark, sf(), "embeddings").count()
    assert(codes.count() == n, "artifact must hold standing + appended rows")
    assert(codes.select("vec_id").distinct().count() == n, "no duplicate encodes")
  }

  test("cosineHoisted ≡ native cosine bit-for-bit, incl. the zero-vector guard") {
    val sp = spark
    import sp.implicits._
    import graft.functions.VectorExprs
    val e = graft.sources.Tables.table(spark, sf(), "embeddings").limit(100)
      .select(col("vec_id"), col("embedding"))
    val z = Seq((-1L, Seq.fill(64)(0f))).toDF("vec_id", "embedding")
    val both = e.union(z)
    val l = both.select(col("embedding").as("va"),
      VectorExprs.normNative(col("embedding")).as("na"))
    val r = both.select(col("embedding").as("vb"),
      VectorExprs.normNative(col("embedding")).as("nb"))
    val diff = l.crossJoin(r).select(
        VectorExprs.cosine(col("va"), col("vb")).as("c"),
        VectorExprs.cosineHoisted(col("va"), col("vb"), col("na"), col("nb")).as("h"))
      .where(not(col("c") === col("h")))
    assert(diff.count() == 0, s"hoisted cosine diverges: ${diff.take(3).toSeq}")
  }

  test("sub_centroid rejects an out-of-range index with a clear error") {
    val sp = spark
    import sp.implicits._
    val df = Seq((Seq(1.0, 2.0), 5)).toDF("v", "i")
    val cm = graft.plans.InlineCents(Seq(Seq(0.0, 0.0)))
    val err = intercept[Exception] {
      df.select(graft.plans.AnnNative.subCentroid(col("v"), col("i"), cm)).collect()
    }
    assert(err.getMessage != null)
  }

  test("q130: damped PageRank conserves total rank mass on the symmetric graph") {
    // with pr₀ = 1 and no dangling nodes, Σpr = (1−d)|V| + d·Σpr stays
    // exactly |V| every iteration — a whole-dataflow invariant (any
    // mis-normalized contribution or dropped node breaks it)
    val df = SparkEntry.queries("q130_textrank")(spark, sf())
    val rows = df.collect()
    val total = rows.map(_.getDouble(1)).sum
    assert(rows.nonEmpty)
    assert(math.abs(total - rows.length) < 1e-3,
      s"rank mass ${total} drifted from |V| = ${rows.length}")
    assert(rows.forall(_.getDouble(1) > 0.15 - 1e-9),
      "every ranked node holds at least the teleport share (1-d)")
  }

  test("PageRank ranks a hub above spokes and matches the closed form on a star") {
    val sp = spark
    import sp.implicits._
    // star graph: hub h adjacent to s1..s4 (symmetric, weight 1)
    val adj = Seq("s1", "s2", "s3", "s4").flatMap(s => Seq(("h", s, 1L), (s, "h", 1L)))
      .toDF("u", "v", "w")
    val pr = graft.operators.PageRank.ranks(adj, iters = 5, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // driver replay of the same recurrence: hub collects all 4 spokes'
    // full mass (outw_spoke = 1), each spoke gets hub/4 (outw_hub = 4)
    val d = 0.85
    var (h, spk) = (1.0, 1.0)
    for (_ <- 1 to 5) {
      val (hn, sn) = ((1 - d) + d * 4 * spk, (1 - d) + d * h / 4)
      h = hn; spk = sn
    }
    assert(math.abs(pr("h") - h) < 1e-9, s"hub ${pr("h")} vs driver replay $h")
    assert(math.abs(pr("s1") - spk) < 1e-9, s"spoke ${pr("s1")} vs driver replay $spk")
    assert(pr("h") > pr("s1") * 2, "hub must dominate spokes")
  }

  test("GramAgg one-pass covariance ≡ driver brute force; PCA loading is a unit vector") {
    val e = graft.sources.Tables.table(spark, sf(), "embeddings").limit(200)
    val vecs = e.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length; val dim = 64
    val mu = Array.tabulate(dim)(i => vecs.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      vecs.map(v => v(i) * v(j)).sum / n - mu(i) * mu(j))
    // driver power iteration, same recipe as Pca.topComponent
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * v(j)).sum)
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
    }
    val got = graft.operators.Pca.topComponent(e, col("embedding"), dim = 64, iters = 3)
      .orderBy("dim_idx").collect()
    val loadings = got.map(_.getDouble(1))
    assert(math.abs(got.head.getDouble(2) - lambda) < 1e-9,
      s"lambda ${got.head.getDouble(2)} vs driver $lambda")
    loadings.zip(v).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) < 1e-9, s"loading[$i] $a vs driver $b") }
    val norm = math.sqrt(loadings.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-12, s"loading must be unit-norm, got $norm")
  }

  test("hashNbClassifier separates a vocab-disjoint seed and matches driver NB math") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "good", "excellent great wonderful"),
      (2L, "good", "great wonderful excellent excellent"),
      (3L, "bad", "terrible awful dreadful"),
      (4L, "bad", "awful dreadful terrible terrible")).toDF("doc_id", "grp", "text")
    val got = graft.operators.TextAnalysis.hashNbClassifier(
        docs, col("doc_id"), col("text"), col("grp") === "good")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(got(1L)._2 && got(2L)._2, "positive-vocab docs must be kept")
    assert(!got(3L)._2 && !got(4L)._2, "negative-vocab docs must be dropped")
    // driver NB replay: 6 distinct tokens → 6 occupied buckets (no md5
    // 3-hex-prefix collisions among them — asserted), 7 occurrences per class
    val toks = Map("excellent" -> 3L, "great" -> 2L, "wonderful" -> 2L,
      "terrible" -> 3L, "awful" -> 2L, "dreadful" -> 2L)
    val pref = toks.keys.map(t => java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString.take(3))
    assert(pref.toSet.size == 6, "toy vocab must not collide in the 3-hex prefix")
    val (tpos, tneg, nb) = (7.0, 7.0, 6.0)
    def w(cp: Long, cn: Long): Double =
      math.log((cp + 1.0) / (tpos + nb)) - math.log((cn + 1.0) / (tneg + nb))
    // doc 2: tokens great, wonderful, excellent, excellent
    val expect2 = BigDecimal((w(2, 0) + w(2, 0) + w(3, 0) + w(3, 0)) / 4)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(2L)._1 - expect2) < 5e-4,
      s"doc 2 score ${got(2L)._1} vs driver NB $expect2")
  }

  test("q134: authority mass = |V| and mixture weights sum to 1") {
    val rows = SparkEntry.queries("q134_source_authority")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val prSum = rows.map(_.getDouble(1)).sum
    val mixSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(prSum - rows.length) < 1e-3,
      s"authority mass $prSum drifted from |V| = ${rows.length}")
    assert(math.abs(mixSum - 1.0) < 1e-4, s"mixture weights must sum to 1, got $mixSum")
  }

  test("q135: one best match per source vector, margins above the cut") {
    val rows = SparkEntry.queries("q135_margin_mining")(spark, sf()).collect()
    assert(rows.nonEmpty, "mining must surface pairs on the fixture")
    val xs = rows.map(_.getLong(0))
    assert(xs.distinct.length == xs.length, "at most one mined pair per x")
    assert(rows.forall(_.getDouble(2) > 1.02), "every mined margin clears the threshold")
    val ys = rows.map(_.getLong(1))
    assert(xs.forall(_ % 2 == 0) && ys.forall(_ % 2 == 1),
      "pairs must cross the two sides")
  }

  test("q136: calibration is monotone per source and pins distribution extremes") {
    val rows = SparkEntry.queries("q136_quantile_calibrate")(spark, sf()).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val globalMin = rows.map(_._2).min; val globalMax = rows.map(_._2).max
    rows.groupBy(_._1).foreach { case (src, g) =>
      val sorted = g.sortBy(x => (x._2, x._3))
      // quantile mapping must be monotone within a source
      sorted.sliding(2).foreach {
        case Array((_, _, c1), (_, _, c2)) =>
          assert(c1 <= c2, s"$src: calibrated values must be non-decreasing ($c1 > $c2)")
        case _ =>
      }
      // each source's smallest/largest doc maps to the global extremes
      assert(sorted.head._3 == globalMin, s"$src min must map to global min")
      assert(sorted.last._3 == globalMax, s"$src max must map to global max")
    }
  }

  test("q137: decay weights bounded by count; the newest event type is fully counted") {
    val rows = SparkEntry.queries("q137_decayed_trend")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, n, dec, ratio) =>
      assert(dec > 0 && dec <= n + 1e-9, s"$et: decayed $dec out of [0, $n]")
      assert(ratio > 0 && ratio <= 1 + 1e-9, s"$et: recency ratio $ratio out of (0, 1]")
    }
  }

  test("q138: first doc is all-novel; novel counts partition the distinct-shingle space") {
    val rows = SparkEntry.queries("q138_novelty")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val first = rows.minBy(_._1)
    assert(first._4 == 1.0, s"the earliest doc must be 100% novel, got ${first._4}")
    rows.foreach { case (id, n, nov, share) =>
      assert(nov <= n, s"doc $id: novel $nov exceeds shingles $n")
      assert(math.abs(share - nov.toDouble / n) < 1e-6) }
    // every distinct shingle is novel in exactly one doc
    val totalDistinct = graft.sources.Tables.table(spark, sf(), "documents")
      .select(split(graft.functions.TextExprs.cleanText(col("text")), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("h"))
      .select("h").distinct().count()
    assert(rows.map(_._3).sum == totalDistinct,
      s"sum of novel counts ${rows.map(_._3).sum} must equal distinct shingles $totalDistinct")
  }

  test("q139: attribution cells partition q27's pair set; matrix is canonical") {
    val cells = SparkEntry.queries("q139_dup_attribution")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cells.nonEmpty)
    cells.foreach { case (a, b, _) => assert(a <= b, s"cell ($a, $b) not canonical") }
    val totalPairs = SparkEntry.queries("q27_minhash_neardup")(spark, sf()).count()
    assert(cells.map(_._3).sum == totalPairs,
      s"cell counts ${cells.map(_._3).sum} must partition the ${totalPairs} near-dup pairs")
  }

  test("q140: projection and residual decompose each vector; variance along u ≈ λ") {
    val rows = SparkEntry.queries("q140_abtt_residual")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val e = graft.sources.Tables.table(spark, sf(), "embeddings")
    val norms = e.select(col("vec_id"),
        graft.functions.VectorExprs.dot(expr("transform(embedding, x -> cast(x AS double))"),
          expr("transform(embedding, x -> cast(x AS double))")).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, p, res) =>
      assert(math.abs(p * p + res * res - norms(id)) < 1e-3,
        s"vec $id: proj² + residual² must recover ‖v‖² (${p * p + res * res} vs ${norms(id)})") }
    // Rayleigh check: corpus variance along u = uᵀCu approximates λmax
    // from below, while λ = ‖C·v₂‖ is the PREVIOUS iterate's estimate —
    // both converge to λmax, so they agree to a convergence band (u = v₃
    // is one step closer to the eigenvector and may sit slightly above λ)
    val lambda = graft.operators.Pca.topComponent(e, col("embedding"), 64, 3)
      .head().getDouble(2)
    val ps = rows.map(_._2); val mean = ps.sum / ps.length
    val varAlong = ps.map(x => (x - mean) * (x - mean)).sum / ps.length
    assert(varAlong > 0.8 * lambda && varAlong < 1.25 * lambda,
      s"variance along u ($varAlong) must sit in the convergence band of λ ($lambda)")
  }

  test("q141: content-defined boundaries survive an insertion (edit resilience)") {
    val sp = spark
    import sp.implicits._
    // same chunking recipe as the query, over an original doc and a copy
    // with ONE token inserted mid-stream: all chunks except the edited one
    // must keep their hashes — the property fixed-size blocks lack
    def chunks(text: String): Seq[String] =
      graft.operators.CdcChunk.chunks(Seq((1L, text)).toDF("doc_id", "text"),
          col("doc_id"), col("text"))
        .orderBy("chunk_idx").collect().map(_.getString(3)).toSeq
    val base = graft.sources.Tables.table(spark, sf("0.01"), "documents")
      .orderBy("doc_id").limit(1).select("text").head().getString(0)
    val orig = chunks(base)
    val toks = base.split(" ")
    val edited = chunks((toks.take(toks.length / 2) ++ Seq("inserted") ++
      toks.drop(toks.length / 2)).mkString(" "))
    assert(orig.length >= 3, s"fixture doc must produce several chunks, got ${orig.length}")
    val common = orig.toSet.intersect(edited.toSet).size
    assert(common >= orig.length - 2,
      s"an insertion must disturb at most ~2 chunks: $common of ${orig.length} survive")
  }

  test("q142: only held-out docs scored; backoff rate bounded; xent positive") {
    val rows = SparkEntry.queries("q142_stupid_backoff")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, xent, bo) =>
      assert(id % 5 == 0, s"doc $id is not in the held-out slice")
      assert(n >= 1)
      assert(bo >= 0.0 && bo <= 1.0, s"backoff rate $bo out of [0,1]")
      assert(xent > 0.0, s"held-out cross-entropy must be positive, got $xent") }
  }

  test("q143: five distinct picks; the first is the BM25 argmax") {
    val rows = SparkEntry.queries("q143_retrieve_rerank")(spark, sf("0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.map(_._2).distinct.length == 5, "picks must be distinct docs")
    val docs = graft.sources.Tables.table(spark, sf("0.01"), "documents")
    val top = graft.operators.Retrieval.bm25(docs, col("doc_id"), col("text"),
        Seq("spark", "vector", "stream"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(1).head()
    assert(rows.head._2 == top.getLong(0), "rank 1 must be the raw BM25 argmax")
    assert(math.abs(rows.head._3 - top.getDouble(1)) < 1e-9,
      "rank-1 MMR score equals its BM25 relevance (nothing selected yet)")
  }

  test("q144: per-language shares sum to 1; cell counts partition the corpus") {
    val rows = SparkEntry.queries("q144_lang_confusion")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, g) =>
      val share = g.map(_._4).sum
      assert(math.abs(share - 1.0) < 1e-3, s"$lang shares sum to $share")
    }
    val total = rows.map(_._3).sum
    val docs = graft.sources.Tables.table(spark, sf(), "documents").count()
    assert(total == docs, s"confusion cells ($total) must partition the corpus ($docs)")
    rows.foreach { case (l, p, _, _, c) => assert(c == (l == p)) }
  }

  test("q145: rank deciles are equal-sized, score-monotone, and mass-conserving") {
    val rows = SparkEntry.queries("q145_calibration")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 9L), "all ten deciles must be present")
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"rank deciles must be equal-sized: ${sizes.toSeq}")
    rows.sliding(2).foreach {
      case Array((_, _, m1, _), (_, _, m2, _)) =>
        assert(m1 <= m2, s"mean score must be non-decreasing across deciles ($m1 > $m2)")
      case _ =>
    }
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val truePos = docs.where(col("source").isin((0 to 4).map(i => s"src$i"): _*)).count()
    val massPos = rows.map { case (_, n, _, pr) => n * pr }.sum
    assert(math.abs(massPos - truePos) < rows.length * 0.5e-3 * sizes.max + 1,
      s"binned positive mass $massPos must recover the corpus positives $truePos")
  }

  test("q132: anchor-vote phrase counts ≡ driver sliding-window scan") {
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val got = graft.operators.Retrieval.phraseSearch(
        docs, col("doc_id"), col("text"), Seq("hash join", "merge sort"), k = 1000)
      .collect().map(r => (r.getString(0), r.getLong(2)) -> r.getLong(3)).toMap
    val texts = docs.select(col("doc_id"),
        lower(graft.functions.TextExprs.cleanText(col("text")))).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expect = scala.collection.mutable.Map[(String, Long), Long]()
    for ((id, txt) <- texts; p <- Seq("hash join", "merge sort")) {
      val toks = txt.split(" "); val pt = p.split(" ")
      val hits = (0 to toks.length - pt.length)
        .count(a => pt.indices.forall(q => toks(a + q) == pt(q)))
      if (hits > 0) expect((p, id)) = hits.toLong
    }
    assert(got == expect.toMap,
      s"phrase hits diverge: extra=${(got.keySet -- expect.keySet).take(3)} " +
        s"missing=${(expect.keySet -- got.keySet).take(3)}")
  }

  test("q146: retention curve is monotone, anchored at keep-all, and suffix-consistent") {
    val rows = SparkEntry.queries("q146_retention_sweep")(spark, sf()).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.length == 21, "one row per grid threshold")
    // the t = -1.0 row keeps every doc scoring >= -1.0 (docs below the
    // grid — possible since the mean log-odds is unbounded — are
    // deliberately outside every threshold row)
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val scored = graft.operators.TextAnalysis.hashNbClassifier(
      docs, col("doc_id"), col("text"),
      col("source").isin((0 to 4).map(i => s"src$i"): _*))
    val inGrid = scored.where(round(col("quality_w") * 10000) >= -10000L).count()
    assert(rows.head._1 == -1.0 && rows.head._2 == inGrid,
      s"the t = -1.0 row must keep every in-grid doc (${rows.head._2} vs $inGrid)")
    rows.sliding(2).foreach {
      case Array((_, d1, c1, _), (_, d2, c2, _)) =>
        assert(d2 <= d1 && c2 <= c1,
          "docs/chars kept must be non-increasing in the threshold")
      case _ =>
    }
    assert(rows.forall { case (_, _, _, f) => f >= 0.0 && f <= 1.0 })
  }

  test("q148: CMS never underestimates, and the sketch MERGES (half + half = whole)") {
    val rows = SparkEntry.queries("q148_cms_freq")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    rows.foreach { case (tok, t, e) =>
      assert(e >= t, s"CMS estimate must be one-sided: $tok est=$e < true=$t") }
    // mergeability: cells(corpus) == cells(half A) + cells(half B), the
    // property that lets 1000 executors (or 30 daily runs) sum sketches
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    def cells(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] = {
      val toks = df.select(explode(split(lower(
          graft.functions.TextExprs.cleanText(col("text"))), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      toks.select(explode(array((0 until 4).map(j => lit(j)): _*)).as("j"),
          col("tok"), col("cnt"))
        .select(col("j").cast("long").as("j"),
          conv(substring(md5(concat(col("j").cast("string"), lit(":"), col("tok"))),
            1, 2), 16, 10).cast("long").as("bkt"), col("cnt"))
        .groupBy("j", "bkt").agg(sum("cnt").as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val whole = cells(docs)
    val a = cells(docs.where(col("doc_id") % 2 === 0))
    val b = cells(docs.where(col("doc_id") % 2 === 1))
    val merged = (a.keySet ++ b.keySet).map(k =>
      k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole, "summing per-split sketches must equal the corpus sketch")
  }

  test("q149: every flagged source-segment really recurs in >= 2 docs of that source") {
    val summary = SparkEntry.queries("q149_boilerplate")(spark, sf()).collect()
    assert(summary.nonEmpty)
    summary.foreach { r =>
      val (occ, segs, bsegs, bocc) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bsegs <= segs && bocc <= occ && bocc >= 2 * bsegs,
        s"flagged segments must each carry >= 2 occurrences: $r")
    }
  }

  test("q147: clusters partition the corpus; every non-singleton pair path is mutual-kNN") {
    val rows = SparkEntry.queries("q147_knn_graph")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val emb = graft.sources.Tables.table(spark, sf(), "embeddings")
    val n = emb.count()
    assert(rows.length == n, "every vector must be labeled")
    val bySize = rows.groupBy(_._2)
    bySize.foreach { case (cid, members) =>
      assert(members.forall(_._3 == members.length),
        s"cluster_size must equal the member count for $cid")
      assert(members.map(_._1).min == cid,
        s"cluster label must be the minimum member id ($cid)")
    }
    // driver recompute of the mutual top-4 graph: edges must exist
    // between some pair in every non-singleton cluster, and no edge may
    // cross clusters
    val vecs = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      // HALF_UP on the exact decimal — the same rounding Spark's round() uses
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val ids = vecs.keys.toArray.sorted
    // candidates mirror the query's deterministic LSH blocking: a node's
    // top-4 ranks only same-bucket peers (r12 swap — the n² crossJoin
    // left the suite)
    val planes = graft.functions.VectorExprs.deterministicPlanes(8, 64)
    def bucket(v: Array[Double]): Long =
      planes.zipWithIndex.map { case (p, i) =>
        if (p.zip(v).map { case (x, y) => x * y }.sum >= 0) 1L << i else 0L
      }.sum
    val bkt = vecs.map { case (id, v) => id -> bucket(v) }
    val topk = ids.map { q =>
      q -> ids.filter(c => c != q && bkt(c) == bkt(q))
        .map(c => (c, cos(vecs(q), vecs(c))))
        .sortBy { case (c, sc) => (-sc, c) }.take(4).map(_._1).toSet
    }.toMap
    val mutual = (for {
      a <- ids; b <- topk(a) if a < b && topk(b).contains(a)
    } yield (a, b)).toSet
    val label = rows.map(r => r._1 -> r._2).toMap
    mutual.foreach { case (x, y) =>
      assert(label(x) == label(y), s"mutual edge ($x,$y) must not cross clusters") }
    // and conversely: a cluster of size > 1 must be connected through
    // mutual edges only (its induced subgraph spans all members)
    bySize.filter(_._2.length > 1).foreach { case (cid, members) =>
      val mset = members.map(_._1).toSet
      var reach = Set(mset.min)
      var grew = true
      while (grew) {
        val nxt = reach ++ mutual.collect {
          case (x, y) if reach(x) && mset(y) => y
          case (x, y) if reach(y) && mset(x) => x
        }
        grew = nxt.size > reach.size; reach = nxt
      }
      assert(reach == mset, s"cluster $cid must be mutual-edge connected")
    }
  }

  test("q151: bloom prefilter has NO false negatives vs direct exact decontamination") {
    val rows = SparkEntry.queries("q151_bloom_decontaminate")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    rows.foreach { case (id, nb, ne, fp) =>
      assert(ne <= nb, s"exact hits must be a subset of bloom hits ($id)")
      assert(fp == (ne == 0L), s"fp flag must mirror zero exact hits ($id)")
    }
    // ground truth: every train doc sharing a 5-gram with the bench slice
    // MUST appear among the bloom candidates with ne > 0 (no false negatives)
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val sh = docs.select(col("doc_id"),
      explode(graft.operators.Dedup.shingles(col("text"), 5)).as("g"))
    val bench = sh.where(col("doc_id") % 20 === 0).select(col("g")).distinct()
    val truth = sh.where(col("doc_id") % 20 =!= 0)
      .join(bench, "g").select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val flagged = rows.filter(_._3 > 0).map(_._1).toSet
    assert(flagged == truth,
      s"missed contaminated docs: ${(truth -- flagged).take(5)}; " +
        s"phantom: ${(flagged -- truth).take(5)}")
  }

  test("q152: KL matches a driver recompute from raw counts and is non-negative") {
    val rows = SparkEntry.queries("q152_dist_drift")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, _, _, _, kl) =>
      assert(kl >= 0.0, s"smoothed KL must be non-negative: $src $kl") }
    // independent recompute: raw (source, tok, side) counts on the driver
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val raw = docs.select(col("source"), col("doc_id"),
        explode(split(lower(graft.functions.TextExprs.cleanText(col("text"))), " ")).as("tok"))
      .where(col("tok") =!= "").collect()
      .map(r => (r.getString(0), r.getLong(1) % 10 == 0, r.getString(2)))
    val bySrc = raw.groupBy(_._1)
    rows.foreach { case (src, vocab, nb, nc, kl) =>
      val toks = bySrc(src)
      val cb = toks.filter(_._2).groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val cc = toks.filterNot(_._2).groupBy(_._3).view.mapValues(_.length.toLong).toMap
      val vv = (cb.keySet ++ cc.keySet).size.toLong
      val (tb, tc) = (cb.values.sum, cc.values.sum)
      assert((vocab, nb, nc) == ((vv, tb, tc)), s"totals diverge for $src")
      val klx = (cb.keySet ++ cc.keySet).toSeq.sorted.map { t =>
        val p = (cb.getOrElse(t, 0L) + 1.0) / (tb + vv)
        val q = (cc.getOrElse(t, 0L) + 1.0) / (tc + vv)
        p * math.log(p / q)
      }.sum
      assert(math.abs(klx - kl) < 1e-5, s"KL diverges for $src: $klx vs $kl")
    }
  }

  test("q153: ARI matches a driver pair-count recompute and is label-permutation invariant") {
    val row = SparkEntry.queries("q153_cluster_ari")(spark, sf()).collect().head
    val (n, ari, purity) = (row.getLong(0), row.getDouble(3), row.getDouble(4))
    assert(purity > 0.0 && purity <= 1.0)
    val planes = graft.functions.VectorExprs.deterministicPlanes(8, 64)
    val pairs = graft.sources.Tables.table(spark, sf(), "embeddings")
      .select(graft.functions.VectorExprs
          .hyperplaneBucket(col("embedding"), planes).as("b"),
        col("label").cast("long").as("l"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == n)
    def ariOf(xs: Array[(Long, Long)]): Double = {
      def c2(x: Long) = x * (x - 1) / 2.0
      val cont = xs.groupBy(identity).view.mapValues(_.length.toLong)
      val a = xs.groupBy(_._1).view.mapValues(_.length.toLong)
      val b = xs.groupBy(_._2).view.mapValues(_.length.toLong)
      val (sij, sa, sb) = (cont.values.map(c2).sum,
        a.values.map(c2).sum, b.values.map(c2).sum)
      val ex = sa * sb / c2(xs.length.toLong)
      (sij - ex) / ((sa + sb) / 2.0 - ex)
    }
    assert(math.abs(ariOf(pairs) - ari) < 1e-5,
      s"ARI diverges from the driver recompute: ${ariOf(pairs)} vs $ari")
    // ARI is invariant under any relabeling of either partition
    val perm = pairs.map { case (b, l) => (b, l * 7 + 3) }
    assert(math.abs(ariOf(perm) - ariOf(pairs)) < 1e-12)
  }

  test("q154: dcg <= idcg, idcg matches the closed form, ndcg in [0, 1]") {
    val row = SparkEntry.queries("q154_ranking_ndcg")(spark, sf()).collect().head
    val (npos, dcg, idcg, ndcg) =
      (row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))
    assert(dcg <= idcg + 1e-9 && ndcg >= 0.0 && ndcg <= 1.0)
    val ideal = (1L to math.min(npos, 20L)).map(i =>
      1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
    assert(math.abs(ideal - idcg) < 1e-5,
      s"idcg must equal the closed form: $ideal vs $idcg")
  }

  test("q155: estimates are multiples of 1/64 and match a driver signature recompute") {
    val rows = SparkEntry.queries("q155_minhash_estimate")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty, "the sample must contain at least one candidate pair")
    rows.foreach { case (_, _, jac, est) =>
      assert(jac >= 0.2 && jac <= 1.0)
      assert(est >= 0.0 && est <= 1.0)
      val steps = est * 64.0
      assert(math.abs(steps - math.rint(steps)) < 1e-6,
        s"estimate must be a multiple of 1/64: $est")
    }
    // driver recompute of the full estimator for the first pair
    val (ia, ib, jac, est) = rows.minBy(r => (r._1, r._2))
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
      .where(col("doc_id").isin(ia, ib))
      .select(col("doc_id"),
        graft.operators.Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val (ha, hb) = (docs(ia).map(g => md5hex(g).take(16)),
      docs(ib).map(g => md5hex(g).take(16)))
    val exactX = ha.intersect(hb).size.toDouble / ha.union(hb).size
    assert(math.abs(exactX - jac) < 1e-5, s"exact jaccard diverges: $exactX vs $jac")
    val estX = (0 until 64).count { p =>
      ha.map(h => md5hex(s"$p:$h")).min == hb.map(h => md5hex(s"$p:$h")).min
    } / 64.0
    assert(math.abs(estX - est) < 1e-6, s"signature estimate diverges: $estX vs $est")
  }

  test("q156: confusion counts are consistent; exactly the max-F1 rows are flagged") {
    val rows = SparkEntry.queries("q156_threshold_tune")(spark, sf()).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(7), r.getBoolean(8)))
      .sortBy(_._1)
    assert(rows.length == 21)
    val totPos = rows.head match { case (_, _, tp, _, fn, _, _) => tp + fn }
    rows.foreach { case (t, kept, tp, fp, fn, _, _) =>
      assert(tp + fp == kept, s"tp+fp must equal kept at $t")
      assert(tp + fn == totPos, s"tp+fn must be the constant positive total at $t")
    }
    rows.sliding(2).foreach {
      case Array((_, _, tp1, _, _, _, _), (_, _, tp2, _, _, _, _)) =>
        assert(tp2 <= tp1, "recall (tp) must be non-increasing in the threshold")
      case _ =>
    }
    val maxF1 = rows.map(_._6).max
    rows.foreach { case (t, _, _, _, _, f1, best) =>
      // flag decided on the UNROUNDED f1; rounded ties are still <= max
      if (best) assert(f1 == maxF1, s"flagged row must carry the max F1 ($t)")
      else assert(f1 <= maxF1)
    }
    assert(rows.count(_._7) >= 1)
  }

  test("q157: no released group is smaller than k; the '*' bucket conserves mass") {
    val rows = SparkEntry.queries("q157_k_anonymity")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val (supp, released) = rows.partition(_._1 == "*")
    rows.foreach { case (s0, l0, n) =>
      assert(n >= 5, s"published group ($s0, $l0) smaller than k: $n") }
    assert(supp.length <= 1)
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val total = docs.count()
    val withheld = total - rows.map(_._3).sum
    // mass is conserved up to a residual bucket that was itself below k
    // and therefore withheld entirely
    assert(withheld == 0 || (supp.isEmpty && withheld < 5),
      s"unaccounted mass $withheld must only be a withheld sub-k residual")
    // no quasi-identifier below k may appear verbatim anywhere
    val small = docs.groupBy("source", "lang").count()
      .where(col("count") < 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    released.foreach { case (s0, l0, _) =>
      assert(!small.contains((s0, l0)), s"small group leaked: ($s0, $l0)") }
  }

  test("q158: centroid cosine matches a driver recompute; self-drift is zero") {
    val rows = SparkEntry.queries("q158_centroid_drift")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val raw = graft.sources.Tables.table(spark, sf(), "embeddings")
      .collect().map(r => (r.getInt(2).toLong, r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val byLabel = raw.groupBy(_._1)
    rows.foreach { case (label, nb, nc, cos) =>
      val (batch, corpus) = byLabel(label).partition(_._2 % 8 == 0)
      assert((nb, nc) == ((batch.length.toLong, corpus.length.toLong)))
      def centroid(xs: Array[(Long, Long, Array[Double])]): Array[Double] =
        (0 until 64).map(i => xs.map(_._3(i)).sum / xs.length).toArray
      val (ca, cc) = (centroid(batch), centroid(corpus))
      val sab = (0 until 64).map(i => ca(i) * cc(i)).sum
      val saa = math.sqrt((0 until 64).map(i => ca(i) * ca(i)).sum)
      val scc = math.sqrt((0 until 64).map(i => cc(i) * cc(i)).sum)
      assert(math.abs(sab / (saa * scc) - cos) < 1e-5,
        s"centroid cosine diverges for label $label")
      // a slice measured against itself cannot drift
      val selfCos = {
        val x = centroid(corpus)
        val s2 = (0 until 64).map(i => x(i) * x(i)).sum
        (0 until 64).map(i => x(i) * x(i)).sum / (math.sqrt(s2) * math.sqrt(s2))
      }
      assert(math.abs(selfCos - 1.0) < 1e-12)
    }
  }

  test("q159: quarantine is exactly the train docs near-dupping a test doc") {
    val rows = SparkEntry.queries("q159_leakage_split")(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    assert(rows.size == docs.count())
    rows.foreach { case (id, s0) =>
      if (id % 10 == 7) assert(s0 == "test", s"doc $id must be test") }
    // independent ground truth from the exact pair set
    val pairs = graft.operators.Dedup.minhashNearDups(docs, col("doc_id"),
        col("text"), shingleLen = 3, numBands = 16, rowsPerBand = 2,
        threshold = 0.7)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
    val expectQ = pairs.filter(_._1 % 10 == 7).map(_._2).filter(_ % 10 != 7).toSet
    val gotQ = rows.filter(_._2 == "quarantined").keySet
    assert(gotQ == expectQ,
      s"quarantine diverges: extra=${(gotQ -- expectQ).take(5)} " +
        s"missing=${(expectQ -- gotQ).take(5)}")
    assert(rows.values.count(_ == "train") ==
      rows.size - gotQ.size - rows.values.count(_ == "test"))
  }

  test("q160: corruption is reconstructable and the mask draw is reproducible") {
    val rows = SparkEntry.queries("q160_mask_corruption")(spark, sf()).collect()
    assert(rows.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    rows.take(50).foreach { r =>
      val (id, n, nm) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (corr, tgt) = (r.getString(3), r.getString(4))
      val corrToks = corr.split(" ", -1)
      assert(corrToks.length == n, s"corrupted length must be n for doc $id")
      val maskedPos = (1L to n).filter(i => md5hex(s"$id:$i").take(2) < "28")
      assert(maskedPos.length == nm, s"mask count must match the draw for $id")
      maskedPos.foreach(i => assert(corrToks(i.toInt - 1) == "<mask>"))
      // splicing targets back into the masked slots reconstructs the doc len
      val tgtToks = if (tgt.isEmpty) Array.empty[String] else tgt.split(" ", -1)
      assert(tgtToks.length == nm, s"targets must carry one token per mask ($id)")
    }
    // reproducibility: a second evaluation is bit-identical
    val again = SparkEntry.queries("q160_mask_corruption")(spark, sf()).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("q161: coverage curve matches a driver recompute at every power of two") {
    val rows = SparkEntry.queries("q161_vocab_coverage")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (k, _, _, _) =>
      assert((k & (k - 1)) == 0, s"vocab sizes must be powers of two: $k") }
    rows.sliding(2).foreach {
      case Array((_, c1, _, _), (_, c2, _, _)) => assert(c2 >= c1)
      case _ =>
    }
    val freq = graft.sources.Tables.table(spark, sf(), "documents")
      .select(explode(split(lower(
        graft.functions.TextExprs.cleanText(col("text"))), " ")).as("t"))
      .where(col("t") =!= "").groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (t, c) => (-c, t) }
    val total = freq.map(_._2).sum
    rows.foreach { case (k, cum, tt, cov) =>
      assert(tt == total)
      val expect = freq.take(k.toInt).map(_._2).sum
      assert(cum == expect, s"covered tokens at vocab $k: $cum vs $expect")
      assert(math.abs(cov - expect.toDouble / total) < 1e-5)
    }
  }

  test("q162: quotas hit the budget exactly and differ from ideal by < 1") {
    val rows = SparkEntry.queries("q162_quota_alloc")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getDouble(3), r.getLong(4)))
    assert(rows.map(_._3).sum == 200L, "largest remainder must hit the budget EXACTLY")
    rows.foreach { case (src, ideal, quota) =>
      assert(math.abs(quota - ideal) < 1.0,
        s"$src: quota $quota must stay within 1 of ideal $ideal")
      assert(quota >= 0)
    }
    // driver recompute of the full Hamilton allocation
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
      .groupBy("source").agg(sum("n_chars").as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val tc = docs.map(_._2).sum
    val ideal = docs.map { case (s0, c) => (s0, 200.0 * c / tc) }
    val base = ideal.map { case (s0, x) => (s0, math.floor(x).toLong, x - math.floor(x)) }
    val deficit = (200L - base.map(_._2).sum).toInt
    val plusOne = base.sortBy { case (s0, _, rem) => (-rem, s0) }
      .take(deficit).map(_._1).toSet
    val expect = base.map { case (s0, b, _) =>
      s0 -> (b + (if (plusOne(s0)) 1L else 0L)) }.toMap
    assert(rows.map(r => r._1 -> r._3).toMap == expect)
  }

  test("q163: at most 10% truncated per source; kept tokens respect the cap") {
    val rows = SparkEntry.queries("q163_length_winsorize")(spark, sf()).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, cap, kept, trunc) =>
      assert(trunc == (n > cap))
      assert(kept == (if (trunc) math.floor(cap).toLong else n))
      assert(kept <= n)
    }
    rows.groupBy(_._1).foreach { case (src, grp) =>
      // strictly-above-the-interpolated-P90 count is bounded by the rows
      // ranked past the lower boundary rank: n - floor(1 + 0.9(n-1))
      val n = grp.length
      val bound = n - math.floor(1 + 0.9 * (n - 1)).toLong
      assert(grp.count(_._5) <= bound,
        s"$src: P90 cap truncated ${grp.count(_._5)} of $n (> rank bound $bound)")
      assert(grp.map(_._3).distinct.length == 1, s"$src: one cap per source")
    }
  }

  test("q164: effective <= raw; equality iff no near-dup doc in the source") {
    val rows = SparkEntry.queries("q164_effective_tokens")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, _, raw, eff, disc) =>
      assert(eff <= raw + 1e-6, s"$src: effective tokens cannot exceed raw")
      assert(disc >= -1e-9 && disc < 1.0)
    }
    // sources containing a clustered doc must show a strict discount
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val pairs = graft.operators.Dedup.minhashNearDups(docs, col("doc_id"),
        col("text"), shingleLen = 3, numBands = 16, rowsPerBand = 2,
        threshold = 0.7)
      .select("id_a", "id_b").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val dupSources = docs.where(col("doc_id").isin(pairs.toSeq: _*))
      .select("source").distinct().collect().map(_.getString(0)).toSet
    rows.foreach { case (src, _, raw, eff, _) =>
      if (dupSources(src)) assert(eff < raw, s"$src holds near-dups; eff must shrink")
      else assert(math.abs(eff - raw) < 1e-6, s"$src has no near-dups; eff == raw")
    }
  }

  test("q165: no mined negative satisfies the relevance proxy; ranks dense per query") {
    val rows = SparkEntry.queries("q165_hard_negatives")(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val terms = Map(1L -> Seq("spark", "join"), 2L -> Seq("vector", "stream"),
      3L -> Seq("batch", "window"))
    val texts = graft.sources.Tables.table(spark, sf(), "documents")
      .select(col("doc_id"),
        lower(graft.functions.TextExprs.cleanText(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    rows.foreach { case (qid, _, doc, _) =>
      val hit = terms(qid).count(texts(doc))
      assert(hit < 2, s"doc $doc matches BOTH terms of q$qid — not a negative")
      assert(hit >= 1, s"doc $doc matches NO term of q$qid — cannot be scored")
    }
    rows.groupBy(_._1).foreach { case (qid, grp) =>
      val rnks = grp.map(_._2).sorted.toSeq
      assert(rnks == (1L to rnks.length.toLong).toSeq,
        s"ranks must be dense from 1 for q$qid")
      grp.sortBy(_._2).map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(b <= a, s"scores must be non-increasing for q$qid")
        case _ =>
      }
    }
  }

  test("q166: richness metrics match a driver recompute and sit in their ranges") {
    val rows = SparkEntry.queries("q166_lexical_richness")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    val raw = graft.sources.Tables.table(spark, sf(), "documents")
      .select(col("source"), explode(split(lower(
        graft.functions.TextExprs.cleanText(col("text"))), " ")).as("t"))
      .where(col("t") =!= "").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = raw.groupBy(_._1)
    rows.foreach { case (src, types, tokens, ttr, c, top) =>
      val toks = bySrc(src).map(_._2)
      val freq = toks.groupBy(identity).view.mapValues(_.length).toMap
      assert(types == freq.size && tokens == toks.length)
      assert(math.abs(ttr - types.toDouble / tokens) < 1e-6)
      assert(math.abs(c - math.log(types.toDouble) / math.log(tokens.toDouble)) < 1e-6)
      assert(math.abs(top - freq.values.max.toDouble / tokens) < 1e-6)
      assert(ttr > 0 && ttr <= 1 && c > 0 && c <= 1)
    }
  }

  test("q167: bootstrap mean tracks the point rate; replica-0 matches a driver draw") {
    val rows = SparkEntry.queries("q167_bootstrap_ci")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, rate, bm, sd) =>
      assert(sd >= 0.0)
      assert(math.abs(bm - rate) <= 5 * math.max(sd, 1e-3),
        s"$src: bootstrap mean $bm far from point rate $rate (sd $sd)")
    }
    // independent replica-0 recompute for one source
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def pois(u: Double): Double =
      if (u < 0.36787944117144233) 0.0 else if (u < 0.7357588823428847) 1.0
      else if (u < 0.9196986029286058) 2.0 else if (u < 0.9810118431238462) 3.0
      else if (u < 0.9963401531726563) 4.0 else if (u < 0.9994058151824183) 5.0
      else if (u < 0.9999167588507119) 6.0 else 7.0
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val src0 = "src0"
    val lab = graft.operators.TextAnalysis.gopherRules(
        docs.where(col("source") === src0), col("doc_id"), col("text"))
      .select(col("id"), col("passes")).collect()
      .map(r => r.getLong(0) -> (if (r.getBoolean(1)) 1.0 else 0.0))
    val wts = lab.map { case (id, y) =>
      val u = java.lang.Long.parseLong(md5hex(s"0:$id").take(13), 16)
        .toDouble / 4503599627370496.0
      (pois(u), y)
    }
    val expect0 = wts.map(p => p._1 * p._2).sum / wts.map(_._1).sum
    // re-derive replica 0 from the query's internal dataflow shape
    val engine0 = {
      val rules = graft.operators.TextAnalysis.gopherRules(
        docs, col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("passes"))
      val l2 = rules.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .where(col("source") === src0)
      val u = conv(substring(md5(concat(lit("0:"), col("doc_id").cast("string"))),
        1, 13), 16, 10).cast("double") / lit(4503599627370496.0)
      val w = when(u < 0.36787944117144233, 0.0)
        .when(u < 0.7357588823428847, 1.0).when(u < 0.9196986029286058, 2.0)
        .when(u < 0.9810118431238462, 3.0).when(u < 0.9963401531726563, 4.0)
        .when(u < 0.9994058151824183, 5.0).when(u < 0.9999167588507119, 6.0)
        .otherwise(7.0)
      l2.select(w.as("w"), when(col("passes"), 1.0).otherwise(0.0).as("y"))
        .agg((sum(col("w") * col("y")) / sum("w")).as("r"))
        .collect().head.getDouble(0)
    }
    assert(math.abs(engine0 - expect0) < 1e-9,
      s"replica-0 rate diverges from the driver draw: $engine0 vs $expect0")
  }

  test("q168: card fields are internally consistent with their source queries") {
    val rows = SparkEntry.queries("q168_dataset_card")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7)))
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == perSource.keySet, "one card row per source")
    rows.foreach { case (src, n, topLang, share, pass, dup) =>
      assert(n == perSource(src))
      assert(share > 0.0 && share <= 1.0 && pass >= 0.0 && pass <= 1.0
        && dup >= 0.0 && dup < 1.0)
      // dominant language agrees with a direct count
      val counts = docs.where(col("source") === src)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1))
      val best = counts.sortBy { case (l, c) => (-c, l) }.head
      assert(topLang == best._1 && math.abs(share - best._2.toDouble / n) < 1e-6,
        s"$src: dominant language diverges")
    }
  }

  test("q150: contingency cells partition each language; kappa within [-1, 1]") {
    val rows = SparkEntry.queries("q150_rater_agreement")(spark, sf()).collect()
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet == perLang.keySet)
    rows.foreach { r =>
      val (lang, n) = (r.getString(0), r.getLong(1))
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5) == n &&
        n == perLang(lang), s"cells must partition $lang")
      val k = r.getDouble(8)
      assert(k >= -1.0 && k <= 1.0, s"kappa out of range: $k")
    }
  }
}
