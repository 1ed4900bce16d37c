package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.SurveyPipeline
import graft.streaming.EventStreams

/** Round-14 operator semantics: top-theme mining over the wide frame and
  * the batch-equivalent flatMapGroupsWithState sessionizer (in-batch gap
  * splitting — the property the q322 oracle relies on). */
class Round14Spec extends SparkSpec {

  test("topThemes ranks Negative categories per product with the pinned tie-break") {
    val sp = spark
    import sp.implicits._
    val wide = Seq(
      ("1", "A", "bad price", "Negative", "Price"),
      ("2", "A", "bad price", "Negative", "Price"),
      ("3", "A", "late delivery", "Negative", "Shipping"),
      ("4", "A", "bad design", "Negative", "Design"),   // ties Shipping at 1
      ("5", "A", "love it", "Positive", "General"),     // non-negative: ignored
      ("6", "B", "awful support", "Negative", "Support"))
      .toDF("ResponseID", "Product", "Q_Feedback_Answer",
        "Q_Feedback_Sentiment", "Q_Feedback_Category")
    val out = SurveyPipeline.topThemes(wide, 2).collect()
      .map(r => (r.getAs[String]("Product"), r.getAs[String]("theme"),
        r.getAs[Long]("n_complaints"), r.getAs[Int]("rank"))).toSet
    // A: Price(2) rank 1, then Design vs Shipping tie at 1 -> Design (lex)
    assert(out === Set(("A", "Price", 2L, 1), ("A", "Design", 1L, 2),
      ("B", "Support", 1L, 1)))
  }

  test("topThemes unions every question's sentiment/category pair") {
    val sp = spark
    import sp.implicits._
    val wide = Seq(("1", "A", "Negative", "Price", "Negative", "Fit"))
      .toDF("ResponseID", "Product", "Q1_Sentiment", "Q1_Category",
        "Q2_Sentiment", "Q2_Category")
    val themes = SurveyPipeline.topThemes(wide, 5).collect()
      .map(_.getAs[String]("theme")).toSet
    assert(themes === Set("Price", "Fit"))
  }

  test("closedCentSessions splits in-batch gaps and emits the final session on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val t0 = 1700000000000L
    def ts(min: Long) = new Timestamp(t0 + min * 60000L)
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val df = mem.toDF().toDF("user_id", "ts", "cents")
    val q = EventStreams.closedCentSessions(df)
      .writeStream.outputMode("append").format("memory").queryName("ccs").start()
    try {
      // ONE batch containing TWO complete sessions for user 1 (40-min gap)
      // plus the open tail — the in-batch split that buffering a whole
      // batch into one session would miss — and user 2's lone event.
      mem.addData((1L, ts(0), 100L), (1L, ts(10), 50L),
        (1L, ts(50), 10L), (1L, ts(120), 7L), (2L, ts(0), 1L))
      q.processAllAvailable()
      val afterB1 = spark.table("ccs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the two gap-closed sessions emit from the data batch; user 2's
      // lone session ALSO emits within the same drain — the post-batch
      // watermark (t0+120min) already passed its timeout (t0+30min) and
      // processAllAvailable runs the watermark catch-up batch
      assert(afterB1 === Set((1L, 2L, 150L), (1L, 1L, 10L), (2L, 1L, 1L)),
        s"in-batch gaps must close sessions immediately: $afterB1")
      // batch 2 advances the watermark past user 1's remaining tail
      mem.addData((3L, ts(300), 5L))
      q.processAllAvailable()
      val afterB2 = spark.table("ccs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(afterB2.contains((1L, 1L, 7L)),
        s"timeout must flush final sessions: $afterB2")
      // user 3's session is still open: watermark == its last ts
      assert(!afterB2.exists(_._1 == 3L), s"open tail must be withheld: $afterB2")
    } finally q.stop()
  }

  test("closedCentSessions bounds: first/last ts and order-invariant sums") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val t0 = 1700000000000L
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val df = mem.toDF().toDF("user_id", "ts", "cents")
    val q = EventStreams.closedCentSessions(df)
      .writeStream.outputMode("append").format("memory").queryName("ccs2").start()
    try {
      // unsorted arrival within the batch; equal timestamps included
      mem.addData((7L, new Timestamp(t0 + 60000), 2L),
        (7L, new Timestamp(t0), 1L), (7L, new Timestamp(t0 + 60000), 4L))
      mem.addData((7L, new Timestamp(t0 + 7200000L), 9L)) // 2h later: closes it
      q.processAllAvailable()
      val rows = spark.table("ccs2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(rows.toSeq === Seq((7L, 3L, 7L, t0, t0 + 60000)), rows.mkString(","))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: inclusive end-of-batch eviction at the boundary") {
    // The q325 twin's calibration probes. Model (confirmed against the
    // sf0.01 file replay, 1444/1444): state cleanup runs at the END of
    // every micro-batch — INCLUDING the no-data batches that interleave
    // when the source idles, as here with processAllAvailable between
    // addData calls — with that batch's eviction watermark, and removes
    // entries with expiry ≤ wm (INCLUSIVE). Arrivals are checked BEFORE
    // their own batch's cleanup, which is why a back-to-back file replay
    // (no idle gaps → no no-data batches) faces the PREVIOUS batch's
    // watermark (q325Sql's wmLag = 1), while this idle-gapped rig has
    // cleanup fully caught up by each arrival.
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val t0 = 1700000000000L
    def ts(min: Long) = new Timestamp(t0 + min * 60000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("k", "ts")
    val q = df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append").format("memory").queryName("ddw").start()
    try {
      mem.addData((1L, ts(0))); q.processAllAvailable()   // emit; expiry t0+10m
      mem.addData((2L, ts(20))); q.processAllAvailable()  // emit; wm -> t0+10m
      // post-batch-1 cleanup ran with wm = t0+10m == key 1's expiry —
      // the exact boundary. INCLUSIVE eviction → state gone → re-emitted.
      mem.addData((1L, ts(21))); q.processAllAvailable()
      // re-anchored at 21m (expiry 31m); wm is only 11m → still live → drop.
      mem.addData((1L, ts(30))); q.processAllAvailable()
      val got = spark.table("ddw").collect()
        .map(r => (r.getLong(0), (r.getTimestamp(1).getTime - t0) / 60000L)).toSet
      assert(got === Set((1L, 0L), (2L, 20L), (1L, 21L)), got.toString)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: a dropped duplicate does NOT extend the TTL") {
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val t0 = 1700000000000L
    def ts(min: Long) = new Timestamp(t0 + min * 60000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append").format("memory").queryName("ddw2").start()
    try {
      mem.addData((1L, ts(0))); q.processAllAvailable()   // emit; expiry t0+10m
      mem.addData((1L, ts(5))); q.processAllAvailable()   // dup; extension would push 15m
      mem.addData((2L, ts(22))); q.processAllAvailable()  // wm -> t0+12m
      // 12m ≥ 10m (first-seen + delay): state evicted despite the 5m dup
      // — the anchor is the FIRST occurrence only (q325Sql's premise).
      mem.addData((1L, ts(13))); q.processAllAvailable()
      val got = spark.table("ddw2").collect()
        .map(r => (r.getLong(0), (r.getTimestamp(1).getTime - t0) / 60000L)).toSet
      assert(got === Set((1L, 0L), (2L, 22L), (1L, 13L)), got.toString)
    } finally q.stop()
  }

  test("RocksDB state store: stateful sessionization matches the default provider") {
    // The state backend a production 100 TB streaming job actually runs
    // (HDFS-backed in-memory maps don't survive large keyspaces): same
    // query, same batches, provider swapped per query — materializations
    // must be identical. rocksdbjni ships in the Spark 4 jars.
    implicit val sqlCtx = spark.sqlContext
    val sp = spark
    import sp.implicits._
    val t0 = 1700000000000L
    def ts(min: Long) = new Timestamp(t0 + min * 60000L)
    def run(provider: Option[String], name: String): Set[(Long, Long, Long, Long, Long)] = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        val mem = MemoryStream[(Long, Timestamp, Long)]
        val q = EventStreams.closedCentSessions(
            mem.toDF().toDF("user_id", "ts", "cents"))
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start()
        try {
          mem.addData((1L, ts(0), 5L), (1L, ts(10), 7L), (2L, ts(3), 1L))
          mem.addData((1L, ts(60), 2L), (2L, ts(90), 4L))
          mem.addData((1L, ts(300), 1L))
          q.processAllAvailable()
          spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4))).toSet
        } finally q.stop()
      } finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
    val default = run(None, "sspar1")
    val rocks = run(Some("org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider"), "sspar2")
    assert(default.nonEmpty && default == rocks,
      s"default=$default rocksdb=$rocks")
  }

  test("ImagePHash: brightness/contrast invariant, structure sensitive, lattice-exact") {
    import graft.multimodal.{ImageGen, ImagePHash}
    val base = ImagePHash.aHashBits(1, ImageGen.rampPng(16, 16, 1, 2, 0))
    // uniform brightness shift: identical hash (the near-dup class aHash collapses)
    assert(base == ImagePHash.aHashBits(2, ImageGen.rampPng(16, 16, 1, 2, 30)))
    // contrast scale (slope x2, same direction ratio): identical hash
    assert(base == ImagePHash.aHashBits(3, ImageGen.rampPng(16, 16, 2, 4, 0)))
    // direction flip: structural change, different hash
    assert(base != ImagePHash.aHashBits(4, ImageGen.rampPng(16, 16, 2, 1, 0)))
    // decoded-pixel hash == the q330 twin's lattice arithmetic, bit for bit
    val (dx, dy, c) = (3, 1, 40)
    val bs = Array.fill(64)(0L)
    var tot = 0L
    for (y <- 0 until 16; x <- 0 until 16) {
      val v = (dx * x + dy * y + c).toLong
      bs((y / 2) * 8 + x / 2) += v
      tot += v
    }
    val fromLattice =
      (0 until 64).map(b => if (bs(b) * 256 > tot * 4) '1' else '0').mkString
    assert(ImagePHash.aHashBits(5, ImageGen.rampPng(16, 16, dx, dy, c)) == fromLattice)
  }

  test("GifCodec: multi-frame round trip is lossless; sampling hits 0, k, 2k") {
    import graft.multimodal.{GifCodec, ImageGen}
    // 5 frames of 16x16, pixel = x + y + 7f + 3: frame sum = 3840 + 256(7f + 3)
    val gif = ImageGen.animatedRampGif(16, 16, 1, 1, 3, 5, 7)
    def frameSum(f: Int) = 3840L + 256L * (7 * f + 3)
    val (n, ns, sum) = GifCodec.frameStats(1L, gif, 2)
    assert(n == 5 && ns == 3, s"($n, $ns)")
    assert(sum == frameSum(0) + frameSum(2) + frameSum(4), s"sum $sum")
    // sampleEvery = 1 reads every frame
    val (_, ns1, sum1) = GifCodec.frameStats(2L, gif, 1)
    assert(ns1 == 5 && sum1 == (0 until 5).map(frameSum).sum)
  }

  test("ImageResize: floor-averaged blocks match the lattice, brightness moves all pixels") {
    import graft.multimodal.{ImageGen, ImageResize}
    val r = ImageResize.areaResize(1L, ImageGen.rampPng(32, 32, 2, 1, 5), 8, 8)
    assert(r.length == 64)
    // block (bi, bj) sum = sum over 4x4 of (2x + y + 5); floor / 16
    def expect(bi: Int, bj: Int): Long = {
      var s = 0L
      for (y <- 4 * bj until 4 * bj + 4; x <- 4 * bi until 4 * bi + 4)
        s += 2 * x + y + 5
      s / 16
    }
    for (bj <- 0 until 8; bi <- 0 until 8)
      assert(r(bj * 8 + bi) == expect(bi, bj), s"block ($bi, $bj)")
    // +16 brightness -> every resized pixel shifts by exactly 16
    val r2 = ImageResize.areaResize(2L, ImageGen.rampPng(32, 32, 2, 1, 21), 8, 8)
    assert(r2.zip(r).forall { case (a, b) => a - b == 16 })
  }

  test("AcAutomaton counts distinct patterns like the naive scan") {
    import org.apache.spark.unsafe.types.UTF8String
    def naive(text: String, pats: Seq[String]): Int =
      pats.count(text.contains(_))
    def ac(text: String, pats: Seq[String]): Int =
      graft.plans.AcAutomaton(pats.map(_.getBytes("UTF-8")).toArray)
        .countDistinct(UTF8String.fromString(text))
    // adversarial shapes: overlapping patterns, suffix-of-prefix failure
    // transitions, repeats counted once, match at the last byte
    val pats = Seq("ab", "b", "abc", "bca", "aab", "canary", "ry")
    for (t <- Seq("", "a", "abc", "aabcabc", "xxabcax", "zcanarz canary",
        "bbbbb", "aaabca", "xyzab")) {
      assert(ac(t, pats) == naive(t, pats), s"text '$t'")
    }
    // multi-byte UTF-8 needles (byte-exact, no cross-boundary falses)
    assert(ac("naïve café crème", Seq("ïve", "fé", "é c")) == 3)
    assert(ac("naive cafe creme", Seq("ïve", "fé", "é c")) == 0)
    // randomized differential over a 3-letter alphabet (dense overlaps)
    val rnd = new scala.util.Random(42)
    def rs(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(3)).toChar).mkString
    for (_ <- 1 to 200) {
      val ps = Seq.fill(1 + rnd.nextInt(6))(rs(1 + rnd.nextInt(4))).distinct
      val t = rs(rnd.nextInt(30))
      assert(ac(t, ps) == naive(t, ps), s"text '$t' pats $ps")
    }
  }

  test("Dbscan.cluster: core/border/noise roles and deterministic labels") {
    val sp = spark
    import sp.implicits._
    // Build vectors in the plane spanned by {u, w}, u = the single LSH
    // plane's normal, w ⊥ u — so the bucket bit is exactly sign(a) for
    // vec = a·u + b·w and the test controls both bucketing and cosines.
    val plane = graft.functions.VectorExprs.deterministicPlanes(1, 4).head
    val pn = math.sqrt(plane.map(x => x * x).sum)
    val u = plane.map(_ / pn)
    val e0 = Seq(1.0, 0.0, 0.0, 0.0)
    val proj = u.zip(e0).map { case (ui, ei) => ei - ui * e0.zip(u).map(t => t._1 * t._2).sum }
    val wn = math.sqrt(proj.map(x => x * x).sum)
    val w = proj.map(_ / wn)
    def vec(deg: Double): Array[Float] = {
      val (a, b) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
      u.zip(w).map { case (ui, wi) => (a * ui + b * wi).toFloat }.toArray
    }
    // p-chain at 0°/36.87°/73.74° (adjacent cos = 0.8 ≥ eps, ends 0.28):
    // only the middle is core (deg 2 + 1 = minPts); ends are border.
    // q-clique at 160°/165°/170°: all core, one component, label = min id.
    // 117° is ≥ 43° from everything → noise. eps margins ≥ 0.02 ≫ f32 ulp.
    val rows = Seq(1L -> vec(0), 2L -> vec(36.87), 3L -> vec(73.74),
      11L -> vec(160), 12L -> vec(165), 13L -> vec(170), 99L -> vec(117))
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Dbscan.cluster(df, col("vec_id"), col("embedding"),
        eps = 0.75, minPts = 3, nPlanes = 1, dim = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set(
      (1L, "border", 2L), (2L, "core", 2L), (3L, "border", 2L),
      (11L, "core", 11L), (12L, "core", 11L), (13L, "core", 11L),
      (99L, "noise", -1L)))
  }

  test("Dbscan.cluster: distinct-vector collapse weights degrees by multiplicity") {
    val sp = spark
    import sp.implicits._
    // Same {u, w}-basis rig as above. Duplicates collapse to one node
    // with a multiplicity; deg(x)+1 = mult(own group) + Σ neighbor-group
    // mults. At eps=0.75, minPts=4: three copies of a(0°) plus their
    // neighbor c(38°) reach 4 → core; c sees 3+2+1=6 → core; the two
    // b(50°) copies see 2+1=3 < 4 → border via core neighbor c (b–a is
    // cos 50° ≈ 0.64, below eps); d(120°) is isolated → noise.
    val plane = graft.functions.VectorExprs.deterministicPlanes(1, 4).head
    val pn = math.sqrt(plane.map(x => x * x).sum)
    val u = plane.map(_ / pn)
    val e0 = Seq(1.0, 0.0, 0.0, 0.0)
    val proj = u.zip(e0).map { case (ui, ei) => ei - ui * e0.zip(u).map(t => t._1 * t._2).sum }
    val wn = math.sqrt(proj.map(x => x * x).sum)
    val w = proj.map(_ / wn)
    def vec(deg: Double): Array[Float] = {
      val (a, b) = (math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
      u.zip(w).map { case (ui, wi) => (a * ui + b * wi).toFloat }.toArray
    }
    val rows = Seq(1L -> vec(0), 2L -> vec(0), 3L -> vec(0),
      11L -> vec(50), 12L -> vec(50), 31L -> vec(38), 99L -> vec(120))
    val out = graft.operators.Dbscan.cluster(rows.toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), eps = 0.75, minPts = 4,
        nPlanes = 1, dim = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set(
      (1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L),
      (31L, "core", 1L),
      (11L, "border", 1L), (12L, "border", 1L),
      (99L, "noise", -1L)))
  }
}
