package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: the streaming-under-oracle query, the exact-integer
  * EB prior, and the k-core convergence witness. */
class Round13Spec extends SparkSpec {

  test("q302: foreachBatch-materialized stream equals the batch windowed agg") {
    val r = SparkEntry.queries("q302_stream_window")(spark, sf()).cache()
    val batch = graft.sources.Tables.table(spark, sf(), "events")
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(date_trunc("hour", col("ts")).as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("cents").cast("double") / 100.0, 2).as("sum_value"))
    assert(r.count() === batch.count())
    assert(r.join(batch, Seq("win_start", "event_type", "n", "sum_value"))
      .count() === r.count())
    r.unpersist()
  }

  test("q302, q306, q349: the file stream replays exactly 3 micro-batches") {
    // each query slices the events by event_id % 3; the replay rig writes
    // one source file b<i>.parquet per slice, triggers one file per
    // micro-batch, and its guard fails the query unless every file ran as
    // one data batch — so 3 non-empty files are 3 batches of cross-batch
    // state merge
    for (q <- Seq("q302_stream_window", "q306_stream_state_totals",
        "q349_stream_static_enrich")) {
      SparkEntry.queries(q)(spark, sf()).count()
      val base = new java.io.File(s"target/stream/${q.take(4)}")
      val runs = base.listFiles().filter(_.isDirectory).sortBy(_.lastModified)
      val src = new java.io.File(runs.last, "src")
      val files = src.listFiles().count(f =>
        f.getName.matches("b\\d+\\.parquet") && f.length() > 0)
      assert(files === 3, s"$q: expected 3 replay source files, got $files")
    }
  }

  test("q284: prior moments are partition-order invariant (exact-integer path)") {
    val a = SparkEntry.queries("q284_eb_shrinkage")(spark, sf())
      .orderBy("p_brand").collect().map(_.toSeq)
    // same computation with a different shuffle-partition count: the scaled
    // LONG rate sums must make the prior (and so the posterior) bit-equal
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val b = SparkEntry.queries("q284_eb_shrinkage")(spark, sf())
        .orderBy("p_brand").collect().map(_.toSeq)
      assert(a.toSeq === b.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q305: append-mode sessions = batch sessionize minus the open tail") {
    import graft.sources.Tables
    val emitted = SparkEntry.queries("q305_stream_sessions")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
      .toSet
    // driver-side replay: sessionize every user's ordered events with the
    // 30-min gap (>= opens a new session, Spark's end-exclusive window),
    // then apply the watermark eviction: emitted iff last + gap <= max ts
    val ev = Tables.table(spark, sf(), "events")
      .selectExpr("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    val maxTs = ev.map(_._2).max
    val gap = 30L * 60 * 1000
    val expect = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (acc, t) if acc.nonEmpty && t - acc.head.head < gap =>
          (t :: acc.head) :: acc.tail
        case (acc, t) => List(t) :: acc
      }
      sessions.filter(_.head + gap <= maxTs)
        .map(sess => (u, sess.last, sess.length.toLong))
    }.toSet
    assert(emitted === expect)
    assert(emitted.size < ev.map(_._1).distinct.length * 1000) // sanity
  }

  test("q306: latest mapGroupsWithState emission per key equals the batch totals") {
    import graft.sources.Tables
    val r = SparkEntry.queries("q306_stream_state_totals")(spark, sf())
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    val b = Tables.table(spark, sf(), "events")
      .selectExpr("event_type", "CAST(round(value * 100) AS LONG) AS cents")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum("cents").cast("double") / 100.0, 2).as("sum_value"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2))).toSet
    assert(r === b)
  }

  test("q309: p50/p90 are the exact order statistics of the raw lag list") {
    import graft.sources.Tables
    val r = SparkEntry.queries("q309_sla_order_stats")(spark, sf())
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    val raw = Tables.table(spark, sf(), "lineitem")
      .selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) AS sd")
      .join(Tables.table(spark, sf(), "orders")
        .selectExpr("o_orderkey", "o_orderpriority AS priority",
          "CAST(o_orderdate AS DATE) AS od"),
        col("l_orderkey") === col("o_orderkey"))
      .selectExpr("priority", "CAST(datediff(sd, od) AS LONG) AS lag")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    raw.groupBy(_._1).foreach { case (p, rows) =>
      val lags = rows.map(_._2).sorted
      val n = lags.length
      val (gotN, p50, p90) = r(p)
      assert(gotN === n.toLong)
      assert(p50 === lags(((n + 1) / 2 - 1).toInt), s"$p p50")
      assert(p90 === lags(((9 * n + 9) / 10 - 1).toInt), s"$p p90")
    }
  }

  test("q318: entropy rate recomputes from raw transitions; 0 <= H <= ln(k)") {
    val row = SparkEntry.queries("q318_markov_entropy")(spark, sf()).head()
    val (n, k, h, hmax) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    assert(n > 0 && k >= 2)
    assert(h >= 0.0 && h <= hmax + 1e-9)
    assert(math.abs(hmax - math.log(k.toDouble)) < 1e-6)
    // independent recompute via q200's transition matrix (same gating)
    val t200 = SparkEntry.queries("q200_event_transitions")(spark, sf())
      .collect().map(x => (x.getString(0), x.getLong(2)))
    val byCur = t200.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = t200.map(_._2).sum
    val hRaw = -t200.map { case (cur, tij) =>
      tij.toDouble / total * math.log(tij.toDouble / byCur(cur))
    }.sum
    assert(math.abs(h - hRaw) < 2e-4, s"h=$h raw=$hRaw") // 1e-6 term pinning
    assert(total === n)
  }

  test("q267: the oracle-twinned convergence witness is true on the fixture") {
    val r = SparkEntry.queries("q267_kcore")(spark, sf())
    assert(r.where(!col("converged")).count() === 0)
    assert(r.columns.contains("converged"))
  }
}
