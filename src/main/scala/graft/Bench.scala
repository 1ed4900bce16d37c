package graft

import scala.jdk.CollectionConverters._

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Queries are materialized through the `noop` sink —
  * a `count()` would let Catalyst prune the projected expressions away and
  * under-measure narrow transforms.
  *
  * Methodology: each query gets one untimed warm-up execution, then one timed
  * execution. The warm-up absorbs the one-time per-plan costs that are not
  * properties of the engine (Janino compilation of the generated stage, JIT
  * profiling/compilation of that code, parquet footer reads) — on this shared
  * VM those cold costs are also wildly noisy (the same query's first run
  * varies 8s..167s run-to-run under host contention while the steady-state
  * run is stable). Steady-state is what a long-running 100 TB job sees.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench", GraftSession.cpus(32))
    // A failed query keeps its wall time in the line, and its name goes into
    // the trailing "failed" field, so a total with failures in it says so.
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def runQuery(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed.add(name)
      }
    // Optional comma-separated name-prefix filter (local iteration only;
    // the driver never sets it, so round benches always cover the suite).
    val onlyFiltered = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(ps) =>
        val prefixes = ps.split(",").toSeq
        SparkEntry.queries.keys.toSeq.filter(n => prefixes.exists(n.startsWith))
      case None => SparkEntry.queries.keys.toSeq
    }
    // Optional shard selector "i/n" (VERDICT r15 #8: at 340 queries a
    // min-of-3 full suite costs ~19 min wall and long JSON lines clip in
    // the driver capture): deterministic round-robin over the SORTED name
    // list, so shard i of n holds every n-th query. Each shard's JSON
    // follows the full protocol (same warm-up pool, same min-of-3 budget
    // logic, "shard" recorded in the line) and every query lands in
    // exactly one shard, so summed shard totals equal a full run up to
    // host band — the merge is plain addition.
    val shard = sys.env.get("SPARK_GRAFT_BENCH_SHARD").map { sp =>
      // arity and numeric-ness first, in their own require — "3" or
      // "0/x/4" must produce the intended message, never an
      // ArrayIndexOutOfBounds and never a silently-salvaged spec
      // (ADVICE r16; review r17: dropping non-numeric segments would
      // accept a mangled spec as the wrong shard)
      val segs = sp.split("/", -1).map(_.trim)
      require(segs.length == 2 && segs.forall(s => s.nonEmpty && s.forall(_.isDigit)),
        s"bad shard spec '$sp' (want i/n with 0 <= i < n)")
      val parts = segs.map(_.toInt)
      require(parts(1) >= 1 && parts(0) < parts(1),
        s"bad shard spec '$sp' (want i/n with 0 <= i < n)")
      (parts(0), parts(1))
    }
    val names = shard match {
      case Some((i, n)) =>
        onlyFiltered.sorted.zipWithIndex.collect { case (q, j) if j % n == i => q }
      case None => onlyFiltered
    }
    // Pass 0 (untimed): Janino + JIT + parquet footers. Runs on a driver
    // thread pool — Spark's scheduler is thread-safe and the one-time costs
    // being absorbed (codegen compilation, footer reads, cache fills) are
    // mostly serial per query, so overlapping 8 queries cuts this pass from
    // sum-of-query-times to roughly the longest chain. Timing is not read
    // from this pass, so concurrency can't distort the measurement.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    names.foreach { n =>
      pool.submit(new Runnable { def run(): Unit = runQuery(n) })
    }
    pool.shutdown()
    pool.awaitTermination(45, java.util.concurrent.TimeUnit.MINUTES)
    // Up to three timed passes over the WHOLE suite, per-query min across
    // passes. Back-to-back reps share any multi-minute neighbor-contention
    // window on this shared VM (observed: both of 2 consecutive reps stalled
    // 30-50x, and one round-2 driver run had a stall window outlasting two
    // interleaved passes); full-suite interleaving separates a query's reps
    // by minutes, and extra passes widen that separation further. A wall
    // budget (driver-side timeout protection: the round-3 harness run was
    // killed at ~55 min) drops the later passes if the host is stalling.
    //
    // The budget clock starts AFTER the warm-up pool and a further pass is
    // started only if the previous pass's duration still fits the remaining
    // budget — so warm-up cost can't silently eat the multi-pass protocol
    // (round-12 failure mode: 298 queries' warm-up + one contended pass
    // consumed the whole budget and the emitted JSON degraded to a single
    // unlabelled sample). The JSON now records "passes" so a degraded run
    // is visible to the reader.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val tTimed = System.nanoTime()
    def timedElapsed: Double = (System.nanoTime() - tTimed) / 1e9
    def timedPass(): Map[String, Double] = names.map { name =>
      val t0 = System.nanoTime()
      runQuery(name)
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val passes = scala.collection.mutable.ArrayBuffer(timedPass())
    def lastPassS: Double = passes.last.values.sum
    while (passes.size < 3 && timedElapsed + lastPassS <= budgetS)
      passes += timedPass()
    val results = names.map(n => n -> passes.map(_(n)).min)
    // Driver-capture-proofing (r12/r13 lesson): the driver's line capture
    // truncates the HEAD of long JSON lines, so (a) per-query keys are the
    // short unique qNN prefix at 2 dp to keep the line small, and (b) the
    // summary fields (metric/value/passes/sf) come AFTER the queries
    // object — the tail survives truncation, so the headline total and
    // pass count are recoverable even from a clipped line.
    val qs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + f"\":$v%.2f"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val shardField = shard.map { case (i, n) => s""","shard":"$i/$n"""" }.getOrElse("")
    // last, after sf and shard: the field a reader must see survives a
    // head-truncated capture
    val failedField = failed.asScala.toSeq.sorted
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString(""","failed":[""", ",", "]")
    val line =
      f"""{"queries":$qs,"metric":"total","value":$total%.3f,"unit":"sec","passes":${passes.size},"sf":"$sfDir"$shardField$failedField}"""
    println(line)
    // Round 18 (VERDICT r17 #9): the round-over-round perf comparison died
    // once to the driver's stdout capture clipping this line — persist the
    // SAME JSON to a file as well (additions-only; timing and the printed
    // contract line are untouched). Overridable for local iteration.
    val lineFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      "bench/BENCH_last_run.json")
    try {
      val p = java.nio.file.Paths.get(lineFile)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $lineFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
