package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Exact-integer accumulator for [[EventStreams.runningCentTotals]]. */
case class CentState(n: Long, cents: Long)

/** Open-session accumulator for [[EventStreams.closedCentSessions]]
  * (exact-integer cents). */
case class OpenSession(n: Long, cents: Long, t0: Long, t1: Long)

/** Per-bucket signature memory for [[EventStreams.nearDupDocStream]]. */
case class BucketSigs(sigs: Seq[Long])

/** Structured-Streaming shapes over the events table. Every transform here
  * works identically on a batch DataFrame and a readStream DataFrame — the
  * engine's streaming story is "same declarative plan, streaming source"
  * (SURVEY.md §7.6). */
object EventStreams {

  /** Custom streaming state: running (count, cents) per event_type via
    * mapGroupsWithState — the KeyValueGroupedDataset form of arbitrary
    * stateful processing. The suite's cents discipline: the state carries
    * exact LONGs, so totals are bit-identical under ANY batch split — what
    * the q306 oracle hash-checks. Expects a pre-scaled `cents` column. Emits the UPDATED cumulative totals each micro-batch; the last
    * emission per key is the full total by construction (totals are
    * cumulative), which is what the materializer keeps. */
  def runningCentTotals(events: DataFrame): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    events.selectExpr("event_type", "cents").as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CentState, (String, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var n = 0L; var c = 0L
          rows.foreach { r => n += 1; c += r._2 }
          val prev = state.getOption.getOrElse(CentState(0L, 0L))
          val next = CentState(prev.n + n, prev.cents + c)
          state.update(next)
          (key, next.n, next.cents)
      }
      .toDF("event_type", "n", "cents")
  }

  /** Stream-static enrichment: join each streamed event to a static (batch)
    * dimension table — the canonical "decorate the stream with reference
    * data" shape. No watermark needed: the static side is bounded, Spark
    * broadcasts it under the threshold, and the stream never buffers.
    * `dim` must be a batch DataFrame keyed by `key` (unique). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: each error joined to the purchases of the
    * same user within the following hour. Both sides carry watermarks and
    * the join condition bounds event-time distance in BOTH directions, so
    * state on each side is provably droppable once the watermark passes —
    * the requirement for an unbounded-input join to run with bounded state.
    * (The batch twin is q60's time-range join.) */
  def errorPurchaseJoin(errors: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    val e = errors.withWatermark("ts", watermark)
      .select(col("event_id").as("error_id"), col("user_id"), col("ts").as("error_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    e.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("error_ts") &&
        col("purchase_ts") <= col("error_ts") + expr("INTERVAL 1 HOUR"))
      .select("error_id", "user_id", "error_ts", "purchase_ts", "purchase_value")
  }

  /** Completed-session emission via flatMapGroupsWithState: events buffer
    * per user in state; once the EVENT-TIME timeout fires (watermark passes
    * last-event-ts + gap with no new events), the CLOSED session (count,
    * cents, bounds) is emitted and state cleared — the standard shape for
    * "output a record when the entity goes quiet". Event-time (not
    * processing-time) timeouts keep the operator deterministic under replay
    * and testable without wall-clock sleeps; state is provably dropped once
    * the watermark passes, so it stays bounded on an unbounded stream.
    *
    * BATCH-EQUIVALENT (round 14, the q322 oracle): gaps INSIDE one
    * micro-batch split sessions too, so two sessions falling in one batch
    * never merge. The batch's rows are sorted by event time
    * (post-shuffle iterator order is the only nondeterminism; equal
    * timestamps cannot split a session and per-session integer sums are
    * order-invariant, so ts alone suffices) and folded against the open
    * state — every gap ≥ `gapMs` closes and EMITS a session immediately,
    * the trailing open session persists with an event-time timeout at
    * t1 + gap. Emission therefore happens exactly once per session: mid-
    * batch sessions emit in the batch that observes the gap, each user's
    * final session emits when the watermark passes its timeout (strictly —
    * GroupState fires on watermark > timeoutTs), and a bounded replay
    * withholds only tail sessions with t1 + gap ≥ final watermark, which a
    * DuckDB twin states as one predicate. Split rule gap ≥ gapMs matches
    * `session_window` (q305), cents discipline keeps sums exact across
    * state merges. Output: (user_id, n_events, cents, first_ts_ms,
    * last_ts_ms); expects a pre-scaled `cents` column. */
  def closedCentSessions(events: DataFrame, gapMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    events.withWatermark("ts", watermarkDelay)
      .selectExpr("user_id", "ts", "cents")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator((user, s.n, s.cents, s.t0, s.t1))
          } else {
            val sorted = rows.toIndexedSeq.sortBy(_._2.getTime)
            val closed = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
            var st = state.getOption.orNull
            sorted.foreach { case (_, ts, c) =>
              val ms = ts.getTime
              if (st == null) st = OpenSession(1L, c, ms, ms)
              else if (ms - st.t1 >= gapMs) {
                closed += ((user, st.n, st.cents, st.t0, st.t1))
                st = OpenSession(1L, c, ms, ms)
              } else st = OpenSession(st.n + 1, st.cents + c, st.t0, math.max(st.t1, ms))
            }
            state.update(st)
            state.setTimeoutTimestamp(st.t1 + gapMs)
            closed.iterator
          }
      }
      .toDF("user_id", "n_events", "cents", "first_ts_ms", "last_ts_ms")
  }

  /** Streaming near-duplicate detection over a document stream — the batch
    * SimHash band blocking ([[graft.operators.Dedup.simhashNearDups]]) as
    * a stateful stream, for dedup-on-ingest ahead of an ever-growing
    * curated store. Each doc fans out to its 4 (band, 16-bit slice) bucket
    * keys; ONE flatMapGroupsWithState keyed on the bucket remembers the
    * most recent `maxSigsPerBucket` signatures and votes when an arriving
    * sig is within `maxHamming` of any remembered one. The band votes are
    * then OR-folded per doc by a SECOND append-mode flatMapGroupsWithState
    * keyed on doc_id that emits max(vote) and never calls `state.update`
    * — all 4 of a doc's band rows are produced by the same explode in the
    * same micro-batch, so the fold needs no cross-batch memory and the
    * operator holds ZERO rows of state between batches. (A plain
    * `groupBy(doc_id).agg(max)` here would be a global streaming
    * aggregation keeping one state-store row per doc_id FOREVER — on the
    * ever-growing ingest stream this operator targets, that unbounded
    * state is exactly the failure mode the bucket stage is designed to
    * avoid.) State is therefore bounded end-to-end with NoTimeout: the
    * bucket keyspace is ≤ 4 × 2¹⁶ by construction, each bucket caps at
    * `maxSigsPerBucket` sigs, and the vote fold keeps nothing — no
    * clock-based expiry needed (and processing-time timeouts stall
    * `processAllAvailable`-style drain-and-assert testing). Pigeonhole
    * over 4 bands keeps blocking recall for hamming ≤ 3 exactly as in
    * batch — the streaming compromise is only the bounded per-bucket
    * memory window.
    *
    * DETERMINISM (round 14, what put this under the correctness oracle as
    * q310): within a (bucket, micro-batch) group the rows are processed in
    * doc_id order — the only nondeterminism in the whole operator was the
    * post-shuffle iterator order, and the sort is per-bucket-per-batch
    * tiny. With batch membership itself deterministic (the q310 rig slices
    * by doc_id % 4), the flagged set is a pure function of the corpus and
    * a DuckDB twin replays the same arrival discipline with one
    * row_number: doc X is a dup iff some Y in a shared band bucket has
    * 1 ≤ rn(X) − rn(Y) ≤ maxSigsPerBucket (the insertion-window eviction,
    * exactly) and hamming(X, Y) ≤ maxHamming.
    *
    * The signature is the engine-neutral md5-feature SimHash
    * ([[graft.plans.SimHash.simhashMd5Shingled]], the q28 oracle-exact
    * variant), so the twin can recompute signatures bit-for-bit.
    * Output: (doc_id, is_dup 0/1), append-mode per micro-batch. */
  def nearDupDocStream(docs: DataFrame, maxHamming: Int = 3, shingleLen: Int = 3,
      maxSigsPerBucket: Int = 64): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val cln = graft.functions.TextExprs.cleanText(col("text"))
    val banded = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.plans.SimHash.simhashMd5Shingled(cln, shingleLen).as("sig"))
      .select(col("doc_id"), col("sig"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bval"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band"), col("bk.bval"))
      .as[(Long, Long, Int, Long)]
    banded
      .groupByKey { case (_, _, band, bval) => (band, bval) }
      .flatMapGroupsWithState[BucketSigs, (Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[BucketSigs]) =>
          var seen = state.getOption.map(_.sigs).getOrElse(Seq.empty)
          // materialize before touching state (the rows iterator is lazy)
          // and process in doc_id order — post-shuffle iterator order is
          // the operator's only nondeterminism (scaladoc: DETERMINISM)
          val out = rows.toList.sortBy(_._1).map { case (docId, sig, _, _) =>
            val dup = seen.exists(s => java.lang.Long.bitCount(s ^ sig) <= maxHamming)
            seen = (sig +: seen).take(maxSigsPerBucket)
            (docId, if (dup) 1 else 0)
          }
          state.update(BucketSigs(seen))
          out.iterator
      }
      // per-doc OR of the 4 band votes, stateless by construction: the
      // group's rows all arrive in this micro-batch (same upstream explode),
      // so emit the fold and leave the state store untouched
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketSigs, (Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (docId, rows, _: GroupState[BucketSigs]) =>
          Iterator((docId, rows.map(_._2).max))
      }
      .toDF("doc_id", "is_dup")
  }

  /** SURVEY.md §7.6 made real: the reference's classify-then-aggregate
    * dataflow streamed. Each micro-batch runs the SAME cache-join classify
    * and emits long-form (product, sentiment, count) — pivot is not
    * streamable, the long form is (pivot at read time). Output parquet is
    * append-only per batch; `checkpoint` gives exactly-once batch ids. */
  def classifiedSummary(stream: DataFrame, industry: String,
      clf: graft.operators.AnswerClassifier, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.Classify
          .applyTo(batch, industry, Seq(("Q", col("answer"), "cls")), clf)
          .groupBy(col("product"), col("cls.sentiment").as("sentiment"))
          .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"))
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Streaming REDACTION (q345 — VERDICT r15 #7): every micro-batch is
    * scrubbed with the SAME Aho–Corasick leftmost-longest pass the batch
    * path runs (plans.AcRedact, whole-stage-codegen'd inside the batch
    * plan) and the per-batch per-source scrub ledger is appended —
    * (source, n_docs, n_redactions, len_before, len_after, batch_id).
    * Ledger sums are batch-membership-invariant, so the read-back rollup
    * equals the one-shot batch scrub regardless of the slicing — which is
    * what the DuckDB twin checks. Expects columns (source, _t). */
  def redactedSummary(stream: DataFrame, patterns: Seq[String], mask: String,
      outDir: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val maskRe = java.util.regex.Pattern.quote(mask)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.select(col("source"), col("_t"),
            graft.plans.AcRedact.acRedact(col("_t"), patterns, mask).as("_r"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum((size(split(col("_r"), maskRe, -1)) - 1).cast("long"))
              .as("n_redactions"),
            sum(length(col("_t")).cast("long")).as("len_before"),
            sum(length(col("_r")).cast("long")).as("len_after"))
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
      }
      .start()
  }

  /** Per-CLASS streaming redaction (q351 — VERDICT r16 #8): q342's typed
    * masks composed into the q345 scrub-at-ingest rig. Every micro-batch
    * is scrubbed by the one-pass leftmost-longest typed automaton
    * (plans.AcRedactTyped — each match replaced by its pattern's class
    * mask) and the appended per-batch per-source ledger SPLITS the scrub
    * census by mask class, so the rollup tells not just how much was
    * scrubbed per source but WHAT. Ledger sums are batch-membership-
    * invariant; the DuckDB twin replays the greedy policy with the mask
    * carried through the recursion. Expects columns (source, _t);
    * `masks(i)` is the class mask of `patterns(i)` and `classMasks` the
    * distinct masks to census (column-named by stripping `<>`). */
  def typedRedactedSummary(stream: DataFrame, patterns: Seq[String],
      masks: Seq[String], classMasks: Seq[String], outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val classCounts = classMasks.map { mk =>
          val name = "n_" + mk.replaceAll("[<>]", "").toLowerCase
          sum((size(split(col("_r"),
            java.util.regex.Pattern.quote(mk), -1)) - 1).cast("long")).as(name)
        }
        batch.select(col("source"), col("_t"),
            graft.plans.AcRedactTyped.acRedactTyped(col("_t"), patterns, masks)
              .as("_r"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), classCounts ++ Seq(
            sum(length(col("_t")).cast("long")).as("len_before"),
            sum(length(col("_r")).cast("long")).as("len_after")): _*)
          .withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir)
      }
      .start()

  /** Index-at-ingest (q350 — VERDICT r16 #4): every micro-batch of a
    * document stream is COMMITTED into the persisted BM25 artifact —
    * batch 0 builds, later batches run [[graft.operators.LexIndex.append]]
    * (one manifest commit per batch; exact-integer additive stats make
    * the stream-built index bit-identical to a one-shot build, and the
    * doc_id disjointness guard refuses a replayed batch instead of
    * double-counting it). A per-batch ledger is appended to `outDir` for
    * the replay rig's read-back contract. Expects columns (doc_id, text). */
  def indexedIngest(stream: DataFrame, ixDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // Round 18 (guide §1.2 — don't compute things twice): the ledger's
        // n_docs is already an exact integer in the index commit's stats
        // object (build writes the batch totals; append adds them), so the
        // ledger is the difference of two METADATA reads plus a one-row
        // local-relation write — the previous per-batch ledger job
        // re-scanned the micro-batch's source file just to count it.
        // Ordering: the ledger lands AFTER the commit it describes, so a
        // crash between commit and ledger still replays the batch and the
        // append guard refuses (same exposure the concurrent version had).
        val spark = batch.sparkSession
        val before =
          if (id == 0L) 0L
          else graft.operators.LexIndex.stats(spark, ixDir)._1
        if (id == 0L)
          graft.operators.LexIndex.build(batch.toDF(), col("doc_id"), col("text"), ixDir)
        else
          graft.operators.LexIndex.append(spark, ixDir,
            batch.toDF(), col("doc_id"), col("text"))
        val n = graft.operators.LexIndex.stats(spark, ixDir)._1 - before
        // Round 18 (guide §1.2): the ledger row is pure metadata — two
        // already-known longs — so it is written with the parquet-hadoop
        // writer directly instead of a one-row Spark job + file-commit
        // round per batch (−1 job/batch; same directory-of-parquet
        // artifact, one file per batch, deterministically named so a
        // replayed batch overwrites its own row instead of duplicating it).
        val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
          "message ledger { required int64 n_docs; required int64 batch_id; }")
        val conf = new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration)
        org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$outDir/ledger-b$id.parquet"), conf))
          .withConf(conf)
          .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
          .build()
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        g.add("n_docs", n)
        g.add("batch_id", id)
        w.write(g)
        w.close()
      }
      .start()
}
