package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.functions.Lexicons
import graft.operators.Profiler
import graft.sources.Tables

/** Shared helpers for the per-family query books: fixture table reader,
  * DuckDB-twin SQL generators, and the engine-neutral constants that are
  * injected into BOTH the Spark plan and the generated oracle SQL (the
  * lexicon-twin pattern — one set of literals, two engines). */
private[graft] object QueryHelpers {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Corpus-adaptive linkage-blocking prefix length (q88, round 16 — the
    * dbscanplanes "raise the knob with n" contract applied to record
    * linkage): the name-prefix block key grows one character per decade of
    * distinct names, re-cutting the within-block pair space instead of
    * letting it grow ~quadratically. The q88 oracle replays the SAME step
    * function as a SQL CASE from the same count; LinkagePfxLenSpec checks
    * the contract on a minted 10× name universe. */
  private[graft] def linkagePfxLen(nDistinctNames: Long): Int =
    if (nDistinctNames <= 10000L) 3 else if (nDistinctNames <= 100000L) 4 else 5

  /** Exclusive prefix sum (`prev_cum`) of `value` over `key` order for a
    * KEY-CARDINALITY-sized table (language quotas: a handful of rows) —
    * as a triangular self-join instead of a partition-less window. Same
    * values as `sum(value) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING
    * AND -1)`, but declarative: no `WindowExec` single-partition stage
    * (and no its unbounded-data warning) anywhere in the plan. The L²
    * pair fan-out is bounded by the key cardinality squared — trivial for
    * any real language/source/phase dimension. */
  private[graft] def prevCumByKey(counts: DataFrame, key: String, value: String): DataFrame =
    counts.select(col(key), col(value)).as("a")
      .join(counts.select(col(key).as("_bk"), col(value).as("_bv")).as("b"),
        col("_bk") < col(key), "left")
      .groupBy(col(key))
      .agg(coalesce(sum(col("_bv")), lit(0L)).as("prev_cum"))

  /** `df` with the replay slice `slice = pmod(key, n)`. Batch membership
    * is then a function of the data alone, which a DuckDB twin can
    * recompute. */
  private[graft] def modSlices(df: DataFrame, key: String, n: Int): DataFrame =
    df.withColumn("slice", pmod(col(key), lit(n)))

  /** `ev` (which carries a `ts` column) with its event-time quarter, oldest
    * first, as `slice`: row r lands in quarter
    * `((unix_micros(ts) - tmin) * 4) div (span + 1)`. Equal timestamps share
    * a quarter, so every row of slice i+1 is strictly later than every row
    * of slice i and a watermark that trails the replay never late-drops.
    * Returns the frame and the corpus span in microseconds. */
  private[graft] def timeQuarters(ev: DataFrame): (DataFrame, Long) = {
    val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (tmin, span) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0))
    (ev.withColumn("slice", expr(s"((unix_micros(ts) - ${tmin}L) * 4) div ${span + 1}L")),
      span)
  }

  /** The one file-stream replay rig of the streaming-under-oracle queries.
    * `rows` carries an integer `slice` column in `[0, n)`. The rig writes
    * `rows` in ONE Spark job, one task that writes one file per slice
    * value (`partitionBy("slice")`), and moves slice `i`'s file to
    * `b{i:02}.parquet` with ascending mtimes (FileStreamSource replays
    * oldest-first). It then runs the caller's writeStream with
    * `maxFilesPerTrigger 1` (slice i == micro-batch i, deterministically —
    * unlike a hash/range reshard, the batch membership is a pure function
    * the DuckDB twin can recompute), drains, checks the replay invariant,
    * and reads back the materialization. The stream source's schema is
    * `rows`' schema without `slice`, made nullable (what Spark reads back
    * from the written files), so no file is read to learn it; the
    * read-back of `out` takes its schema from a footer
    * ([[graft.sources.Tables.parquet]]). Neither launches a job. Prior run
    * dirs under `target/stream/<tag>` are reaped first — executions of one
    * tag never overlap (Bench's warm-up pool runs each query once, timed
    * passes are sequential, Verify is a separate JVM).
    *
    * `noDataBatch = false` disables the TRAILING no-data micro-batches
    * (round 18, guide §1.2/§2.6: each one re-plans and re-runs the full
    * stateful plan for ~0.5 s and exists only to fire watermark-driven
    * emission/eviction). Legal ONLY for queries whose every output row is
    * produced while processing a DATA batch — inner stream-stream joins,
    * NoTimeout map/flatMapGroupsWithState, dropDuplicates* pass-through,
    * complete/update-mode aggregations — where the trailing batch provably
    * appends zero rows. Queries that EMIT on watermark passage (append-mode
    * session_window q305, EventTimeTimeout q322) must keep the default.
    * Data-batch watermark sequencing is untouched (the disabled batches
    * only ever TRAIL the last data batch — the replay-invariant guard
    * already rejects interleaved ones). */
  private[graft] def streamReplay(s: SparkSession, tag: String,
      rows: DataFrame, n: Int, noDataBatch: Boolean = true)(
      run: (DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery)
      : DataFrame = {
    val root = new java.io.File(s"target/stream/$tag")
    Option(root.listFiles()).foreach(_.foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(d)
    })
    val base = s"target/stream/$tag/${java.util.UUID.randomUUID()}"
    val src = new java.io.File(s"$base/src"); src.mkdirs()
    val out = s"$base/out"
    val tmp = new java.io.File(s"$base/tmp")
    rows.coalesce(1).write.partitionBy("slice").parquet(tmp.getPath)
    val written = tmp.listFiles().map(_.getName).filter(_.startsWith("slice=")).toSet
    require(written.subsetOf((0 until n).map(i => s"slice=$i").toSet),
      s"$tag replay: slice ids outside [0, $n): ${written.toSeq.sorted.mkString(", ")}")
    (0 until n).foreach { i =>
      // partitionBy writes no directory for a slice without rows; the
      // replay-invariant guard below requires one DATA batch per slice, so
      // an empty slice would trip it spuriously (ADVICE r15) — fail HERE,
      // at write time, with the actionable message
      val part = Option(new java.io.File(tmp, s"slice=$i").listFiles()).toSeq.flatten
        .find(_.getName.startsWith("part-"))
      require(part.isDefined,
        s"$tag replay slice $i is empty — the slicing predicate must give " +
          "every micro-batch at least one row (empty slices would replay " +
          "as zero batches and desynchronize the batch-grain twin)")
      val dst = new java.io.File(src, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.get.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    // The drain runs on a CLONED session with a narrow shuffle width. A
    // 4-micro-batch replay at sf0.1 pays per batch per stateful operator
    // one task per shuffle partition — at the session default that fixed
    // fan-out, not the data, dominated the drain (r13 close bench: q307
    // 17.7 s with the join itself sub-second). Measured at sf0.1 min-of-3
    // on q307 (stream-stream join, the worst case: 4 state stores per
    // partition per batch): 32 partitions 17.7 s, 8 → 9.6 s, 4 → 8.4 s,
    // 2 → 4.3 s, 1 → 5.5 s (loses the 2-way task overlap) — so 2. Values
    // are partition-count invariant, and each replay creates a FRESH
    // checkpoint (the state-store partition count is pinned per
    // checkpoint, never inherited across runs).
    //
    // Why a clone and not set/restore on `s` (round 15, the q309 root
    // cause): Bench's pass-0 warm-up pool runs rigs CONCURRENTLY, and two
    // overlapped set/restores interleave as A:read 32 → A:set 2 → B:read 2
    // → A:restore 32 → B:restore 2, leaving the GLOBAL conf at 2 for the
    // rest of the suite — every later query silently ran 2-partition
    // shuffles (q309's triangular join: 0.89 s isolated vs 3.9–4.7 s
    // in-suite). `newSession()` shares the SparkContext, catalog, and
    // cached data but owns its SQL conf, so the narrow width is visible
    // ONLY to plans built from `scoped` — no mutation, no race, nothing to
    // restore. The caller's writeStream is built on `stream`, which
    // belongs to `scoped`.
    val scoped = s.newSession()
    // newSession() inherits builder/SparkContext conf but NOT runtime SQL
    // conf set on the parent (ADVICE r15: a caller's runtime override
    // would silently vanish inside the drain) — copy the parent's runtime
    // view across before narrowing. Static/immutable entries can't be
    // re-set; they are identical in the clone anyway, so skip them.
    s.conf.getAll.foreach { case (k, v) =>
      try if (scoped.conf.get(k, null) != v) scoped.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    scoped.conf.set("spark.sql.shuffle.partitions", "2")
    // the guard below reads recentProgress, which is capped by
    // numRecentProgressUpdates (default 100) — raise it above the batch
    // count so a long replay can't undercount its own batches (ADVICE
    // r15); n data batches + headroom for no-data batches
    scoped.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (n + 32).toString)
    if (!noDataBatch)
      scoped.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val stream = scoped.readStream
      .schema(nullable(rows.drop("slice").schema))
      .option("maxFilesPerTrigger", 1)
      .option("latestFirst", "false")
      .parquet(src.getPath)
    val q = run(stream, s"$base/ckpt", out)
    try {
      q.processAllAvailable()
      // Replay-invariant guard (ADVICE r14): every replay query's twin
      // assumes slice i == micro-batch i, back-to-back, with no no-data
      // batch interleaved before the last data batch (an interleaved one
      // would run state cleanup at a different watermark and silently
      // desynchronize engine and oracle). Fail loudly if a trigger setting
      // or Spark's batch planning ever changes that. Trailing no-data
      // batches are harmless: no data follows them, so they cannot change
      // emission.
      val prog = q.recentProgress
      val lastData = prog.lastIndexWhere(_.numInputRows > 0)
      val dataBatches = prog.count(_.numInputRows > 0)
      require(dataBatches == n,
        s"$tag replay: ${dataBatches} data micro-batches, expected $n")
      require(prog.take(lastData + 1).forall(_.numInputRows > 0),
        s"$tag replay: a no-data batch interleaved before the last data batch " +
          s"(batch rows: ${prog.map(_.numInputRows).mkString(",")})")
    } finally q.stop()
    Tables.parquet(s, out)
  }

  /** `t` with every field, array element and map value nullable — the
    * schema Spark reads back from parquet files written from `t`. */
  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case st: StructType => nullable(st)
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** The reference's shipped memo-cache fixture (q122). Overridable via
    * GRAFT_REF_CACHE so the query is runnable outside this machine layout;
    * the same resolved path feeds both the engine parse and the DuckDB
    * oracle's read_text, so the two sides cannot diverge. */
  private[graft] def refCachePath: String =
    sys.env.getOrElse("GRAFT_REF_CACHE", "/root/reference/.analysis_cache.json")

  // ----------------------------------------------------------------
  // Oracle SQL fragments generated from the shared constants
  // ----------------------------------------------------------------
  private[graft] val fillerList = Lexicons.FillerValues.map(v => s"'$v'").mkString(", ")

  /** DuckDB twin of TextExprs.cleanText (note the 'g' flags: DuckDB
    * regexp_replace is first-match-only by default, Spark replaces all). */
  private[graft] def cleanSql(e: String): String =
    s"trim(regexp_replace(regexp_replace(trim(coalesce($e, '')), '[\\x{10000}-\\x{10FFFF}]', '', 'g'), '\\s+', ' ', 'g'))"

  private[graft] def isFillerSql(e: String): String =
    s"lower(trim(coalesce($e, ''))) IN ($fillerList)"

  /** Benford first-digit shares log10(1 + 1/d), pinned to 10 dp — shared
    * by q230's Spark side and its generated DuckDB twin (the lexicon-twin
    * pattern: both engines compare against the SAME literals). */
  private[graft] val benfordShares: Seq[(Int, Double)] = (1 to 9).map(d =>
    d -> BigDecimal(math.log10(1 + 1.0 / d))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble)

  /** q239's truncated-EWMA kernel: weight for lag j (1 = yesterday) is
    * 7^(j−1)·8^(12−j) — the geometric (7/8)^(j−1) decay scaled by 8^11 so
    * every weight is an exact LONG and the whole baseline stays integer
    * until the final display division (the lexicon-twin pattern: the same
    * literals are injected into the DuckDB oracle as a VALUES list). */
  private[graft] val ewmaWeights: Seq[(Int, Long)] = (1 to 12).map { j =>
    def ipow(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * b)
    j -> ipow(7, j - 1) * ipow(8, 12 - j)
  }

  /** q291's SPRT constants, ×10⁹-pinned to exact LONGs (the q249 scaled-log
    * trick): per-success and per-failure log-likelihood-ratio increments for
    * H0 p=0.19 vs H1 p=0.21, and the Wald boundaries ±ln(19) for
    * α = β = 0.05. Shared with the generated DuckDB twin so both engines
    * accumulate identical integers. */
  private[graft] val sprtL1: Long =
    math.round(math.log(0.21 / 0.19) * 1e9)
  private[graft] val sprtL2: Long =
    math.round(math.log((1 - 0.21) / (1 - 0.19)) * 1e9)
  private[graft] val sprtBound: Long = math.round(math.log(19.0) * 1e9)

  /** q241's engine-neutral minhash permutation constants: 52-bit XOR mixers
    * derived from md5 so BOTH engines block with the same scheme (unlike
    * the production path's Murmur3 `MinHashExprs`, which DuckDB cannot
    * reproduce — this audit measures the SCHEME's blocking quality with a
    * portable twin). */
  private[graft] val blockPerms: Seq[(Int, Long)] = (0 until 32).map { p =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"graft-perm-$p".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    p -> java.lang.Long.parseLong(hex.take(13), 16)
  }

  /** q241's band geometries under audit: the same 32 permutations regrouped
    * as (bands × rows/band) — recall falls and precision rises with
    * rows/band; the audit prices that tradeoff on real data. */
  private[graft] val blockGeometries: Seq[(Int, Int)] =
    Seq((16, 2), (8, 4), (4, 8))

  /** q247's weekday labels for epoch-day mod 7 (1970-01-01 was a
    * Thursday) — shared with the generated DuckDB twin so neither engine
    * consults its own (mutually incompatible) dayofweek numbering. */
  private[graft] val dowLabels: Seq[String] = Seq(
    "Thu", "Fri", "Sat", "Sun", "Mon", "Tue", "Wed")

  /** DuckDB twin of TextExprs.tokenCount — empty tokens dropped, so the
    * whole suite shares ONE token-counting convention. */
  private[graft] def tokenCountSql(e: String): String =
    s"CAST(len(list_filter(string_split(lower(${cleanSql(e)}), ' '), t -> t <> '')) AS BIGINT)"

  /** DuckDB twin of Spark's `conv(substring(h, 1, 13), 16, 10)`: decode the
    * first 13 hex nibbles of column `h` positionally (the q28 strpos-on-hex
    * pattern). 13 nibbles = 52 bits, exactly representable as DOUBLE. */
  private[graft] val hexNum13: String = (1 to 13).map(i =>
    s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1) * ${1L << (4 * (13 - i))}")
    .mkString(" + ")

  private[graft] def sentimentSql(filler: String, low: String): String =
    s"CASE WHEN $filler THEN 'Neutral' " +
      s"WHEN regexp_matches($low, '${Lexicons.positiveAlt}') AND regexp_matches($low, '${Lexicons.negativeAlt}') THEN 'Mixed' " +
      s"WHEN regexp_matches($low, '${Lexicons.positiveAlt}') THEN 'Positive' " +
      s"WHEN regexp_matches($low, '${Lexicons.negativeAlt}') THEN 'Negative' " +
      s"ELSE 'Neutral' END"

  private[graft] def categorySql(filler: String, low: String): String =
    s"CASE WHEN $filler THEN 'No Feedback' " +
      Lexicons.categoryAlts.map { case (c, alt) =>
        s"WHEN regexp_matches($low, '$alt') THEN '$c' "
      }.mkString +
      "ELSE 'General' END"

  private[graft] def hitSql(e: String, pattern: String): String =
    s"len(regexp_extract_all(lower(coalesce($e, '')), '$pattern'))"

  /** Shared CTE prefix for shingle-based dedup oracles (3-gram shingles of
    * the cleaned text, distinct, docs with >= 3 tokens). */
  private[graft] def shingleCte: String =
    s"""WITH docs AS (SELECT doc_id, string_split(${cleanSql("text")}, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(toks) - 1),
       |           i -> array_to_string(toks[i:i+2], ' '))) AS s
       |       FROM docs WHERE len(toks) >= 3)""".stripMargin

  private[graft] def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a, $b)) * 1.0 / len(list_distinct(list_concat($a, $b)))"

  /** DuckDB twin of TextAnalysis.hashNbClassifier over documents with the
    * q133 seed (sources src0–src4) — (doc_id, n_toks, quality_w, keep);
    * shared by q133 (raw scores) and q145 (calibration deciles). */
  private[graft] lazy val nbQualitySql: String =
    s"""WITH tok0 AS (SELECT doc_id, source,
       |   unnest(string_split(lower(${cleanSql("text")}), ' ')) AS tok FROM documents),
       |tk AS (SELECT doc_id,
       |   CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1 ELSE 0 END AS y,
       |   substring(md5(tok), 1, 3) AS b
       |  FROM tok0 WHERE tok <> ''),
       |c AS (SELECT b, CAST(sum(y) AS BIGINT) AS cpos,
       |   CAST(sum(1 - y) AS BIGINT) AS cneg FROM tk GROUP BY b),
       |tt AS (SELECT CAST(sum(cpos) AS BIGINT) AS tpos,
       |   CAST(sum(cneg) AS BIGINT) AS tneg, CAST(count(*) AS BIGINT) AS nb FROM c),
       |m AS (SELECT b, ln((cpos + 1.0) / (tpos + nb)) - ln((cneg + 1.0) / (tneg + nb)) AS w
       |  FROM c, tt)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       | round(avg(w), 4) + 0.0 AS quality_w,
       | (round(avg(w), 4) + 0.0) > 0.0 AS keep
       |FROM tk JOIN m USING (b) GROUP BY doc_id""".stripMargin

  /** DuckDB twin of TextExprs.withLangId over documents — (doc_id, lang,
    * lang_pred); shared by q24 (raw predictions) and q144 (confusion
    * matrix). Generated from the SAME Lexicons stopword constants as the
    * Spark expressions. */
  private[graft] lazy val langPredSql: String = {
    val en = hitSql("text", Lexicons.wordAlternation(Lexicons.StopwordsEn))
    val es = hitSql("text", Lexicons.wordAlternation(Lexicons.StopwordsEs))
    val de = hitSql("text", Lexicons.wordAlternation(Lexicons.StopwordsDe))
    val fr = hitSql("text", Lexicons.wordAlternation(Lexicons.StopwordsFr))
    val cjk = hitSql("text", "[\\x{4e00}-\\x{9fff}]")
    s"""WITH h AS (SELECT doc_id, lang, $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr,
       |  $cjk AS s_cjk, greatest($en, $es, $de, $fr) AS s_best FROM documents)
       |SELECT doc_id, lang,
       | CASE WHEN s_cjk > 0 THEN 'zh' WHEN s_best = 0 THEN 'und'
       |  WHEN s_en = s_best THEN 'en' WHEN s_es = s_best THEN 'es'
       |  WHEN s_de = s_best THEN 'de' ELSE 'fr' END AS lang_pred
       |FROM h""".stripMargin
  }

  /** Augmented-Gram PCA CTEs (q131/q140): one 65×65 second-moment pass,
    * then 3 power iterations mirrored CTE-for-loop against Pca
    * .topComponent's driver-side math (v0 = 1/sqrt(64) = 0.125 exactly;
    * λ = final ‖C·v‖). Leaves `v3(i, v)` (the unit component, 0-based
    * dim index) and `n3(l)` (λ) in scope. */
  private[graft] def pcaCtes: String = {
    val gram =
      """WITH aug AS (SELECT list_concat(embedding::DOUBLE[], [CAST(1.0 AS DOUBLE)]) AS xa
        |  FROM embeddings),
        |pe AS (SELECT unnest(flatten(list_transform(xa, x -> list_transform(xa, y -> x * y)))) AS p,
        |              unnest(range(1, 4226)) AS idx FROM aug),
        |g AS (SELECT CAST((idx - 1) // 65 AS BIGINT) AS i, CAST((idx - 1) % 65 AS BIGINT) AS j,
        |             sum(p) AS g FROM pe GROUP BY 1, 2),
        |nn AS (SELECT g AS n FROM g WHERE i = 64 AND j = 64),
        |mu AS (SELECT i, g / n AS mu FROM g, nn WHERE j = 64 AND i < 64),
        |c AS (SELECT g.i, g.j, g.g / nn.n - ma.mu * mb.mu AS c
        |      FROM g, nn, mu ma, mu mb
        |      WHERE g.i < 64 AND g.j < 64 AND ma.i = g.i AND mb.i = g.j),
        |v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS v FROM mu)""".stripMargin
    val iters = (1 to 3).map { k =>
      s""",
         |w$k AS (SELECT c.i, sum(c.c * v.v) AS w FROM c JOIN v${k - 1} v ON v.i = c.j GROUP BY c.i),
         |n$k AS (SELECT sqrt(sum(w * w)) AS l FROM w$k),
         |v$k AS (SELECT i, w / l AS v FROM w$k, n$k)""".stripMargin
    }.mkString
    gram + iters
  }

  /** Unrolled PageRank iteration CTEs (q130/q134): expects CTEs `ed(u,v,w)`
    * and `ow(u, outw)` plus `p0(tok, pr)` in scope; emits p1..p`iters`.
    * Damping constants written as (1.0 - 0.85)/0.85 so BOTH engines derive
    * them by the same IEEE subtraction (PageRank.ranks uses
    * lit(1.0 - damping)). */
  private[graft] def prIterCtes(iters: Int): String = (1 to iters).map { k =>
    s""",
       |p$k AS (SELECT o.u AS tok, (1.0 - 0.85) + 0.85 * coalesce(s.acc, 0.0) AS pr
       |  FROM ow o LEFT JOIN (
       |    SELECT e.v AS tok2, sum(e.w / o2.outw * p.pr) AS acc
       |    FROM ed e JOIN ow o2 ON e.u = o2.u JOIN p${k - 1} p ON e.u = p.tok
       |    GROUP BY e.v) s ON s.tok2 = o.u)""".stripMargin
  }.mkString

  /** q132: phrase queries — shared by the Spark operator call and the
    * generated DuckDB oracle. Mixed 2- and 3-token phrases; a phrase with
    * zero corpus occurrences simply contributes no rows (both sides). */
  private[graft] val phraseQueries: Seq[String] =
    Seq("hash join", "table scan", "merge sort", "fast key order")

  /** q87: correlated LATERAL subquery with ORDER BY + LIMIT — top-2 orders
    * per high-balance customer. The identical string runs on both engines
    * (Spark decorrelates the lateral limit into a partitioned rank). */
  private[graft] val lateralSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer c,
      | LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |          WHERE o_custkey = c.c_custkey
      |          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
      |WHERE c.c_acctbal > 9000""".stripMargin

  /** q75: the exact string runs on BOTH engines (Spark via spark.sql, the
    * oracle via DuckDB) — ANSI subquery semantics parity by construction. */
  private[graft] val subquerySql: String =
    """SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority
      |FROM orders o
      |WHERE o.o_totalprice > 1.8 * (SELECT avg(o2.o_totalprice) FROM orders o2
      |                              WHERE o2.o_orderpriority = o.o_orderpriority)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.09)""".stripMargin

  /** Column specs for the q55 profiler — shared by the Spark side and the
    * generated DuckDB twin (Profiler.oracleSql). */
  private[graft] val ordersProfile: Seq[(String, Profiler.Kind)] = Seq(
    "o_orderkey" -> Profiler.Num, "o_custkey" -> Profiler.Num,
    "o_totalprice" -> Profiler.Num, "o_orderdate" -> Profiler.Ts,
    "o_orderstatus" -> Profiler.Str, "o_orderpriority" -> Profiler.Str)


  private[graft] lazy val low = "low"
  private[graft] lazy val cln = "cln"
  private[graft] lazy val classifiedCte =
    s"""WITH c1 AS (SELECT *, ${cleanSql("text")} AS $cln FROM documents),
       |c2 AS (SELECT *, lower($cln) AS $low FROM c1)""".stripMargin

  // q115's full twin, factored out so q119 (recall@k) can embed the
  // IDENTICAL approximate result as a derived table; round 17
  // parameterizes it so q348 can reuse the chain at a different
  // (query set, pool size) for the artifact-only hybrid fusion
  private[graft] lazy val q115Oracle: String =
    ivfadcOracle("vec_id < 8", k = 5, nProbe = 2)

  private[graft] def ivfadcOracle(queryPred: String, k: Int, nProbe: Int): String = {
    def asg(m: Int): String = "(" + graft.operators.KMeansOp.oracleSql(
      "embeddings", "vec_id",
      s"list_slice(embedding, ${m * 16 + 1}, ${m * 16 + 16})",
      k = 4, iters = 2, dim = 16) + s"\n) a$m"
    def cb(m: Int): String = "(" + graft.operators.KMeansOp.oracleCentroidsSql(
      "embeddings", "vec_id",
      s"list_slice(embedding, ${m * 16 + 1}, ${m * 16 + 16})",
      k = 4, iters = 2, dim = 16) + s"\n) cb$m"
    val asgFull = "(" + graft.operators.KMeansOp.oracleSql(
      "embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64) + "\n) ac"
    val cbFull = "(" + graft.operators.KMeansOp.oracleCentroidsSql(
      "embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64) + "\n) cc"
    val cd = "round(list_inner_product(cc.c, cc.c) - 2 * list_inner_product(q.qv, cc.c), 6)"
    val lut = (0 until 4).map { m =>
      s"""(list_inner_product(cb$m.c, cb$m.c)
         |  - 2 * list_inner_product(list_slice(p.qv, ${m * 16 + 1}, ${m * 16 + 16}), cb$m.c))""".stripMargin
    }.mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS query_id,
       |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
       |  FROM embeddings WHERE $queryPred),
       |probed AS (SELECT query_id, qv, cell FROM (
       |  SELECT q.query_id, q.qv, cc.cid AS cell,
       |   row_number() OVER (PARTITION BY q.query_id
       |     ORDER BY $cd ASC, cc.cid ASC) AS crnk
       |  FROM q CROSS JOIN $cbFull) WHERE crnk <= $nProbe)
       |SELECT query_id, corpus_id, adc,
       | CAST(row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc ASC, corpus_id ASC) AS BIGINT) AS rnk
       |FROM (
       |  SELECT p.query_id, ac.vec_id AS corpus_id,
       |   round(list_inner_product(p.qv, p.qv) + $lut, 6) AS adc
       |  FROM probed p
       |   JOIN $asgFull ON ac.cluster = p.cell
       |   JOIN ${asg(0)} ON a0.vec_id = ac.vec_id
       |   JOIN ${asg(1)} ON a1.vec_id = ac.vec_id
       |   JOIN ${asg(2)} ON a2.vec_id = ac.vec_id
       |   JOIN ${asg(3)} ON a3.vec_id = ac.vec_id
       |   JOIN ${cb(0)} ON cb0.cid = a0.cluster
       |   JOIN ${cb(1)} ON cb1.cid = a1.cluster
       |   JOIN ${cb(2)} ON cb2.cid = a2.cluster
       |   JOIN ${cb(3)} ON cb3.cid = a3.cluster)
       |QUALIFY rnk <= $k""".stripMargin
  }

}
