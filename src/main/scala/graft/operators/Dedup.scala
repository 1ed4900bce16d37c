package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextExprs, VectorExprs}
import graft.plans.MinHashExprs

/** Deduplication operators for large-scale corpus curation — the
  * training-data-pipeline extensions of the engine (SURVEY.md §2.3).
  *
  * Design rule for 100 TB: never materialize the O(n²) pair space. Every
  * near-dup variant is (signature per row) → (bucket by signature band) →
  * (pairs only within buckets) → (exact verify on candidates). All signature
  * computation is Catalyst expressions over arrays, so it stays codegen'd and
  * scales linearly; the only shuffles are the bucket groupBys/joins on
  * well-distributed hash keys.
  */
object Dedup {

  /** Exact dedup via full-text hash groupBy (the reference's memo-dedup
    * insight O7 applied to documents): one row per distinct content hash,
    * keeping the minimum id as canonical representative. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), TextExprs.fingerprintMd5(text).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("id").as("keep_id"), count("*").as("n_copies"))

  /** Word n-gram shingle set (distinct) of a pre-split token array. The
    * lambda body only touches `toks` — pass an ATTRIBUTE column: a non-
    * attribute subtree in a higher-order-function lambda is re-evaluated per
    * element (measured ~50x on the documents corpus). */
  def shinglesOfToks(toks: Column, n: Int): Column =
    // native token_grams (round 17): the transform/slice/concat_ws HOF ran
    // interpreted per window; distinct keeps array_distinct's
    // first-occurrence order, short arrays yield empty — same contract
    graft.plans.WordGramsExprs.tokenGrams(toks, n, distinct = true)

  /** Word n-gram shingle set (distinct) of the cleaned text. Convenience
    * single-Column form for tests/small frames; on the hot path stage
    * `split(cleanText(text), " ")` into an attribute and use
    * [[shinglesOfToks]] (or the codegen'd `MinHashExprs.shingleHashes`). */
  def shingles(text: Column, n: Int): Column =
    shinglesOfToks(split(TextExprs.cleanText(text), " "), n)

  /** Exact Jaccard similarity between two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * shingle-hash → minhash(numBands*rowsPerBand) → band buckets → self-join
    * within buckets → exact-Jaccard verify ≥ threshold. Emits each pair once
    * (id_a < id_b). The band join key is (band_index, hash(band slice)), a
    * well-spread composite — no skew beyond genuinely hot near-dup clusters.
    *
    * Hot path is fully codegen'd native expressions (graft.plans.MinHashExprs):
    * each shingle is hashed exactly once to a 64-bit key, the signature mixes
    * those longs per permutation, and the exact verify runs a linear merge
    * over the sorted hash sets — Jaccard over the hash sets equals Jaccard
    * over the shingle string sets up to 64-bit collisions (~1e-16 per pair).
    */
  def minhashNearDups(
      df: DataFrame, id: Column, text: Column,
      shingleLen: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val docs = minhashSignatures(df, id, text, shingleLen, numBands * rowsPerBand)
    val banded = lshBands(docs, numBands, rowsPerBand)
    val candidates = banded.as("l")
      .join(banded.as("r"), Seq("band", "band_hash"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct() // same pair collides in multiple bands — dedupe BEFORE verify
    // Exact-Jaccard verify: join the pinned sorted hash sets back per side.
    candidates
      .join(docs.select(col("id").as("id_a"), col("shh").as("shh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("shh").as("shh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        MinHashExprs.jaccardSorted(col("shh_a"), col("shh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** The (id, shh, sig) projection both MinHash LSH operators join back
    * to, pinned so the shingle+minhash pipeline runs once. Eager
    * localCheckpoint, not cache(): blocks release on GC, and a query path
    * leaves no CacheManager entry behind (DedupSpec checks the plan). */
  private def minhashSignatures(df: DataFrame, id: Column, text: Column,
      shingleLen: Int, numPerm: Int): DataFrame =
    df.select(id.as("id"), TextExprs.cleanText(text).as("cln"))
      .select(col("id"), MinHashExprs.shingleHashes(col("cln"), shingleLen).as("shh"))
      .where(size(col("shh")) > 0)
      .withColumn("sig", MinHashExprs.minhashSignature(col("shh"), numPerm))
      .localCheckpoint()

  /** One (id, band, band_hash) row per LSH band of `sig`: the shingle hash
    * sets must not ride through the exploded candidate-join shuffle. */
  private def lshBands(sigs: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = (0 until numBands).map(b =>
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
    sigs.select(col("id"), posexplode(array(bandHashes: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Incremental near-dup dedup: NEW-batch docs that near-duplicate any
    * EXISTING-corpus doc — the daily-ingest operation (dedupe a fresh
    * crawl against the already-curated store) where running the self-join
    * form over corpus ∪ batch would redundantly re-pair the corpus with
    * itself. Same LSH shape as [[minhashNearDups]] — pinned signature
    * projections, ids-only candidates, dedupe before the exact verify —
    * but the banded join is strictly batch×corpus; at real scale the
    * batch side is orders of magnitude smaller than the corpus, AQE
    * broadcasts its banded form, and the corpus never shuffles for
    * candidate generation. Returns (batch_id, corpus_id, jaccard).
    *
    * RECALL CAVEAT (applies to [[minhashNearDups]] identically): candidate
    * generation is banded LSH, so a pair with exact Jaccard s ≥ threshold
    * is missed with probability (1 − s^r)^b (b bands × r rows/band) —
    * e.g. ~1.4% at s = 0.7 with the 16×2 q113/q27 parameters, falling
    * fast as s grows. The driver's exact-all-pairs DuckDB oracle therefore
    * hash-matches only when no just-above-threshold pair lands in the
    * miss probability — a data-dependent (and at sf0.01, empirically
    * held) property, not a guarantee. PropertySpec pins it on the
    * fixtures: every exact-Jaccard ≥ threshold pair must also be emitted
    * by the banded join. If a future data refresh trips it, raise bands
    * (recall → 1) rather than loosening the oracle. */
  def minhashNearDupsAgainst(
      corpus: DataFrame, batch: DataFrame, id: Column, text: Column,
      shingleLen: Int = 3, numBands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val c = minhashSignatures(corpus, id, text, shingleLen, numBands * rowsPerBand)
    val b = minhashSignatures(batch, id, text, shingleLen, numBands * rowsPerBand)
    val candidates = lshBands(b, numBands, rowsPerBand).as("l")
      .join(lshBands(c, numBands, rowsPerBand).as("r"), Seq("band", "band_hash"))
      .select(col("l.id").as("batch_id"), col("r.id").as("corpus_id"))
      .distinct()
    candidates
      .join(b.select(col("id").as("batch_id"), col("shh").as("shh_a")), "batch_id")
      .join(c.select(col("id").as("corpus_id"), col("shh").as("shh_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        MinHashExprs.jaccardSorted(col("shh_a"), col("shh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** SimHash (64-bit) via the native codegen'd expression
    * (graft.plans.SimHash) over the cleaned text. */
  def simhash(text: Column): Column =
    graft.plans.SimHash.simhash(TextExprs.cleanText(text))

  /** Near-dup pairs by SimHash band blocking + Hamming verify ≤ maxHamming.
    * Bands: 4 × 16-bit slices — any identical slice → candidate.
    *
    * Signature features are word `shingleLen`-grams (not unigrams): on a
    * corpus with a shared vocabulary, unigram bit votes correlate across
    * documents and band blocking degenerates toward all-pairs (measured
    * 511k candidates from 5k docs); shingle features keep buckets small.
    * Candidates carry ids only and are deduplicated BEFORE the signatures
    * join back for the Hamming verify. */
  def simhashNearDups(df: DataFrame, id: Column, text: Column, maxHamming: Int = 3,
      shingleLen: Int = 3): DataFrame = {
    val sigs = df.select(id.as("id"),
        graft.plans.SimHash.simhashShingled(TextExprs.cleanText(text), shingleLen).as("sig"))
      .localCheckpoint() // GC-released pin (see [[minhashSignatures]])
    val bandSlices = (0 until 4).map(b =>
      shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = sigs.select(col("id"), posexplode(array(bandSlices: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
    val candidates = banded.as("l").join(banded.as("r"), Seq("band", "band_val"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** SimHash near-dups, ORACLE-EXACT variant: engine-neutral md5-feature
    * signatures (SimHashImpl.simhashMd5 — distinct word n-gram shingles,
    * md5 feature hashes) over docs with ≥ shingleLen tokens, 8 × 8-bit band
    * blocking, Hamming verify ≤ maxHamming.
    *
    * With maxHamming < 8 bands the pigeonhole principle makes the blocking
    * EXACT, not approximate: ≤ 7 differing bits can touch at most 7 of the
    * 8 bands, so every qualifying pair shares at least one identical band
    * and is generated as a candidate. The output therefore EQUALS the
    * brute-force all-pairs answer — a DuckDB twin that recomputes the md5
    * signatures and scans all pairs hash-matches it row-for-row, which is
    * what turns this sketch operator into a driver-verifiable one. The
    * dataflow shape (ids-only candidates, dedupe before verify) and its
    * scale posture are identical to [[simhashNearDups]]. */
  def simhashNearDupsExact(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 7, shingleLen: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8,
      "band blocking is only exact for maxHamming < 8 (pigeonhole over 8 bands)")
    // Cache posture: the member table is referenced three times in the
    // returned plan and is SKETCH-SIZED — (id, tid, sig), ~32 bytes/doc
    // spread across the cluster — so the persisted footprint is acceptable,
    // unlike a full-corpus persist. ContextCleaner reclaims it once the
    // returned DataFrame is unreferenced.
    //
    // EXACT-DUPLICATE COLLAPSE (round 13, the editDistNearDups move): the
    // signature is a pure function of the cleaned text, so banding,
    // candidate generation, and the hamming verify all run at the
    // DISTINCT-TEXT grain; identical-text doc pairs are hamming-0 by
    // definition and expand through slim equi-joins. k exact copies per
    // text grow doc pairs as k² but add ZERO band-join and verify work.
    val m = df.select(id.as("id"), TextExprs.cleanText(text).as("cln"))
      .where(size(split(col("cln"), " ")) >= shingleLen)
      .select(col("id"), md5(col("cln")).as("tid"),
        graft.plans.SimHash.simhashMd5Shingled(col("cln"), shingleLen).as("sig"))
      .localCheckpoint() // GC-released pin (see [[minhashSignatures]])
    val g = m.select("tid", "sig").distinct()
    val bandSlices = (0 until 8).map(b =>
      shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(0xFFL)))
    val banded = g.select(col("tid"), posexplode(array(bandSlices: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
    val candidates = banded.as("l").join(banded.as("r"), Seq("band", "band_val"))
      .select(col("l.tid").as("tid_a"), col("r.tid").as("tid_b"))
      .where(col("tid_a") < col("tid_b"))
      .distinct()
    val vx = candidates
      .join(g.select(col("tid").as("tid_a"), col("sig").as("sig_a")), "tid_a")
      .join(g.select(col("tid").as("tid_b"), col("sig").as("sig_b")), "tid_b")
      .select(col("tid_a"), col("tid_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
    val cross = vx
      .join(m.select(col("tid").as("tid_a"), col("id").as("_ia")), "tid_a")
      .join(m.select(col("tid").as("tid_b"), col("id").as("_ib")), "tid_b")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("hamming"))
    val same = m.as("x").join(m.as("y"),
        col("x.tid") === col("y.tid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(0L).as("hamming"))
    cross.unionByName(same)
  }

  /** Pairwise n-gram Jaccard over *blocked* candidates: block by a cheap
    * key to avoid O(n²); exact verify. The key is the lexicographic MIN
    * shingle — a function of the shingle *set*, not its order, so it is
    * reproducible across engines (array_distinct order is not). */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      shingleLen: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Staged projections: cln and toks become ATTRIBUTES before any lambda
    // touches them (each is referenced >1x downstream, so CollapseProject
    // keeps the boundary and nothing is re-evaluated per array element).
    //
    // EXACT-DUPLICATE COLLAPSE (round 13): Jaccard is a pure function of
    // the text, so candidates and the exact verify run at the DISTINCT-
    // TEXT grain (identical-text pairs are jaccard 1.0 by definition);
    // member ids expand back through slim equi-joins. k exact copies per
    // text grow doc pairs as k² but add zero verify work.
    val m = df.select(id.as("id"), TextExprs.cleanText(text).as("cln"))
      .select(col("id"), md5(col("cln")).as("tid"),
        MinHashExprs.shingleHashes(col("cln"), shingleLen).as("shh"),
        split(col("cln"), " ").as("toks"))
      .where(size(col("shh")) > 0)
      .select(col("id"), col("tid"), col("shh"),
        array_min(shinglesOfToks(col("toks"), shingleLen)).as("blk"))
      .localCheckpoint() // GC-released pin (see [[minhashSignatures]])
    val g = m.select("blk", "tid", "shh").distinct()
    val keys = g.select(col("blk"), col("tid"))
    val candidates = keys.as("l").join(keys.as("r"), Seq("blk"))
      .select(col("l.tid").as("tid_a"), col("r.tid").as("tid_b"))
      .where(col("tid_a") < col("tid_b"))
      .distinct()
    val vx = candidates
      .join(g.select(col("tid").as("tid_a"), col("shh").as("shh_a")), "tid_a")
      .join(g.select(col("tid").as("tid_b"), col("shh").as("shh_b")), "tid_b")
      .select(col("tid_a"), col("tid_b"),
        MinHashExprs.jaccardSorted(col("shh_a"), col("shh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    val cross = vx
      .join(m.select(col("tid").as("tid_a"), col("id").as("_ia")), "tid_a")
      .join(m.select(col("tid").as("tid_b"), col("id").as("_ib")), "tid_b")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("jaccard"))
    val same = m.as("x").join(m.as("y"),
        col("x.tid") === col("y.tid") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(same)
  }

  /** Connected components over an undirected edge list `(id_a, id_b)` —
    * turns near-dup PAIRS into dedup CLUSTERS (the canonical post-pass for
    * any of the near-dup operators above: keep one doc per component).
    *
    * Two execution paths, picked by ONE count of the deduped edge list:
    *
    *  - **Small graph** (≤ `driverMaxEdges`, the overwhelmingly common case:
    *    verified near-dup pairs are a vanishing fraction of the corpus —
    *    5k docs here yield 256 pairs; even a 1%-dup 100 TB corpus yields
    *    edges in the low billions, of which ≤4M fit this path per the
    *    default): collect to the driver, run union-find with path
    *    compression, return a re-parallelized label table. One job instead
    *    of 3 per propagation round — the iterative dataflow version spends
    *    seconds of pure scheduling on a graph that fits in one task.
    *
    *  - **Large graph**: alternating large-star/small-star contraction
    *    (Kiveris et al. 2014, [[starComponents]]) — O(log² n) rounds on ANY
    *    topology, including the adversarially long near-dup chains where
    *    plain min-label propagation pays one shuffle round per hop of
    *    graph diameter. No driver-side graph, works at any scale.
    *    ([[minLabelComponents]] keeps the one-hop-per-round propagation for
    *    the probe's round-count comparison.)
    *
    * Returns (node, component) — component = min node id reachable. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      driverMaxEdges: Long = 1L << 22): DataFrame = {
    val spark = pairs.sparkSession
    // The symmetrizing union scans `pairs` twice; persist so an expensive
    // upstream (e.g. an LSH band join + verify) is evaluated once.
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst")).persist()
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    val nEdges = edges.count()
    p.unpersist(false)
    if (nEdges <= driverMaxEdges) {
      val local = edges.collect()
      edges.unpersist(false)
      // Union-find with path compression; component label = min member.
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      local.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val lt: (Any, Any) => Boolean = {
        case (x: Long, y: Long) => x < y
        case (x: Int, y: Int) => x < y
        case (x: String, y: String) => x < y
        case (x, y) => x.toString < y.toString
      }
      val nodes = local.iterator.map(_.get(0)).toArray.distinct
      val minOfRoot = scala.collection.mutable.HashMap.empty[Any, Any]
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot.updateWith(r) {
          case Some(m) => Some(if (lt(n, m)) n else m)
          case None => Some(n)
        }
      }
      val idType = edges.schema.head.dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType, nullable = false),
        org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
      val rows = nodes.map(n => org.apache.spark.sql.Row(n, minOfRoot(find(n))))
      val slices = math.max(1, math.min(nodes.length / 100000, 64))
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, slices), schema)
    } else {
      val (labels, _) = starComponents(edges, maxIter)
      edges.unpersist()
      labels
    }
  }

  /** Two-phase star contraction (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): alternate
    *
    *  - '''large-star''' — every node strictly LARGER than its neighbor u
    *    re-links to the minimum of u's closed neighborhood, and
    *  - '''small-star''' — every node re-links its smaller-or-equal
    *    neighbors (and itself) to that minimum,
    *
    * until the edge set is a fixed point: a forest of depth-1 stars, each
    * node linked directly to its component's minimum id. Each phase is ONE
    * hash aggregate (per-node min) + ONE equi-join — the same shuffle
    * primitives as min-label propagation — but the contraction halves
    * path lengths instead of walking them, so convergence is O(log² n)
    * rounds on ANY topology where min-label pays one round per hop of
    * graph diameter (a 10⁶-link near-dup chain: ~20 alternations vs 10⁶
    * propagation rounds). Round11Spec pins the round count on a pure path
    * graph.
    *
    * Fixpoint detection: a cheap (count, Σsrc, Σdst) signature — decimal
    * sums, so id magnitude cannot overflow — gates an EXACT set-equality
    * check (`except`-empty), which therefore runs once, on the converged
    * round, not every round. Ids must be numeric (the same contract the
    * label-sum check of the propagation variant had).
    *
    * Each round ends in an EAGER `localCheckpoint`: a star round references
    * the previous edge set ~5 times (two unions, two joins), so the logical
    * lineage grows exponentially with rounds — by round ~12 merely
    * STRINGIFYING the plan OOMs the driver. The checkpoint truncates the
    * lineage to the materialized partitions and doubles as the per-round
    * cache. (On a multi-node cluster prefer `checkpoint` to a reliable dir
    * if executor loss during the CC pass must be survivable; the edge list
    * a near-dup pass produces is re-derivable, so local is the default.)
    *
    * `edges` must be the symmetrized distinct pair list. Returns
    * ((node, component), roundsUsed). */
  private[graft] def starComponents(edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    val sig38 = (c: String) => sum(col(c).cast("decimal(38,0)"))
    // orient hi→lo once up front; drop self-loops
    var cur = edges.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint(true)
    var prevSig = cur.agg(count(lit(1)), sig38("src"), sig38("dst")).head()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // large-star: for each center u (both orientations), min m of its
      // closed neighborhood; every neighbor v > u re-links to m. Edges
      // stay hi→lo because m <= u < v.
      val sym = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mLarge = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val afterLarge = sym.join(mLarge, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      // small-star: for each center u (hi end), min m of its smaller
      // neighbors; those neighbors AND u itself re-link to m.
      val mSmall = afterLarge.groupBy("src").agg(min("dst").as("m"))
      val next = afterLarge.join(mSmall, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mSmall.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct().localCheckpoint(true)
      val sig = next.agg(count(lit(1)), sig38("src"), sig38("dst")).head()
      done = sig == prevSig && next.except(cur).isEmpty
      cur.unpersist()
      cur = next
      prevSig = sig
      it += 1
    }
    // at the fixed point every edge is (node, componentMin); the min node
    // of each component appears only on the dst side. groupBy-min guards
    // the maxIter cutoff (where a node could still carry two links).
    val labels = cur.select(col("src").as("node"), col("dst").as("component"))
      .union(cur.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy("node").agg(min("component").as("component"))
    (labels, it)
  }

  /** Min-label propagation: each round every node adopts the minimum label
    * in its closed neighborhood — one join + one groupBy per round, rounds
    * = graph diameter. Kept as the probe's baseline against
    * [[starComponents]] (near-dup clusters are shallow near-cliques where
    * 2-3 rounds win; chains are where it loses). `edges` must be the
    * symmetrized distinct pair list. Returns ((node, component), rounds).
    *
    * Rounds end in an eager `localCheckpoint` (not a bare cache) for the
    * same reason as [[starComponents]]: uncapped iterative lineage makes
    * every post-round action re-stringify an ever-deeper plan, which at
    * tens of rounds OOMs the driver before any data does. */
  private[graft] def minLabelComponents(edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    val nodes = edges.select(col("src")).distinct()
    // self-loops make one join/groupBy cover the CLOSED neighborhood
    val edgesPlus = edges.union(nodes.select(col("src"), col("src").as("dst"))).cache()
    var labels = nodes.select(col("src").as("node"), col("src").as("component"))
      .localCheckpoint(true)
    var prevSum = labels.agg(sum("component")).head().getLong(0)
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val next = edgesPlus.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(min("component").as("component"))
        .localCheckpoint(true)
      val s = next.agg(sum("component")).head().getLong(0)
      labels.unpersist()
      labels = next
      done = s == prevSum
      prevSum = s
      it += 1
    }
    edgesPlus.unpersist()
    (labels, it)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * local algorithm): ordered word k-grams → position-wise gram hashes →
    * sliding window of `window` consecutive hashes → keep the MINIMUM hash
    * of each window → distinct set per document. Guarantees every match of
    * length ≥ window+gramLen-1 tokens shares a fingerprint, while storing
    * only ~2/(window+1) of the gram hashes — the classic sublinear
    * fingerprint for plagiarism/near-dup detection at corpus scale.
    *
    * Hashes are md5-hex prefixes (not engine hash functions) so the
    * fingerprints — and the DuckDB oracle — are engine-neutral; the window
    * minimum is the lexicographic min of those hex strings. Documents
    * shorter than one full window contribute their single global-min
    * fingerprint (the standard short-document degenerate case).
    *
    * Output: (doc_id, fingerprint) distinct pairs. Dedup candidates are
    * then `fingerprint`-equality buckets — same shape as the LSH band
    * joins above. Everything is per-row array work staged onto ATTRIBUTE
    * columns (HOF-lambda re-evaluation pitfall), one explode, one
    * distinct; no shuffle before the final distinct. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
      gramLen: Int = 3, window: Int = 4): DataFrame = {
    val base = df.select(id.as("doc_id"),
      split(lower(TextExprs.cleanText(text)), " ").as("toks"))
    // native token_grams (round 17), positional (non-distinct): winnowing
    // windows over the gram-hash SEQUENCE need every occurrence in order
    val grams = base.select(col("doc_id"),
      graft.plans.WordGramsExprs.tokenGrams(
        col("toks"), gramLen, distinct = false).as("grams"))
    val hashes = grams.select(col("doc_id"),
      transform(col("grams"), g => substring(md5(g), 1, 16)).as("gh"))
    val nWin = size(col("gh")) - (window - 1)
    val fps = hashes.select(col("doc_id"),
      when(size(col("gh")) === 0, typedLit(Seq.empty[String]))
        .when(nWin <= 0, array(array_min(col("gh"))))
        .otherwise(transform(sequence(lit(0), nWin - 1),
          j => array_min(slice(col("gh"), j + 1, lit(window))))).as("fps"))
    fps.select(col("doc_id"), explode(array_distinct(col("fps"))).as("fingerprint"))
  }

  /** Embedding near-dup: random-hyperplane LSH buckets, exact cosine verify.
    * At 100 TB the bucket join replaces the quadratic cross join; raise
    * nPlanes for tighter buckets. */
  def embeddingNearDups(df: DataFrame, id: Column, vec: Column,
      threshold: Double = 0.95, nPlanes: Int = 12, dim: Int = 64): DataFrame = {
    val planes = VectorExprs.deterministicPlanes(nPlanes, dim)
    val docs = df.select(id.as("id"), vec.as("v"),
        VectorExprs.normNative(vec).as("_n"))
      .withColumn("bucket", VectorExprs.hyperplaneBucket(col("v"), planes))
    val l = docs.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"),
      col("_n").as("_na"))
    val r = docs.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"),
      col("_n").as("_nb"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), VectorExprs.cosineHoisted(
        col("v_a"), col("v_b"), col("_na"), col("_nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Edit-distance-verified near-dup pairs with EXACT-DUPLICATE COLLAPSE
    * (round 13): candidates block on the md5 of the first 3 tokens, the
    * O(len²) Levenshtein runs once per DISTINCT-TEXT candidate pair, and
    * identical-text pairs emit dist-0 rows with no DP at all — verified
    * text pairs expand back to doc pairs through slim equi-joins. On a
    * duplicate-heavy corpus (web crawls; k exact copies per text) doc
    * pairs grow as k² while the DP volume doesn't grow at all; the output
    * pair set is provably the per-doc-pair original (levenshtein depends
    * only on content; md5 stands in for the string join key under the q97
    * md5≡raw-grouping license). Caller pre-filters to short docs — the
    * length cap is what licenses Levenshtein at scale.
    * Output: (id_a, id_b, edit_dist, sim) with id_a < id_b, sim ≥
    * `simThreshold` at 4 dp. */
  def editDistNearDups(docs: DataFrame, id: Column, text: Column,
      simThreshold: Double = 0.8): DataFrame = {
    val base = docs
      .select(id.as("doc_id"), TextExprs.cleanText(text).as("t"))
      .select(col("doc_id"), col("t"), split(col("t"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), col("t"), md5(col("t")).as("tid"),
        md5(concat_ws(" ", slice(col("toks"), 1, 3))).as("h"))
    // Pin posture (round 14): the checkpointed member table is SLIM —
    // (doc_id, tid, h), no text — because its three consumers (the two
    // expand joins and `same`) never read the text; the text-bearing side
    // is pinned separately at the DISTINCT-TEXT grain, which is what the
    // collapse bounds on a dup-heavy corpus. Costs one extra source scan,
    // keeps full-corpus text out of the pinned blocks.
    val m = base.select("doc_id", "tid", "h")
      .localCheckpoint() // GC-released pin (see [[minhashSignatures]])
    val g = base.select("h", "tid", "t").distinct()
      .localCheckpoint() // distinct-text grain, two verify-side consumers
    val sim = lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
      greatest(length(col("ta")), length(col("tb")))
    val vx = g.select(col("h"), col("tid").as("tid_a"), col("t").as("ta"))
      .join(g.select(col("h"), col("tid").as("tid_b"), col("t").as("tb")),
        Seq("h"))
      .where(col("tid_a") < col("tid_b"))
      .select(col("h"), col("tid_a"), col("tid_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        round(sim, 4).as("sim"))
      .where(col("sim") >= simThreshold)
    val cross = vx
      .join(m.select(col("h"), col("tid").as("tid_a"),
        col("doc_id").as("_ia")), Seq("h", "tid_a"))
      .join(m.select(col("h"), col("tid").as("tid_b"),
        col("doc_id").as("_ib")), Seq("h", "tid_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"),
        col("edit_dist"), col("sim"))
    val same = m.as("x").join(m.as("y"),
        col("x.h") === col("y.h") && col("x.tid") === col("y.tid") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(0L).as("edit_dist"), lit(1.0).as("sim"))
    cross.unionByName(same)
  }
}
