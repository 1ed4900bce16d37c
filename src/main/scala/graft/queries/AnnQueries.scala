package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExprs
import graft.operators.{Dedup, KMeansOp, Similarity, TopKAgg}
import graft.queries.QueryHelpers._

/** Embedding similarity: brute-force / IVF / PQ ANN search, k-means,
  * semantic dedup, embedding diagnostics.
  *
  * Query/oracle pairs split out of the SparkEntry book (round 13);
  * aggregated by [[graft.SparkEntry]]. Conventions in QueryHelpers. */
private[graft] object AnnQueries extends QueryBook {

  val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q30_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      Similarity.bruteForceTopK(queries, corpus, 5)
        .select(col("query_id"), col("corpus_id"),
          round(col("cos"), 6).as("cos"), col("rank").cast("long").as("rnk"))
    }),

    "q31_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      Similarity.ivfTopK(queries, corpus, 5, nCells = 16, nProbe = 4)
        .select(col("query_id"), col("corpus_id"),
          round(col("cos"), 6).as("cos"), col("rank").cast("long").as("rnk"))
    }),

    "q78_kmeans" -> ((s, dir) => {
      // fixed-iteration Lloyd k-means over embeddings (semantic-clustering
      // curation pass); oracle generated for the same (k, iters) by
      // KMeansOp.oracleSql
      KMeansOp.kmeans(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), k = 4, iters = 2)
        .withColumnRenamed("id", "vec_id")
    }),

    "q101_embed_outlier" -> ((s, dir) => {
      // Embedding-space outlier detection for curation: per-label centroid
      // (the label's mean vector), cosine of every member to its centroid,
      // and the 5 LEAST-cohesive members per label — the "probably
      // mislabeled / junk" review queue. Centroids come from one
      // posexplode + hash-agg (label×dim rows — tiny) and are rounded to
      // 6dp BEFORE the cosine so both engines score from identical
      // doubles (q78's convention); the label→centroid table is broadcast.
      // The bottom-k is the bounded TopKAgg on the negated score — the
      // shuffle carries labels×k rows, never a per-label window partition
      // (which would serialize a label's full membership through one task
      // at 100 TB). Ranking on the ROUNDED cosine keeps the tie-break
      // (vec_id asc) engine-neutral.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          col("embedding"))
      val cent = emb.select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos").agg(round(avg(col("col")), 6).as("cv"))
        .groupBy("label")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("ps"))
        .select(col("label"), expr("transform(ps, x -> x.cv)").as("centroid"))
      val scored = emb.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          round(VectorExprs.cosine(col("embedding"), col("centroid")), 6).as("cos_c"))
      TopKAgg.perKey(scored, col("label"), -col("cos_c"), col("vec_id"), 5)
        .select(col("_k").as("label"), col("id").as("vec_id"),
          round(-col("score"), 6).as("cos_c"), col("rank").cast("long").as("rnk"))
    }),

    "q109_embed_quantize" -> ((s, dir) => {
      // Int8 scalar quantization of the embedding store — the memory lever
      // that makes a 100 TB ANN index fit RAM (4x smaller than float32,
      // per-dimension affine codes a la FAISS SQ8) — with its cost
      // measured: per-label reconstruction MSE and worst absolute error
      // after dequantization. Per-dimension min/max is a dim-sized (64-row)
      // aggregate joined back onto the exploded stream (never collected);
      // codes use floor(x + 0.5) — engine-neutral rounding, unlike
      // HALF_UP/HALF_EVEN round() divergence. MSE at 10dp is safe: values
      // are order-independent up to ~1e-22 absolute summation noise.
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      val st = e.groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
      e.join(st, "pos")
        .select(col("vec_id"), col("label"), col("x"),
          (col("lo") + floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 255.0 + 0.5)
            / 255.0 * (col("hi") - col("lo"))).as("xr"))
        .groupBy("label")
        .agg(countDistinct("vec_id").as("n_vecs"),
          round(avg((col("x") - col("xr")) * (col("x") - col("xr"))), 10).as("mse"),
          round(max(abs(col("x") - col("xr"))), 8).as("max_err"))
    }),

    "q114_pq_adc_search" -> ((s, dir) => {
      // PQ asymmetric distance computation (ADC, Jégou et al. 2011 §III) —
      // the search half of q111's compression: corpus vectors exist ONLY
      // as 4 sub-codes; each query scans codes with per-subspace
      // lookup-table distances ||q_m − c_{m,code}||², never touching raw
      // corpus floats. The LUT is MATERIALIZED as a k-entry array column
      // per subspace on the QUERY side (O(k·dim) once per query row —
      // this is the textbook ADC table build); every candidate row then
      // pays 4 O(1) `element_at` fetches. That shape stays one codegen'd
      // method at any codebook size — the previous k-deep CASE chain
      // duplicated the dot products across branches and would fall out of
      // whole-stage codegen at the k=256 codebooks real deployments run
      // (Round10Spec compiles the k=256 form with fallback disabled). At
      // 100 TB the scan reads 4 bytes of codes per vector instead of 256
      // bytes of floats. Top-5 per query via the per-query window (8 query
      // partitions — q30's shape).
      val e = t(s, dir, "embeddings")
      // the 4 subspace codebooks in one Lloyd loop; every code is an argmin
      // of the same row's vector, so the code table is one projection
      val (fits, base) = KMeansOp.fitViews(
        e, col("vec_id"), col("embedding"), KMeansOp.subspaces(4, 16, k = 4), iters = 2)
      val codes = base.select(col("id").as("vec_id") +: (0 until 4).map { m =>
        KMeansOp.argmin(slice(col("v"), m * 16 + 1, 16), fits(m))._1.cast("int").as(s"code$m")
      }: _*)
      // ‖q‖² once per query row; the raw qv never crosses the join — the
      // broadcast side is (query_id, 4 luts, one scalar)
      val q = e.where(col("vec_id") < 8)
        .select(Seq(col("vec_id").as("query_id"),
          VectorExprs.dot(col("embedding").cast("array<double>"),
            col("embedding").cast("array<double>")).as("_q2")) ++
          (0 until 4).map { m =>
            graft.plans.AnnNative.adcLut(col("embedding").cast("array<double>"),
              fits(m), m * 16).as(s"_lut$m")
          }: _*)
      val lutSum = (0 until 4).map(m =>
        element_at(col(s"_lut$m"), col(s"code$m") + 1)).reduce(_ + _)
      q.crossJoin(codes)
        .select(col("query_id"), col("vec_id").as("corpus_id"),
          round(col("_q2") + lutSum, 6).as("adc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc").asc, col("corpus_id").asc))
          .cast("long"))
        .where(col("rnk") <= 5)
    }),

    "q115_ivfpq_search" -> ((s, dir) => {
      // The composed 100 TB ANN index — IVFADC (Jégou et al. 2011 §IV,
      // the non-residual form): a coarse k-means quantizer routes each
      // query to its nProbe=2 nearest cells, and ADC over q111's PQ codes
      // scores ONLY vectors in probed cells — the scan touches nProbe/k of
      // the code table (cell-partitioned at scale) and reads 4 bytes of
      // codes per candidate. Composes the engine's own parts: one KMeansOp
      // Lloyd loop for both quantizer levels, q114's LUT expression for
      // ADC, the per-query window for top-k. Approximation is BY CONSTRUCTION
      // identical in the oracle (same probed cells, same codes), so the
      // driver hash-checks the full approximate result.
      val e = t(s, dir, "embeddings")
      // all five quantizers (coarse + 4 subspace) in one Lloyd loop; cell
      // and codes are argmins of the same row, so one projection
      val (coarse +: fits, base) = KMeansOp.fitViews(e, col("vec_id"), col("embedding"),
        ((v: Column) => v, 4) +: KMeansOp.subspaces(4, 16, k = 4), iters = 2)
      val codes = base.select(col("id").as("vec_id") +: (0 until 4).map { m =>
        KMeansOp.argmin(slice(col("v"), m * 16 + 1, 16), fits(m))._1.cast("int").as(s"code$m")
      } :+ KMeansOp.argmin(col("v"), coarse)._1.cast("int").as("cell"): _*)
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      // probe table: the nProbe=2 coarse cells nearest each query, selected
      // INSIDE one native expression (plans.ArgTopMExpr: 6dp-rounded score
      // + lowest-cell tie-break — identical selection to the round + rank
      // window it replaces, so the oracle's window twin still matches).
      // At a production coarse quantizer (10k+ cells for 100 TB) the old
      // crossJoin(range(k)) + Window shape pushes k rows per query through
      // an exchange; this is O(k·dim) inside the scan projection.
      // ‖q‖² once per query row (pre-explode), qv dropped once the LUTs
      // exist — the probe join input is (query_id, cell, luts, scalar)
      val probed = q
        .select(col("query_id"), col("qv"),
          VectorExprs.dot(col("qv"), col("qv")).as("_q2"),
          explode(graft.plans.AnnNative.argTopM(col("qv"), coarse, 2)).as("cell"))
        .select(Seq(col("query_id"), col("_q2"), col("cell")) ++
          (0 until 4).map { m =>
            graft.plans.AnnNative.adcLut(col("qv"), fits(m), m * 16).as(s"_lut$m")
          }: _*)
      val lutSum = (0 until 4).map(m =>
        element_at(col(s"_lut$m"), col(s"code$m") + 1)).reduce(_ + _)
      probed.join(codes, "cell")
        .select(col("query_id"), col("vec_id").as("corpus_id"),
          round(col("_q2") + lutSum, 6).as("adc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("adc").asc, col("corpus_id").asc))
          .cast("long"))
        .where(col("rnk") <= 5)
    }),

    "q118_mmr_rerank" -> ((s, dir) => {
      // MMR diversified reranking (Carbonell & Goldstein 1998) — the
      // second stage of the standard two-stage retrieval architecture:
      // the DISTRIBUTED pass scores the whole corpus and keeps top-20
      // (TakeOrderedAndProject, broadcast query vector); the greedy
      // λ·relevance − (1−λ)·max-sim-to-selected rerank then runs on the
      // BOUNDED 20-candidate pool driver-side (k² = 400 sims — the same
      // bounded-collect license as k-means centroids; reranking is O(k²)
      // by definition, the corpus scan is not). Every cosine is rounded
      // to 6dp BEFORE the greedy loop in both engines, so pick order is
      // engine-exact; the DuckDB twin unrolls the 5 greedy steps as CTEs.
      val lam = 0.7
      val emb = t(s, dir, "embeddings")
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qv"))
      val pool = emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          round(VectorExprs.cosine(col("qv"), col("embedding")), 6).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
        .collect()
      val cand = pool.toSeq.map(r =>
        (r.getLong(0), r.getDouble(2), r.getSeq[Double](1)))
      val sp = s
      import sp.implicits._
      graft.operators.Mmr.rerank(cand, k = 5, lam = lam)
        .toDF("rnk", "vec_id", "mmr_score")
    }),

    "q117_triplet_mining" -> ((s, dir) => {
      // Hard-triplet mining for metric-learning / embedding fine-tuning
      // (FaceNet-style): for each anchor, the nearest SAME-label vector
      // (hardest positive is the FARTHEST same-label; here: nearest, the
      // in-batch positive convention) and the nearest DIFFERENT-label
      // vector (the hard negative), plus the triplet margin. One broadcast
      // of the anchor set against the corpus (q30's shape: the corpus
      // never shuffles for scoring), then per-anchor bounded picks via
      // the anchor-partitioned window; emits one training triplet per
      // anchor. At 100 TB the anchor batch is the small side by
      // construction — it is a training BATCH.
      val emb = t(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 16)
        .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
          col("embedding").as("av"),
          VectorExprs.normNative(col("embedding")).as("_an"))
      val corpus = emb.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("embedding").as("cv"),
        VectorExprs.normNative(col("embedding")).as("_cnn"))
      val scored = corpus.join(broadcast(anchors))
        .where(col("cand_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("cand_id"),
          (col("c_label") === col("a_label")).as("same"),
          // 6dp BEFORE the ranking window (repo convention, q101/q107):
          // both engines pick from identical rounded scores, so parity
          // never depends on either engine's float-sum association order;
          // norms hoisted per side — each corpus row scores against all
          // 16 anchors, so the per-pair loop is the cross term only
          round(VectorExprs.cosineHoisted(col("av"), col("cv"),
            col("_an"), col("_cnn")), 6).as("cos"))
      val w = Window.partitionBy("anchor_id", "same")
        .orderBy(col("cos").desc, col("cand_id").asc)
      val best = scored.withColumn("r", row_number().over(w)).where(col("r") === 1)
      val pos = best.where(col("same"))
        .select(col("anchor_id"), col("cand_id").as("pos_id"), col("cos").as("_cp"))
      val neg = best.where(!col("same"))
        .select(col("anchor_id"), col("cand_id").as("neg_id"), col("cos").as("_cn"))
      pos.join(neg, "anchor_id")
        .select(col("anchor_id"), col("pos_id"), col("neg_id"),
          round(col("_cp"), 6).as("cos_pos"), round(col("_cn"), 6).as("cos_neg"),
          round(col("_cp") - col("_cn"), 6).as("margin"))
    }),

    "q119_ivfpq_recall" -> ((s, dir) => {
      // Recall@5 of the IVFADC index (q115) against the exact L2 top-5 —
      // the one number every ANN deployment reports, and the natural
      // oracle-checkable composition of existing parts: both sides are
      // fully deterministic (fixed seeds, 6dp-rounded scores before every
      // rank window), so DuckDB replicates the approximate result exactly
      // and the driver hash-checks the recall itself, not just "rows>0".
      // Ground truth is exact L2 (the metric ADC approximates), not
      // cosine, so the number isolates quantization + probe loss. At
      // scale the exact side is the one-off offline evaluation scan every
      // deployment runs on a query sample; the approximate side touches
      // nProbe/k of the code table as in q115.
      val e = t(s, dir, "embeddings")
      val approx = graft.SparkEntry.queries("q115_ivfpq_search")(s, dir)
        .select(col("query_id"), col("corpus_id"))
      // the per-row norms ‖q‖²/‖c‖² are computed ONCE per side before the
      // cross join — only the cross term pays per-pair work
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        .withColumn("_q2", VectorExprs.dot(col("qv"), col("qv")))
      val c = e.select(col("vec_id").as("corpus_id"),
          col("embedding").cast("array<double>").as("cv"))
        .withColumn("_c2", VectorExprs.dot(col("cv"), col("cv")))
      val exact = q.crossJoin(c)
        .select(col("query_id"), col("corpus_id"),
          round(col("_q2") + col("_c2")
            - lit(2.0) * VectorExprs.dot(col("qv"), col("cv")), 6).as("d2"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("d2").asc, col("corpus_id").asc)))
        .where(col("rnk") <= 5)
        .select(col("query_id"), col("corpus_id"))
      val hits = exact.join(approx, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n"))
      q.select(col("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n"), lit(0L)).as("n_hits"),
          round(coalesce(col("n"), lit(0L)) / 5.0, 4).as("recall"))
    }),

    "q120_residual_pq" -> ((s, dir) => {
      // Residual-form IVFADC encoding (Jégou et al. 2011 §IV — the form
      // FAISS ships as IndexIVFPQ): PQ codebooks are fit on the RESIDUAL
      // r = v − c_cell (vector minus its coarse centroid), not on raw
      // vectors. Residuals concentrate near the origin with far less
      // spread than the raw space, so the same 4-subspace × k codebook
      // budget quantizes them with strictly lower error than q111's
      // non-residual codes (Round10Spec asserts the inequality on this
      // table). Scale shape: the coarse fit + 4 residual sub-fits are the
      // same bounded driver state as q115 (k×dim matrices), the residual
      // column derives in one pass from the base, and the code table is
      // one projection of it, one row per vector.
      val e = t(s, dir, "embeddings")
      val (coarse, base) = KMeansOp.fit(
        e, col("vec_id"), col("embedding"), k = 4, iters = 2)
      val (cellCol, _) = KMeansOp.argmin(col("v"), coarse)
      val res = base.select(col("id"), cellCol.cast("int").as("cell"), col("v"))
        .select(col("id"), col("cell"),
          graft.plans.AnnNative.subCentroid(col("v"), col("cell"), coarse).as("rv"))
      // the 4 residual codebooks in one Lloyd loop; each code and its
      // squared error (KMeansOp.kmeans's sq_dist) come from the same row
      val (fits, _) = KMeansOp.fitViews(
        res, col("id"), col("rv"), KMeansOp.subspaces(4, 16, k = 4), iters = 2)
      val coded = (0 until 4).map { m =>
        val x = slice(col("rv"), m * 16 + 1, 16)
        val (cl, sc) = KMeansOp.argmin(x, fits(m))
        (cl.cast("long").as(s"code$m"), round(VectorExprs.dot(x, x) + sc, 4))
      }
      res.select(Seq(col("id").as("vec_id"), col("cell").cast("long").as("cell")) ++
        coded.map(_._1) :+ round(coded.map(_._2).reduce(_ + _), 4).as("rpq_err"): _*)
    }),

    "q123_ann_index_query" -> ((s, dir) => {
      // Build-once / query-many IVFADC (operators.AnnIndex): quantizers +
      // codes are WRITTEN as a parquet artifact, then the query path loads
      // the centroid table (bounded driver state, broadcast above the
      // CentMatrix threshold) and serves top-5 from the stored codes —
      // ZERO Lloyd iterations and no corpus-embedding scan on the query
      // side (Round11Spec asserts the plan has no aggregate and no
      // embeddings read). The build runs the same deterministic fits as
      // q115, so the round trip reproduces q115's answers and the oracle
      // is q115's twin verbatim.
      val ixDir = s"target/ann_index/${new java.io.File(dir).getName}"
      graft.operators.AnnIndex.build(
        t(s, dir, "embeddings"), col("vec_id"), col("embedding"), ixDir)
      val q = t(s, dir, "embeddings").where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      graft.operators.AnnIndex.query(s, ixDir, q, k = 5, nProbe = 2)
    }),

    "q129_ann_index_upsert" -> ((s, dir) => {
      // Index upsert — q124's incremental contract applied to q123's
      // stored artifact: the index is BUILT on the standing corpus
      // (vec_id % 10 != 0), the ingest batch is APPENDED by encoding it
      // with the STORED quantizers (AnnIndex.append: one argmin pass,
      // zero Lloyd iterations, no refit — at 100 TB a refit per ingest
      // is the difference between an index and a batch job), and queries
      // immediately rank over old + new rows from the cell-partitioned
      // artifact. The oracle replays the slice-fit + assign-all chain,
      // so the hash gate proves the appended rows are encoded bit-
      // identically to a from-scratch encode under the same quantizers.
      val ixDir = s"target/ann_index_upsert/${new java.io.File(dir).getName}"
      val e = t(s, dir, "embeddings")
      graft.operators.AnnIndex.build(
        e.where(col("vec_id") % 10 =!= 0), col("vec_id"), col("embedding"), ixDir)
      graft.operators.AnnIndex.append(
        s, ixDir, e.where(col("vec_id") % 10 === 0), col("vec_id"), col("embedding"))
      // maintenance pass under the same hash gate: rewriting the multi-
      // fragment cells (build + append = 2 files each) must be invisible
      // to the query — compact ≡ append ≡ from-scratch
      graft.operators.AnnIndex.compact(s, ixDir, maxFragments = 1)
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
      graft.operators.AnnIndex.query(s, ixDir, q, k = 5, nProbe = 2)
    }),

    "q131_pca_power" -> ((s, dir) => {
      // Top principal component of the embedding corpus — the whitening /
      // drift-axis primitive. ONE distributed pass (operators.GramAgg, a
      // fixed (d+1)²-double aggregation buffer with map-side partial
      // merge) reduces the corpus to the augmented second-moment matrix
      // [Σxxᵀ Σx; Σxᵀ n], so covariance needs no second scan and no
      // per-element row explosion; the d×d power iteration then runs
      // driver-side like a k-means centroid update — bounded by MODEL
      // dimension, independent of corpus size. λ is the final ‖C·v‖
      // eigenvalue estimate (same value on every row by construction).
      graft.operators.Pca.topComponent(
          t(s, dir, "embeddings"), col("embedding"), dim = 64, iters = 3)
        .select(col("dim_idx"), round(col("loading"), 6).as("loading"),
          round(col("lambda"), 6).as("lambda"))
    }),

    "q135_margin_mining" -> ((s, dir) => {
      // Margin-based bitext mining (Artetxe & Schwenk 2019 — the LASER/
      // CCMatrix parallel-corpus recipe): score candidate (x, y) pairs by
      // cos(x,y) normalized by the MEAN of both sides' top-k neighborhood
      // similarities (ratio margin), then keep each x's best y above a
      // margin threshold — absolute-cosine thresholds are uncalibrated
      // across embedding regions; the margin is the fix. Sides simulate
      // two languages (vec_id parity). Neighborhood stats and the final
      // best-match cut are bounded TopKAgg heaps (k=4 and k=1 — Q·k rows
      // shuffle, never Q·C), ranking on 6-dp-ROUNDED scores so both
      // engines cut identically. Candidate generation is deterministic
      // 8-plane LSH blocking (q34's md5-derived hyperplane buckets —
      // DuckDB-replicable, so the twin scores the identical candidate
      // set): x meets y only inside its bucket, an EQUI-join on the
      // bucket key, so pair volume is Σ|bkt_x|·|bkt_y| ≈ |X||Y|/2^planes
      // — never the |X|×|Y| crossJoin. At 100 TB candidates come from
      // the q123 ANN index instead; the margin/mining dataflow is
      // candidate-agnostic and UNCHANGED.
      val planes = VectorExprs.deterministicPlanes(8, 64)
      val e = t(s, dir, "embeddings")
      // candidates = each x's forward top-4 (the paper mines within the
      // k-NN candidate set), so the margin/cut stage touches n·k rows and
      // the candidate-sized similarity stream is consumed exactly TWICE
      // (one bounded heap per direction); the forward heap's exchange
      // serves both its average and the candidate rows (ReuseExchange)
      val sims = graft.operators.Similarity.lshCandidatePairs(
          e.where(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"),
          e.where(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"),
          planes)
        .select(col("id_a").as("x_id"), col("id_b").as("y_id"), col("cos"))
      val fTop = TopKAgg.perKey(sims, col("x_id"), col("cos"), col("y_id"), 4)
      val fwd = fTop.groupBy("_k").agg(avg("score").as("fwd_avg"))
        .select(col("_k").as("x_id"), col("fwd_avg"))
      val bwd = TopKAgg.perKey(sims, col("y_id"), col("cos"), col("x_id"), 4)
        .groupBy("_k").agg(avg("score").as("bwd_avg"))
        .select(col("_k").as("y_id"), col("bwd_avg"))
      val margins = fTop
        .select(col("_k").as("x_id"), col("id").as("y_id"), col("score").as("cos"))
        .join(fwd, "x_id").join(bwd, "y_id")
        .select(col("x_id"), col("y_id"),
          round(col("cos") / ((col("fwd_avg") + col("bwd_avg")) / 2.0), 6).as("margin"))
      TopKAgg.perKey(margins, col("x_id"), col("margin"), col("y_id"), 1)
        .where(col("score") > 1.02)
        .select(col("_k").as("x_id"), col("id").as("y_id"), col("score").as("margin"))
    }),

    "q140_abtt_residual" -> ((s, dir) => {
      // All-but-the-top embedding postprocessing (Mu & Viswanath 2018):
      // remove the dominant principal component from every embedding —
      // the common-direction bias that inflates all cosines — and report
      // each vector's projection onto it plus the residual norm. USES
      // q131's operator: the component is fit by the one-pass Gram
      // reduction (model-dim-bounded driver state), then applied in a
      // single codegen'd pass with the component as a broadcast-style
      // literal array — fit-once/apply-everywhere, the q89 model/apply
      // posture for linear algebra.
      val e = t(s, dir, "embeddings")
      val u = graft.operators.Pca.topComponent(e, col("embedding"), dim = 64, iters = 3)
        .orderBy("dim_idx").collect().map(_.getDouble(1))
      val uLit = array(u.map(lit): _*)
      val proj = VectorExprs.dot(expr("transform(embedding, x -> cast(x AS double))"), uLit)
      e.select(col("vec_id"), proj.as("_p"),
          VectorExprs.dot(expr("transform(embedding, x -> cast(x AS double))"),
            expr("transform(embedding, x -> cast(x AS double))")).as("_n2"))
        .select(col("vec_id"), round(col("_p"), 6).as("proj"),
          round(sqrt(greatest(col("_n2") - col("_p") * col("_p"), lit(0.0))), 6)
            .as("residual_norm"))
    }),

    "q153_cluster_ari" -> ((s, dir) => {
      // Clustering AGREEMENT: adjusted Rand index + purity of the
      // deterministic 8-plane LSH partition (q34's buckets) against the
      // fixture's gold labels — the external-validity check you run on
      // any unsupervised partition (SemDeDup cells, IVF lists) before
      // trusting it to steer curation. Shape: one scan → (bucket, label)
      // contingency (≤ buckets×labels rows) → all pair-counting
      // arithmetic on the reduced table; C(x,2) sums stay in exact
      // integer form until the final double division.
      val planes = VectorExprs.deterministicPlanes(8, 64)
      val lb = t(s, dir, "embeddings").select(
        VectorExprs.hyperplaneBucket(col("embedding"), planes).as("bucket"),
        col("label").cast("long").as("label"))
      val cont = lb.groupBy("bucket", "label").agg(count(lit(1)).as("nij"))
      val byB = cont.groupBy("bucket")
        .agg(sum("nij").as("ai"), max("nij").as("mx"))
      val byL = cont.groupBy("label").agg(sum("nij").as("bj"))
      val s1 = cont.agg(sum(col("nij") * (col("nij") - 1)).as("_sij2"),
        sum("nij").as("_n"))
      val s2 = byB.agg(sum(col("ai") * (col("ai") - 1)).as("_sa2"),
        sum("mx").as("_pur"), count(lit(1)).as("_nb"))
      val s3 = byL.agg(sum(col("bj") * (col("bj") - 1)).as("_sb2"),
        count(lit(1)).as("_nl"))
      s1.crossJoin(s2).crossJoin(s3)
        .withColumn("_hij", col("_sij2") / lit(2.0))
        .withColumn("_ha", col("_sa2") / lit(2.0))
        .withColumn("_hb", col("_sb2") / lit(2.0))
        .withColumn("_cn2", expr("_n * (_n - 1) DIV 2"))
        .withColumn("_exp", col("_ha") * col("_hb") / col("_cn2"))
        .select(col("_n").as("n"), col("_nb").as("n_buckets"),
          col("_nl").as("n_labels"),
          round((col("_hij") - col("_exp"))
            / ((col("_ha") + col("_hb")) / 2.0 - col("_exp")), 6).as("ari"),
          round(col("_pur").cast("double") / col("_n"), 6).as("purity"))
    }),

    "q158_centroid_drift" -> ((s, dir) => {
      // Embedding-space DRIFT monitor (the vector counterpart of q152's
      // token KL): per-label cosine between the batch slice's centroid
      // and the standing corpus's — an embedding-model swap, a corrupted
      // encoder, or a semantic shift in a source shows up as centroid
      // rotation long before token stats move. ONE aggregate with 2×64
      // conditional per-dimension means (the q78 declarative-sums
      // pattern — no posexplode row inflation, no second scan); the
      // cosine runs on the |labels|-row result.
      val e = t(s, dir, "embeddings").select(
        col("label").cast("long").as("label"),
        (col("vec_id") % 8 === 0).as("b"), col("embedding").as("v"))
      val aggs = (1 to 64).flatMap(i => Seq(
        avg(when(col("b"), element_at(col("v"), i).cast("double"))).as(s"_a$i"),
        avg(when(!col("b"), element_at(col("v"), i).cast("double"))).as(s"_c$i")))
      val g = e.groupBy("label")
        .agg(count(when(col("b"), lit(1))).as("n_batch"),
          (count(when(!col("b"), lit(1))).as("n_corpus") +: aggs): _*)
      val ca = array((1 to 64).map(i => col(s"_a$i")): _*)
      val cc = array((1 to 64).map(i => col(s"_c$i")): _*)
      g.where(col("n_batch") > 0 && col("n_corpus") > 0)
        .select(col("label"), col("n_batch"), col("n_corpus"),
          round(VectorExprs.cosine(ca, cc), 6).as("centroid_cos"))
        .withColumn("drifted", col("centroid_cos") < 0.999)
    }),

    "q174_nprobe_sweep" -> ((s, dir) => {
      // IVF recall/cost TRADEOFF sweep: recall@5 per query at
      // nProbe ∈ {1, 2, 4} against the exact cosine top-5 — the tuning
      // curve every ANN deployment plots before fixing its probe budget
      // (q119 evaluates ONE config; this is the knob sweep). Both sides
      // are deterministic (q31's first-16-as-centroids fixture, same
      // tie-breaks), so DuckDB replicates each approximate result
      // exactly and the oracle hashes the recall numbers themselves.
      // The exact side is ONE brute-force scan shared by all three
      // configs; each probe run touches nProbe/16 of the corpus.
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      val exact = Similarity.bruteForceTopK(qs, corpus, 5)
        .select(col("query_id"), col("corpus_id"))
        .localCheckpoint(true) // tiny 40-row truth set; 3 sweep arms read it
      Seq(1, 2, 4).map { np =>
        val approx = Similarity.ivfTopK(qs, corpus, 5, nCells = 16, nProbe = np)
          .select(col("query_id"), col("corpus_id"))
        val hits = exact.join(approx, Seq("query_id", "corpus_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        qs.select(col("id").as("query_id")).join(hits, Seq("query_id"), "left")
          .select(lit(np.toLong).as("n_probe"), col("query_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            round(coalesce(col("n_hits"), lit(0L)) / 5.0, 4).as("recall"))
      }.reduce(_ union _)
    }),

    "q176_lsh_tuning" -> ((s, dir) => {
      // Minhash banding S-CURVE audit: expected candidate recall of
      // alternative (bands × rows) configs over the TRUE near-dup pair
      // set — p(s) = 1 − (1 − s^r)^b evaluated at each verified pair's
      // exact Jaccard. The pre-flight tuning read a 100 TB dedup run does
      // before fixing its banding: the config's worst-pair recall tells
      // you which true pairs the candidate stage would gamble away.
      // Powers are REPEATED SQUARING on the 6-dp-rounded s (r and b are
      // powers of two here) — fixed multiplication trees, so both
      // engines' doubles are bit-identical; no libm pow anywhere.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
          col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select(round(col("jaccard"), 6).as("s"))
        .localCheckpoint(true) // pair-set sized; all 3 config arms read it
      def sq(c: Column): Column = c * c
      def powByTree(c: Column, e: Int): Column = e match {
        case 1 => c
        case n => sq(powByTree(c, n / 2)) // n ∈ {2,4,8,16,32}: exact halving
      }
      Seq((32, 1), (16, 2), (8, 4)).map { case (b, r) =>
        pairs.select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          (lit(1.0) - powByTree(lit(1.0) - powByTree(col("s"), r), b)).as("_p"))
          .groupBy("bands", "rows_per_band")
          .agg(count(lit(1)).as("n_true_pairs"),
            round(avg("_p"), 6).as("expected_recall"),
            round(min("_p"), 6).as("worst_pair_recall"))
      }.reduce(_ union _)
    }),

    "q181_cluster_profile" -> ((s, dir) => {
      // Near-dup CLUSTER-SIZE profile: the q53 components histogrammed
      // into size bands (2, 3-4, 5-8, 9+) with document share per band —
      // the one-page answer to "how duplicated is this corpus, and is it
      // a long tail of pairs or a few megaclusters?" (megaclusters mean
      // template content; the dedup keep-policy and the q164 token
      // discount both hinge on this shape). Integer CASE bands — no
      // float log2 — identical in the twin.
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"),
          col("doc_id"), col("text"),
          shingleLen = 3, numBands = 16, rowsPerBand = 2, threshold = 0.7)
        .select("id_a", "id_b")
      val sizes = Dedup.connectedComponents(pairs)
        .groupBy("component").agg(count(lit(1)).as("csz"))
      val tot = t(s, dir, "documents").agg(count(lit(1)).as("_N"))
      val band = when(col("csz") === 2, "2").when(col("csz") <= 4, "3-4")
        .when(col("csz") <= 8, "5-8").otherwise("9+")
      sizes.select(band.as("size_band"), col("csz"))
        .groupBy("size_band")
        .agg(count(lit(1)).as("n_clusters"), sum("csz").as("n_docs"))
        .crossJoin(broadcast(tot))
        .select(col("size_band"), col("n_clusters"), col("n_docs"),
          round(col("n_docs").cast("double") / col("_N"), 6).as("corpus_share"))
    }),

    "q190_embed_dispersion" -> ((s, dir) => {
      // Per-label embedding dispersion WITHOUT the n² pairs: for the
      // mean pairwise dot product, Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖vᵢ‖²
      // exactly — so one posexplode aggregate over (label, pos) keys
      // (|labels|·d keys, scales with dimensions not rows) replaces the
      // quadratic self-join. Sum-vector coordinates and Σ‖v‖² round at
      // 6 dp before the identity so both engines compute from identical
      // inputs. Low dispersion = a collapsed/duplicative label.
      val e = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), col("embedding"))
      val nsq = e.select(col("label"),
          aggregate(col("embedding"), lit(0.0d),
            (a, x) => a + x.cast("double") * x.cast("double")).as("sq"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(sum("sq"), 6).as("sum_sq"))
      val s2 = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(sum(col("x").cast("double")), 6).as("sv"))
        .groupBy("label")
        .agg(round(sum(col("sv") * col("sv")), 6).as("s2"))
      nsq.join(s2, "label")
        .select(col("label"), col("n"),
          round(sqrt(col("s2")) / col("n"), 4).as("centroid_norm"),
          round((col("s2") - col("sum_sq")) / (col("n") * (col("n") - 1)), 4)
            .as("mean_pairwise_dot"))
    }),

    "q196_embed_mrr" -> ((s, dir) => {
      // Embedding-quality MRR: for a 50-query deterministic probe, the
      // reciprocal rank of the FIRST same-label neighbor under full
      // cosine ranking (evaluation query — the probe set bounds the
      // candidate volume at 50×n, it is NOT an n² fold; the ranking
      // window partitions BY QUERY so no partition exceeds the corpus
      // row count). MRR near 1 = labels cluster tightly; hit@10 is the
      // deployable-recall companion.
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("label").as("qlab"),
          col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("corpus_id"),
        col("label").as("clab"), col("embedding").as("cv"))
      val scored = c.join(broadcast(q)).where(col("corpus_id") =!= col("query_id"))
        .select(col("query_id"), col("qlab"), col("corpus_id"), col("clab"),
          graft.functions.VectorExprs.cosine(col("qv"), col("cv")).as("cos"))
      val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id").asc)
      val first = scored.withColumn("_rnk", row_number().over(w))
        .where(col("qlab") === col("clab"))
        .groupBy("query_id", "qlab").agg(min("_rnk").as("first_rank"))
      first.groupBy(col("qlab").cast("long").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(lit(1.0) / col("first_rank")), 6).as("mrr"),
          round(avg(when(col("first_rank") <= 10, 1.0).otherwise(0.0)), 4)
            .as("hit_at_10"))
    }),

    "q202_mad_outliers" -> ((s, dir) => {
      // Robust outlier detection per event type: median/MAD instead of
      // mean/σ (one corrupted batch cannot drag its own threshold, the
      // failure mode of q177's z-score under contamination). Both
      // medians ride Percentiles' rank dataflow (range exchange — no
      // task holds a group, quantile_cont-exact), so med and MAD are
      // bit-identical across engines and the 3·1.4826·MAD fence
      // compares cleanly; the medians join back as a 5-row broadcast.
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val med = graft.operators.Percentiles.exactByGroup(
          ev, col("event_type"), col("value"), Seq(0.5), Seq("med"))
        .select(col("group").as("event_type"), col("med"))
      // Pin the deviation table ONCE (round 18, guide §2.4 — the q215/
      // q255 grain-pin posture): `dev` feeds BOTH the MAD rank pass and
      // the final fence aggregate, and without the pin the second
      // consumer re-executed the entire upstream median dataflow (ev
      // scan + GlobalRank range exchange + boundary join) a second time.
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
        .localCheckpoint(true)
      val mad = graft.operators.Percentiles.exactByGroup(
          dev, col("event_type"), col("adev"), Seq(0.5), Seq("mad"))
        .select(col("group").as("event_type"), col("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(first("med"), 4).as("median"),
          round(first("mad"), 4).as("mad"),
          sum(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"), col("median"), col("mad"),
          col("n_outliers"),
          round(col("n_outliers").cast("double") / col("n"), 4).as("outlier_rate"))
    }),
  )

  val oracleSql: ListMap[String, String] = ListMap(
      "q30_cosine_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
          |c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |   list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
          |   (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
          |    sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))) AS cos
          |  FROM q, c)
          |SELECT query_id, corpus_id, round(cos, 6) AS cos,
          | row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rnk
          |FROM s QUALIFY rnk <= 5""".stripMargin,

      "q31_ivf_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
          |  FROM e ORDER BY vec_id LIMIT 16),
          |dots AS (SELECT e.vec_id, e.v, c.cid,
          |    list_sum(list_transform(range(1,65), i -> e.v[i] * c.v[i])) AS dot
          |  FROM e CROSS JOIN cent c),
          |assign AS (SELECT vec_id, v, cid FROM (
          |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
          |    FROM dots) WHERE rn = 1),
          |qprobe AS (SELECT vec_id AS query_id, v AS qv, cid FROM (
          |    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
          |    FROM dots d WHERE d.vec_id < 8) WHERE rn <= 4),
          |scored AS (SELECT q.query_id, a.vec_id AS corpus_id,
          |    list_sum(list_transform(range(1,65), i -> q.qv[i] * a.v[i])) /
          |    (sqrt(list_sum(list_transform(range(1,65), i -> q.qv[i] * q.qv[i]))) *
          |     sqrt(list_sum(list_transform(range(1,65), i -> a.v[i] * a.v[i])))) AS cos
          |  FROM qprobe q JOIN assign a ON a.cid = q.cid)
          |SELECT query_id, corpus_id, round(cos, 6) AS cos,
          | row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rnk
          |FROM scored QUALIFY rnk <= 5""".stripMargin,

      "q78_kmeans" -> KMeansOp.oracleSql(
        "embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64),

      "q101_embed_outlier" ->
        """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          |   embedding::DOUBLE[] AS v FROM embeddings),
          |u AS (SELECT label, unnest(v) AS x,
          |   generate_subscripts(v, 1) AS pos FROM e),
          |c AS (SELECT label, pos, round(avg(x), 6) AS cv FROM u GROUP BY 1, 2),
          |cent AS (SELECT label, list(cv ORDER BY pos) AS centroid FROM c GROUP BY label),
          |s AS (SELECT e.vec_id, e.label,
          |   round(list_sum(list_transform(range(1, 65), i -> v[i] * centroid[i])) /
          |    (sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) *
          |     sqrt(list_sum(list_transform(range(1, 65), i -> centroid[i] * centroid[i])))), 6) AS cos_c
          |  FROM e JOIN cent USING (label))
          |SELECT label, vec_id, cos_c,
          | CAST(row_number() OVER (PARTITION BY label
          |   ORDER BY cos_c ASC, vec_id ASC) AS BIGINT) AS rnk
          |FROM s QUALIFY rnk <= 5""".stripMargin,

      "q109_embed_quantize" ->
        """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          |   embedding::DOUBLE[] AS v FROM embeddings),
          |u AS (SELECT vec_id, label, unnest(v) AS x,
          |   generate_subscripts(v, 1) AS pos FROM e),
          |st AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM u GROUP BY 1),
          |dq AS (SELECT vec_id, label, x,
          |   lo + floor((x - lo) / (hi - lo) * 255.0 + 0.5) / 255.0 * (hi - lo) AS xr
          |  FROM u JOIN st USING (pos))
          |SELECT label, CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
          | round(avg((x - xr) * (x - xr)), 10) AS mse,
          | round(max(abs(x - xr)), 8) AS max_err
          |FROM dq GROUP BY label""".stripMargin,

      "q114_pq_adc_search" -> {
        def asg(m: Int): String = "(" + KMeansOp.oracleSql(
          "embeddings", "vec_id",
          s"list_slice(embedding, ${m * 16 + 1}, ${m * 16 + 16})",
          k = 4, iters = 2, dim = 16) + s"\n) a$m"
        def cb(m: Int): String = "(" + KMeansOp.oracleCentroidsSql(
          "embeddings", "vec_id",
          s"list_slice(embedding, ${m * 16 + 1}, ${m * 16 + 16})",
          k = 4, iters = 2, dim = 16) + s"\n) cb$m"
        val lut = (0 until 4).map { m =>
          s"""(list_inner_product(cb$m.c, cb$m.c)
             |  - 2 * list_inner_product(list_slice(q.qv, ${m * 16 + 1}, ${m * 16 + 16}), cb$m.c))""".stripMargin
        }.mkString(" + ")
        s"""WITH q AS (SELECT vec_id AS query_id,
           |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           |  FROM embeddings WHERE vec_id < 8)
           |SELECT query_id, corpus_id, adc,
           | CAST(row_number() OVER (PARTITION BY query_id
           |   ORDER BY adc ASC, corpus_id ASC) AS BIGINT) AS rnk
           |FROM (
           |  SELECT q.query_id, a0.vec_id AS corpus_id,
           |   round(list_inner_product(q.qv, q.qv) + $lut, 6) AS adc
           |  FROM q CROSS JOIN ${asg(0)}
           |   JOIN ${asg(1)} ON a1.vec_id = a0.vec_id
           |   JOIN ${asg(2)} ON a2.vec_id = a0.vec_id
           |   JOIN ${asg(3)} ON a3.vec_id = a0.vec_id
           |   JOIN ${cb(0)} ON cb0.cid = a0.cluster
           |   JOIN ${cb(1)} ON cb1.cid = a1.cluster
           |   JOIN ${cb(2)} ON cb2.cid = a2.cluster
           |   JOIN ${cb(3)} ON cb3.cid = a3.cluster)
           |QUALIFY rnk <= 5""".stripMargin
      },

      "q115_ivfpq_search" -> q115Oracle,

      "q118_mmr_rerank" -> {
        val lam = 0.7
        def cosSql(a: String, b: String): String =
          s"""round(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) /
             | (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i]))) *
             |  sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])))), 6)""".stripMargin
        val sb = new StringBuilder
        sb ++= s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
                  |cand AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  |   ${cosSql("qv", "(embedding::DOUBLE[])")} AS rel
                  |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
                  |  ORDER BY rel DESC, vec_id LIMIT 20),
                  |sims AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  |   ${cosSql("a.v", "b.v")} AS sim
                  |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
                  |s1 AS (SELECT vec_id, rel AS score FROM cand
                  |  ORDER BY rel DESC, vec_id LIMIT 1),
                  |sel1 AS (SELECT vec_id FROM s1),
                  |""".stripMargin
        for (i <- 2 to 5) {
          // the (1 - lam) literal is interpolated from the SAME Scala double
          // the engine-side greedy uses, so the coefficients are bit-equal
          sb ++= s"""m$i AS (SELECT c.vec_id, $lam * c.rel - ${1 - lam} * max(p.sim) AS score
                    |  FROM cand c JOIN sims p ON p.id_a = c.vec_id
                    |  WHERE p.id_b IN (SELECT vec_id FROM sel${i - 1})
                    |   AND c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                    |  GROUP BY c.vec_id, c.rel),
                    |s$i AS (SELECT vec_id, score FROM m$i
                    |  ORDER BY score DESC, vec_id LIMIT 1),
                    |sel$i AS (SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i),
                    |""".stripMargin
        }
        sb ++= "_t AS (SELECT 1)\n" // close the WITH list (sel5 is unreferenced)
        sb ++= (1 to 5).map(i =>
          s"SELECT CAST($i AS BIGINT) AS rnk, vec_id, round(score, 6) AS mmr_score FROM s$i")
          .mkString("", "\nUNION ALL ", "")
        sb.toString
      },

      "q117_triplet_mining" ->
        """WITH a AS (SELECT vec_id AS anchor_id, label AS a_label,
          |   embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id < 16),
          |c AS (SELECT vec_id AS cand_id, label AS c_label,
          |   embedding::DOUBLE[] AS cv FROM embeddings),
          |s AS (SELECT anchor_id, cand_id, (c_label = a_label) AS same,
          |   round(list_sum(list_transform(range(1, 65), i -> av[i] * cv[i])) /
          |   (sqrt(list_sum(list_transform(range(1, 65), i -> av[i] * av[i]))) *
          |    sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i])))), 6) AS cos
          |  FROM a, c WHERE cand_id <> anchor_id),
          |best AS (SELECT anchor_id, cand_id, same, cos FROM s
          |  QUALIFY row_number() OVER (PARTITION BY anchor_id, same
          |    ORDER BY cos DESC, cand_id ASC) = 1),
          |p AS (SELECT anchor_id, cand_id AS pos_id, cos AS cp FROM best WHERE same),
          |n AS (SELECT anchor_id, cand_id AS neg_id, cos AS cn FROM best WHERE NOT same)
          |SELECT anchor_id, pos_id, neg_id, round(cp, 6) AS cos_pos,
          | round(cn, 6) AS cos_neg, round(cp - cn, 6) AS margin
          |FROM p JOIN n USING (anchor_id)""".stripMargin,

      "q119_ivfpq_recall" ->
        s"""WITH approx AS (
           |$q115Oracle
           |),
           |qq AS (SELECT vec_id AS query_id,
           |   embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8),
           |cx AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
           |exact AS (SELECT query_id, corpus_id FROM (
           |   SELECT query_id, corpus_id,
           |    round(list_inner_product(qv, qv) + list_inner_product(cv, cv)
           |     - 2 * list_inner_product(qv, cv), 6) AS d2
           |   FROM qq CROSS JOIN cx)
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY d2 ASC, corpus_id ASC) <= 5),
           |hits AS (SELECT e.query_id, count(*) AS n FROM exact e
           |  JOIN approx a ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
           |  GROUP BY 1)
           |SELECT qq.query_id, CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
           | round(coalesce(n, 0) / 5.0, 4) AS recall
           |FROM qq LEFT JOIN hits USING (query_id)""".stripMargin,

      "q120_residual_pq" -> {
        val asgFull = "(" + KMeansOp.oracleSql(
          "embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64) + "\n) ac"
        val cbFull = "(" + KMeansOp.oracleCentroidsSql(
          "embeddings", "vec_id", "embedding", k = 4, iters = 2, dim = 64) + "\n) cc"
        // the residual table: v − its coarse centroid (centroids 6dp-rounded
        // by the Lloyd chain on BOTH engines, subtraction exact)
        val resTable =
          s"""(SELECT ev.vec_id, ac.cluster AS cell,
             |  list_transform(range(1, 65), i -> ev.v[i] - cc.c[i]) AS rv
             | FROM (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |   FROM embeddings) ev
             | JOIN $asgFull ON ac.vec_id = ev.vec_id
             | JOIN $cbFull ON cc.cid = ac.cluster)""".stripMargin
        def sub(m: Int): String = "(" + KMeansOp.oracleSql(
          s"$resTable rt$m", "vec_id",
          s"list_slice(rv, ${m * 16 + 1}, ${m * 16 + 16})",
          k = 4, iters = 2, dim = 16) + s"\n) r$m"
        s"""SELECT r0.vec_id, rc.cell, r0.cluster AS code0, r1.cluster AS code1,
           | r2.cluster AS code2, r3.cluster AS code3,
           | round(r0.sq_dist + r1.sq_dist + r2.sq_dist + r3.sq_dist, 4) AS rpq_err
           |FROM ${sub(0)} JOIN ${sub(1)} USING (vec_id)
           | JOIN ${sub(2)} USING (vec_id) JOIN ${sub(3)} USING (vec_id)
           | JOIN (SELECT ac.vec_id, CAST(ac.cluster AS BIGINT) AS cell
           |   FROM $asgFull) rc USING (vec_id)""".stripMargin
      },

      // q123 is q115's build+query round trip through the stored artifact —
      // same deterministic fits, so the SAME oracle must hash-match
      "q123_ann_index_query" -> q115Oracle,

      "q129_ann_index_upsert" -> {
        // quantizers fit on the STANDING corpus slice only; ALL vectors
        // (standing + appended batch) assigned/encoded under them — the
        // hash gate proves AnnIndex.append's encode is bit-identical to
        // a from-scratch encode with the same stored quantizers
        val slice = "(SELECT * FROM embeddings WHERE vec_id % 10 <> 0) ix_src"
        def cbs(m: Int): String = "(" + KMeansOp.oracleCentroidsSql(
          slice, "vec_id", s"list_slice(embedding, ${m * 16 + 1}, ${m * 16 + 16})",
          k = 4, iters = 2, dim = 16) + s"\n)"
        val cbf = "(" + KMeansOp.oracleCentroidsSql(
          slice, "vec_id", "embedding", k = 4, iters = 2, dim = 64) + "\n)"
        val lut = (0 until 4).map { m =>
          s"""(list_inner_product(cm$m.c, cm$m.c)
             |  - 2 * list_inner_product(list_slice(p.qv, ${m * 16 + 1}, ${m * 16 + 16}), cm$m.c))""".stripMargin
        }.mkString(" + ")
        val codeCtes = (0 until 4).map { m =>
          s"""code$m AS (SELECT av.vec_id, cs$m.cid AS code FROM av CROSS JOIN cs$m
             |  QUALIFY row_number() OVER (PARTITION BY av.vec_id
             |    ORDER BY list_inner_product(cs$m.c, cs$m.c)
             |      - 2 * list_inner_product(list_slice(av.v, ${m * 16 + 1}, ${m * 16 + 16}), cs$m.c),
             |      cs$m.cid) = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH av AS (SELECT vec_id,
           |   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |cf AS (SELECT cid, c FROM $cbf),
           |${(0 until 4).map(m => s"cs$m AS (SELECT cid, c FROM ${cbs(m)})").mkString(",\n")},
           |cells AS (SELECT av.vec_id, cf.cid AS cell FROM av CROSS JOIN cf
           |  QUALIFY row_number() OVER (PARTITION BY av.vec_id
           |    ORDER BY list_inner_product(cf.c, cf.c)
           |      - 2 * list_inner_product(av.v, cf.c), cf.cid) = 1),
           |$codeCtes,
           |q AS (SELECT vec_id AS query_id, v AS qv FROM av WHERE vec_id < 8),
           |probed AS (SELECT query_id, qv, cell FROM (
           |  SELECT q.query_id, q.qv, cf.cid AS cell,
           |   row_number() OVER (PARTITION BY q.query_id
           |     ORDER BY round(list_inner_product(cf.c, cf.c)
           |       - 2 * list_inner_product(q.qv, cf.c), 6) ASC, cf.cid ASC) AS crnk
           |  FROM q CROSS JOIN cf) WHERE crnk <= 2)
           |SELECT query_id, corpus_id, adc,
           | CAST(row_number() OVER (PARTITION BY query_id
           |   ORDER BY adc ASC, corpus_id ASC) AS BIGINT) AS rnk
           |FROM (
           |  SELECT p.query_id, cells.vec_id AS corpus_id,
           |   round(list_inner_product(p.qv, p.qv) + $lut, 6) AS adc
           |  FROM probed p
           |   JOIN cells ON cells.cell = p.cell
           |   JOIN code0 ON code0.vec_id = cells.vec_id
           |   JOIN code1 ON code1.vec_id = cells.vec_id
           |   JOIN code2 ON code2.vec_id = cells.vec_id
           |   JOIN code3 ON code3.vec_id = cells.vec_id
           |   JOIN cs0 cm0 ON cm0.cid = code0.code
           |   JOIN cs1 cm1 ON cm1.cid = code1.code
           |   JOIN cs2 cm2 ON cm2.cid = code2.code
           |   JOIN cs3 cm3 ON cm3.cid = code3.code)
           |QUALIFY rnk <= 5""".stripMargin
      },

      "q131_pca_power" -> (pcaCtes +
        "\nSELECT v.i AS dim_idx, round(v.v, 6) AS loading, round(n3.l, 6) AS lambda FROM v3 v, n3"),

      "q135_margin_mining" -> {
        // LSH-bucket candidate blocking with the SAME plane constants the
        // Spark side uses (q34/q147/q153 twin pattern)
        val planes = graft.functions.VectorExprs.deterministicPlanes(8, 64)
        def planeDot(v: String, p: Seq[Double]): String =
          s"list_sum(list_transform(range(1,65), j -> $v[j] * list_extract(${p.mkString("[", ", ", "]")}, j)))"
        val bucket = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN ${planeDot("v", p)} >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("\n   + ")
        s"""WITH e AS (SELECT vec_id, v, CAST($bucket AS BIGINT) AS bkt
          |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
          |x AS (SELECT vec_id AS x_id, v AS xv, bkt FROM e WHERE vec_id % 2 = 0),
          |y AS (SELECT vec_id AS y_id, v AS yv, bkt FROM e WHERE vec_id % 2 = 1),
          |s AS (SELECT x_id, y_id,
          |   round(list_sum(list_transform(range(1, 65), i -> xv[i] * yv[i])) /
          |   (sqrt(list_sum(list_transform(range(1, 65), i -> xv[i] * xv[i]))) *
          |    sqrt(list_sum(list_transform(range(1, 65), i -> yv[i] * yv[i])))), 6) AS cos
          |  FROM x JOIN y USING (bkt)),
          |f0 AS (SELECT x_id, y_id, cos, row_number() OVER (PARTITION BY x_id
          |     ORDER BY cos DESC, y_id ASC) AS rnf FROM s),
          |f AS (SELECT x_id, avg(cos) AS fwd_avg FROM f0
          |  WHERE rnf <= 4 GROUP BY x_id),
          |b AS (SELECT y_id, avg(cos) AS bwd_avg FROM (
          |   SELECT y_id, cos, row_number() OVER (PARTITION BY y_id
          |     ORDER BY cos DESC, x_id ASC) AS rn FROM s)
          |  WHERE rn <= 4 GROUP BY y_id),
          |m AS (SELECT f0.x_id, f0.y_id,
          |   round(cos / ((fwd_avg + bwd_avg) / 2.0), 6) AS margin
          |  FROM f0 JOIN f USING (x_id) JOIN b USING (y_id)
          |  WHERE rnf <= 4)
          |SELECT x_id, y_id, margin FROM (
          |  SELECT x_id, y_id, margin,
          |   row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rn
          |  FROM m)
          |WHERE rn = 1 AND margin > 1.02""".stripMargin
      },

      "q140_abtt_residual" -> (pcaCtes +
        """,
          |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |pe2 AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS i FROM ev),
          |px AS (SELECT vec_id, sum(x * u.v) AS p, sum(x * x) AS n2
          |  FROM pe2 JOIN v3 u ON u.i = pe2.i - 1 GROUP BY vec_id)
          |SELECT vec_id, round(p, 6) AS proj,
          | round(sqrt(greatest(n2 - p * p, 0.0)), 6) AS residual_norm
          |FROM px""".stripMargin),

      "q153_cluster_ari" -> {
        // plane-bucket twin generated from the SAME constants (q34 pattern)
        val planes = graft.functions.VectorExprs.deterministicPlanes(8, 64)
        def planeDot(v: String, p: Seq[Double]): String =
          s"list_sum(list_transform(range(1,65), j -> $v[j] * list_extract(${p.mkString("[", ", ", "]")}, j)))"
        val bucket = planes.zipWithIndex.map { case (p, i) =>
          s"(CASE WHEN ${planeDot("v", p)} >= 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("\n   + ")
        s"""WITH e AS (SELECT embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
           |  FROM embeddings),
           |lb AS (SELECT CAST($bucket AS BIGINT) AS bucket, label FROM e),
           |cont AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS nij
           |  FROM lb GROUP BY 1, 2),
           |byb AS (SELECT bucket, CAST(sum(nij) AS BIGINT) AS ai,
           |   CAST(max(nij) AS BIGINT) AS mx FROM cont GROUP BY bucket),
           |byl AS (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY label),
           |s1 AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS sij2,
           |   CAST(sum(nij) AS BIGINT) AS n FROM cont),
           |s2 AS (SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS sa2,
           |   CAST(sum(mx) AS BIGINT) AS pur, CAST(count(*) AS BIGINT) AS nb FROM byb),
           |s3 AS (SELECT CAST(sum(bj * (bj - 1)) AS BIGINT) AS sb2,
           |   CAST(count(*) AS BIGINT) AS nl FROM byl),
           |x AS (SELECT n, nb, nl, sij2 / 2.0 AS hij, sa2 / 2.0 AS ha, sb2 / 2.0 AS hb,
           |   n * (n - 1) // 2 AS cn2, pur FROM s1, s2, s3),
           |y AS (SELECT n, nb, nl, hij, ha, hb, pur, ha * hb / cn2 AS ex FROM x)
           |SELECT n, nb AS n_buckets, nl AS n_labels,
           | round((hij - ex) / ((ha + hb) / 2.0 - ex), 6) AS ari,
           | round(CAST(pur AS DOUBLE) / n, 6) AS purity
           |FROM y""".stripMargin
      },

      "q158_centroid_drift" ->
        """WITH e AS (SELECT CAST(label AS BIGINT) AS label, (vec_id % 8 = 0) AS b,
          |   embedding::DOUBLE[] AS v FROM embeddings),
          |pe AS (SELECT label, b, unnest(v) AS x,
          |   unnest(range(1, 65)) AS i FROM e),
          |m AS (SELECT label, i, avg(CASE WHEN b THEN x END) AS a,
          |   avg(CASE WHEN NOT b THEN x END) AS c FROM pe GROUP BY 1, 2),
          |n AS (SELECT label,
          |   CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
          |   CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus
          |  FROM e GROUP BY label),
          |s AS (SELECT label, sum(a * c) AS sab, sum(a * a) AS saa,
          |   sum(c * c) AS scc FROM m GROUP BY label)
          |SELECT s.label, n.n_batch, n.n_corpus,
          | round(sab / (sqrt(saa) * sqrt(scc)), 6) AS centroid_cos,
          | round(sab / (sqrt(saa) * sqrt(scc)), 6) < 0.999 AS drifted
          |FROM s JOIN n USING (label)
          |WHERE n.n_batch > 0 AND n.n_corpus > 0""".stripMargin,

      "q174_nprobe_sweep" -> {
        def cosSql(a: String, b: String): String =
          s"list_sum(list_transform(range(1,65), i -> $a[i] * $b[i])) / " +
          s"(sqrt(list_sum(list_transform(range(1,65), i -> $a[i] * $a[i]))) * " +
          s"sqrt(list_sum(list_transform(range(1,65), i -> $b[i] * $b[i]))))"
        val arms = Seq(1, 2, 4).map { np =>
          s"""SELECT $np AS n_probe, q.vec_id AS query_id,
             | CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             | round(coalesce(h.n_hits, 0) / 5.0, 4) AS recall
             |FROM (SELECT vec_id FROM e WHERE vec_id < 8) q LEFT JOIN (
             |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits FROM (
             |    SELECT s.query_id, s.corpus_id FROM (
             |      SELECT p.query_id, a.vec_id AS corpus_id,
             |        row_number() OVER (PARTITION BY p.query_id
             |          ORDER BY ${cosSql("p.qv", "a.v")} DESC, a.vec_id ASC) AS rnk
             |      FROM (SELECT vec_id AS query_id, v AS qv, cid FROM (
             |         SELECT d.*, row_number() OVER (PARTITION BY vec_id
             |           ORDER BY dot DESC, cid DESC) AS rn
             |         FROM dots d WHERE d.vec_id < 8) WHERE rn <= $np) p
             |      JOIN assign a ON a.cid = p.cid) s
             |    WHERE s.rnk <= 5) t
             |  JOIN exact x ON x.query_id = t.query_id AND x.corpus_id = t.corpus_id
             |  GROUP BY t.query_id) h ON h.query_id = q.vec_id""".stripMargin
        }.mkString("\n", "\nUNION ALL\n", "")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
           |  FROM e ORDER BY vec_id LIMIT 16),
           |dots AS (SELECT e.vec_id, e.v, c.cid,
           |    list_sum(list_transform(range(1,65), i -> e.v[i] * c.v[i])) AS dot
           |  FROM e CROSS JOIN cent c),
           |assign AS (SELECT vec_id, v, cid FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid DESC) AS rn
           |    FROM dots) WHERE rn = 1),
           |exact AS (SELECT query_id, corpus_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.v", "c.v")} DESC, c.vec_id ASC) AS rn
           |    FROM (SELECT * FROM e WHERE vec_id < 8) q CROSS JOIN e c)
           |  WHERE rn <= 5)
           |$arms""".stripMargin
      },

      "q176_lsh_tuning" -> {
        // powers by REPEATED SQUARING mirrored from the Spark side — the
        // same fixed multiplication tree, never libm pow
        def powTree(x: String, e: Int): String =
          if (e == 1) x else { val h = powTree(x, e / 2); s"(($h) * ($h))" }
        val arms = Seq((32, 1), (16, 2), (8, 4)).map { case (b, r) =>
          val p = s"1.0 - ${powTree(s"(1.0 - ${powTree("s", r)})", b)}"
          s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
             | CAST(count(*) AS BIGINT) AS n_true_pairs,
             | round(avg($p), 6) AS expected_recall,
             | round(min($p), 6) AS worst_pair_recall
             |FROM ps""".stripMargin
        }.mkString("\n", "\nUNION ALL\n", "")
        s"""WITH RECURSIVE ${shingleCte.stripPrefix("WITH ")},
           |ps AS (SELECT round(${jaccardSql("a.s", "b.s")}, 6) AS s
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE ${jaccardSql("a.s", "b.s")} >= 0.7)
           |$arms""".stripMargin
      },

      // all-pairs exact twin of the banded-LSH engine path — recall caveat
      // documented at q159's oracle entry
      "q181_cluster_profile" ->
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
           |comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
           |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csz
           |  FROM comp GROUP BY component),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |b AS (SELECT CASE WHEN csz = 2 THEN '2' WHEN csz <= 4 THEN '3-4'
           |   WHEN csz <= 8 THEN '5-8' ELSE '9+' END AS size_band, csz FROM cs)
           |SELECT size_band, CAST(count(*) AS BIGINT) AS n_clusters,
           | CAST(sum(csz) AS BIGINT) AS n_docs,
           | round(CAST(sum(csz) AS DOUBLE) / nn.n, 6) AS corpus_share
           |FROM b, nn GROUP BY size_band, nn.n""".stripMargin,

      "q190_embed_dispersion" ->
        """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
          |   embedding::DOUBLE[] AS v FROM embeddings),
          |u AS (SELECT label, unnest(v) AS x,
          |   generate_subscripts(v, 1) AS pos FROM e),
          |sv AS (SELECT label, pos, round(sum(x), 6) AS sv FROM u GROUP BY 1, 2),
          |s2 AS (SELECT label, round(sum(sv * sv), 6) AS s2 FROM sv GROUP BY label),
          |nq AS (SELECT label, CAST(count(*) AS BIGINT) AS n,
          |   round(sum(list_sum(list_transform(v, x -> x * x))), 6) AS sum_sq
          |  FROM e GROUP BY label)
          |SELECT label, n, round(sqrt(s2) / n, 4) AS centroid_norm,
          | round((s2 - sum_sq) / (n * (n - 1)), 4) AS mean_pairwise_dot
          |FROM s2 JOIN nq USING (label)""".stripMargin,

      "q196_embed_mrr" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(label AS BIGINT) AS qlab,
          |   embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 50),
          |c AS (SELECT vec_id AS corpus_id, CAST(label AS BIGINT) AS clab,
          |   embedding::DOUBLE[] AS cv FROM embeddings),
          |s AS (SELECT query_id, qlab, corpus_id, clab,
          |   list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
          |   (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) *
          |    sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))))
          |     AS cos
          |  FROM q, c WHERE corpus_id <> query_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |   ORDER BY cos DESC, corpus_id ASC) AS rnk FROM s),
          |f AS (SELECT query_id, qlab, CAST(min(rnk) AS BIGINT) AS first_rank
          |  FROM r WHERE qlab = clab GROUP BY 1, 2)
          |SELECT qlab AS label, CAST(count(*) AS BIGINT) AS n_queries,
          | round(avg(1.0 / first_rank), 6) AS mrr,
          | round(avg(CASE WHEN first_rank <= 10 THEN 1.0 ELSE 0.0 END), 4)
          |   AS hit_at_10
          |FROM f GROUP BY qlab""".stripMargin,

      "q202_mad_outliers" ->
        """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          |  FROM events GROUP BY event_type),
          |dev AS (SELECT e.event_type, e.value, med.med,
          |   abs(e.value - med.med) AS adev
          |  FROM events e JOIN med USING (event_type)),
          |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
          |  FROM dev GROUP BY event_type)
          |SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n,
          | round(any_value(dev.med), 4) AS median,
          | round(any_value(mad.mad), 4) AS mad,
          | CAST(sum(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.mad
          |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          | round(CAST(sum(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.mad
          |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS outlier_rate
          |FROM dev JOIN mad USING (event_type)
          |GROUP BY dev.event_type""".stripMargin,
  )
}
