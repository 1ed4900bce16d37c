package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** SemDeDup (Abbas et al. 2023): semantic dedup INSIDE embedding-space
  * k-means cells — pairwise cosine is computed only within a cell, never
  * across the corpus. The method's scale contract is that THE CELL COUNT
  * GROWS WITH THE CORPUS (the paper runs 50k clusters over 5B docs): the
  * within-cell self-join is O(Σ_c |c|²), so holding k fixed while n grows
  * 100× turns it into a quadratic blowup inside a few giant cells, while
  * k = n / targetCellSize keeps the expected per-cell pair count at
  * ~n·targetCellSize/2 — linear in n. SemDeDupSpec checks exactly this:
  * per-cell pair counts stay bounded as the corpus is replicated because
  * k rises proportionally.
  *
  * ONE Lloyd fit serves both the assignment and the dedup (KMeansOp.fit
  * returns the fitted centroids plus the cached projection it fit on, so
  * no second fit and no re-read of the source for the vector payload).
  *
  * HONEST BOUNDARY: the assignment carries the centroid matrix as a
  * [[graft.plans.CentMatrix]] — plan-embedded below the size threshold,
  * a BROADCAST VARIABLE above it (one copy per executor, fixed-size plan
  * payload at any k; BASELINE.md round 10 records 688 B at k=10⁴ cells),
  * and the Lloyd fit runs on a bounded md5-draw sample (KMeansOp
  * scaladoc), so neither the fit nor the plan grows with the corpus. The
  * remaining ceiling is the k×dim matrix fitting in EXECUTOR memory —
  * roughly k ≤ 10⁶ at dim 64 (~500 MB). The paper's extreme regime (50k
  * cells over 5B docs) is well inside this; hundreds of millions of
  * cells needs the next dataflow up: centroids as a TABLE and assignment
  * as a cell-partitioned join against a coarse pre-route.
  *
  * Drop rule: a vector drops when ANY lower-id cell-mate sits at or above
  * the similarity threshold — a pure EXISTS, deterministic under any
  * partitioning (greedy sequential sweeps depend on visit order). The
  * threshold compares the 6dp-ROUNDED cosine so engine and oracle make
  * identical keep/drop calls.
  *
  * Returns (id, cluster, keep).
  */
object SemDeDup {

  /** `k = max(kMin, n / targetCellSize)` — `kMin` doubles as the fixed
    * cell count the sf0.01 oracle is generated for (500 vectors /
    * targetCellSize 128 → k = 4 exactly). */
  def cellCount(n: Long, targetCellSize: Long = 128L, kMin: Int = 4): Int =
    math.max(kMin.toLong, n / targetCellSize).toInt

  def semdedup(df: DataFrame, id: Column, vec: Column, threshold: Double,
      targetCellSize: Long = 128L, iters: Int = 2): DataFrame = {
    // metadata-only count: picks k before the single Lloyd fit
    val n = df.select(id).count()
    val k = cellCount(n, targetCellSize)
    val (cents, base) = KMeansOp.fit(df, id, vec, k = k, iters = iters)
    // k scales with the corpus → wrap the matrix so it broadcasts past the
    // CentMatrix size threshold instead of riding every task closure
    val (cl, _) = KMeansOp.argmin(col("v"),
      graft.plans.AnnNative.matrix(df.sparkSession, cents))
    // ‖v‖ hoisted to once per row — the within-cell pair loop (the
    // quadratic part) pays only the cross-term array pass
    // pinned ONCE (round 18, guide §2.4 — the q324 dbscan posture): `v`
    // feeds BOTH sides of the within-cell pair join and the final keep
    // join; unpinned, the assignment argmin + norm pass over the corpus
    // ran three times (the final plan scanned embeddings 6×)
    val v = base.select(col("id"), cl.cast("long").as("cluster"), col("v"),
      VectorExprs.normNative(col("v")).as("_n"))
      .localCheckpoint(true)
    val dropped = v.as("a")
      .join(v.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .where(round(VectorExprs.cosineHoisted(col("a.v"), col("b.v"),
        col("a._n"), col("b._n")), 6) >= threshold)
      .select(col("b.id").as("id")).distinct()
    v.join(dropped.withColumn("_drp", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("_drp").isNull.as("keep"))
  }

  /** Incremental (daily-ingest) SemDeDup: dedup a NEW BATCH against an
    * EXISTING corpus without ever re-verifying corpus-internal pairs —
    * the q113 batch-vs-corpus shape composed with the cell routing above.
    *
    *  - cells are fit on the CORPUS (k = corpusSize/targetCellSize — the
    *    standing index; a production pipeline loads these centroids from
    *    the stored artifact, see [[AnnIndex]], instead of re-fitting);
    *  - the batch is ASSIGNED to those cells (one native argmin pass over
    *    the batch only);
    *  - the cosine verify join is strictly batch×corpus WITHIN a cell —
    *    corpus×corpus pairs never enter the join (they were adjudicated
    *    when their rows were ingested), so the per-ingest cost is
    *    O(|batch| · cellSize), independent of corpus history length.
    *
    * A batch row drops when ANY corpus cell-mate sits at or above the
    * 6dp-rounded threshold. Returns one row per batch vector:
    * (id, n_dups, keep). Cluster labels are deliberately not exposed —
    * they are seed-indexing-dependent, while (n_dups, keep) are
    * label-invariant and oracle-checkable. */
  def semdedupIncremental(corpus: DataFrame, batch: DataFrame, id: Column,
      vec: Column, threshold: Double, targetCellSize: Long = 128L,
      iters: Int = 2): DataFrame = {
    val n = corpus.select(id).count()
    val k = cellCount(n, targetCellSize)
    val (cents, corpusBase) = KMeansOp.fit(corpus, id, vec, k = k, iters = iters)
    // ONE wrapped matrix (broadcast above the threshold) serves both the
    // corpus and the batch assignment — and keeps the two expressions
    // semanticEquals for subexpression/exchange reuse
    val cm = graft.plans.AnnNative.matrix(corpus.sparkSession, cents)
    val (clC, _) = KMeansOp.argmin(col("v"), cm)
    val corpusCells = corpusBase.select(
      col("id").as("c_id"), clC.as("cell"), col("v").as("cv"),
      VectorExprs.normNative(col("v")).as("_cn"))
    val batchBase = batch.select(id.as("id"), VectorExprs.toDouble(vec).as("v"))
    val (clB, _) = KMeansOp.argmin(col("v"), cm)
    val batchCells = batchBase.select(col("id"), clB.as("cell"), col("v"),
      VectorExprs.normNative(col("v")).as("_bn"))
    val dups = batchCells.join(corpusCells, "cell")
      .where(round(VectorExprs.cosineHoisted(col("v"), col("cv"),
        col("_bn"), col("_cn")), 6) >= threshold)
      .groupBy("id").agg(count(lit(1)).as("n_dups"))
    batchCells.select(col("id"))
      .join(dups, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("keep"))
  }
}
