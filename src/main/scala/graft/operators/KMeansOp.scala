package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs

/** Fixed-iteration Lloyd k-means over an embedding column — the semantic
  * (embedding-space) clustering pass of a training-data pipeline, e.g.
  * SemDeDup-style cluster-then-prune curation.
  *
  * Deterministic by construction so the result is oracle-checkable:
  * seeds = the k lowest-id vectors, a FIXED number of update iterations,
  * centroid coordinates rounded to 6 dp between iterations (absorbs
  * partial-aggregation summation-order noise), ties in the assignment
  * broken toward the lowest centroid index.
  *
  * Scale shape (the same as Spark MLlib's own KMeans): the only per-row
  * work is k dot products against BROADCAST centroid literals (native
  * codegen'd DotProduct), the update is ONE groupBy(cluster) pass with a
  * declarative per-dimension sum column each (no posexplode — the explode
  * form inflated every row ×dim before the partial agg; measured ~40%
  * slower per iteration at sf0.1), and the only driver-side state is the
  * k×dim centroid matrix. The shuffle carries k rows × (dim+1) columns.
  *
  * The LLOYD ITERATIONS RUN ON A BOUNDED DETERMINISTIC SAMPLE, not the
  * full corpus: the `max(fitSampleCap, 16·k)` rows with the lowest
  * md5(id) draws (the q56 stratified-draw pattern — stable across runs,
  * partitionings, and engines). Fitting on a sample is the standard
  * production posture (FAISS trains quantizers on ~256 points/centroid;
  * a codebook does not improve with the 10⁹th training point), and it is
  * what makes the fit's per-iteration cost independent of corpus size —
  * the old full-corpus iterations cached the whole (id, v) projection and
  * re-scanned it iters+1 times, a 100 TB non-starter. Only the SAMPLE is
  * cached; the returned full projection is uncached (callers doing one
  * assignment pass re-read the source — recompute-over-persist, the
  * repo-wide posture). When n ≤ the cap — every oracle fixture — the
  * sample IS the full table and centroids are bit-identical to the
  * full-corpus fit, which keeps the unrolled DuckDB Lloyd twins valid
  * (Round11Spec pins this precondition at sf0.01).
  *
  * Several codebooks over views of one vector — an IVFADC index's coarse
  * quantizer and its per-subspace PQ codebooks — share ONE Lloyd loop
  * ([[fitViews]]): one sample, one seed collect, one aggregate job per
  * iteration for all of them, each codebook bit-identical to its own
  * [[fit]].
  *
  * Assignment uses score_k = |c_k|² − 2·v·c_k (adding the row-constant
  * |v|² recovers the squared L2 distance), so nearest-centroid needs no
  * per-centroid subtraction loop and the squared distance comes back for
  * free from the winning score.
  */
object KMeansOp {

  /** (clusterIdx, score) pair as two Columns; ties keep the earliest
    * (lowest) centroid index. score = |c|² − 2·v·c (add |v|² for the true
    * squared distance).
    *
    * NATIVE single-pass expression (plans.ArgMinScoreExpr): the centroid
    * matrix rides the generated code as a reference OBJECT, so code size
    * is constant in k. Both expression encodings tried before it scale
    * badly with the cell count the corpus forces (SemDeDup runs
    * k = n/targetCellSize): a nested-CASE fold duplicates score
    * expressions across branches, and even a flat k-entry score array
    * still generates O(k) call sites — Janino's "Code grows beyond 64 KB"
    * at k≈500. Arithmetic is bit-identical to the unrolled form
    * (sequential double dot, Scala-side |c|² fold, strict-< first-wins
    * tie-break), so every k=4 oracle hash is unchanged. */
  def argmin(v: Column, centroids: Seq[Array[Double]]): (Column, Column) =
    graft.plans.AnnNative.argminScore(v, centroids)

  /** [[argmin]] over a pre-wrapped [[graft.plans.CentMatrix]] — use with
    * `AnnNative.matrix(spark, cents)` so a production-sized centroid table
    * (SemDeDup's k ∝ n) rides as a broadcast variable instead of a
    * plan-embedded payload. */
  def argmin(v: Column, cm: graft.plans.CentMatrix): (Column, Column) =
    graft.plans.AnnNative.argminScore(v, cm)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Default fit-sample floor; the effective cap is `max(this, 16·k)` so
    * the sample always offers ≥16 points per centroid (SemDeDup's k ∝ n
    * rule can push k past any fixed cap). */
  val DefaultFitSampleCap = 2048

  /** Runs `iters` centroid updates on the bounded md5-draw sample (object
    * scaladoc); returns the learned k×dim codebook AND the (uncached) full
    * (id, v) projection, so callers can derive assignments, distances, or
    * (PQ) asymmetric lookups without re-running Lloyd. The one-view case
    * of [[fitViews]]. */
  def fit(df: DataFrame, id: Column, vec: Column, k: Int = 4,
      iters: Int = 2, fitSampleCap: Int = DefaultFitSampleCap): (Seq[Array[Double]], DataFrame) = {
    val (codebooks, base) = fitViews(df, id, vec, Seq((v => v, k)), iters, fitSampleCap)
    (codebooks.head, base)
  }

  /** One codebook per view of `vec` — view j is `views(j)._1` applied to
    * the double vector, fit with `k = views(j)._2` — in ONE Lloyd loop.
    * Each codebook is bit-identical to `fit` of that view alone (an
    * IVFADC index's coarse quantizer and its per-subspace PQ codebooks are
    * such views): the md5 sample is drawn once at the largest cap and
    * cached as one partition, view j fits on its first
    * `max(fitSampleCap, 16·k_j)` rows (exactly the sample `fit` would
    * draw), the seeds come back in one collect per distinct cap, and each
    * iteration is one aggregate over `explode`d (view, cluster, x) records
    * grouped by (view, cluster). Every (view, cluster) sum adds the same
    * sample rows in the same order as the one-view fit, so the rounded
    * centroids agree to the bit. Jobs: 1 + iters when the views share a k,
    * whatever their number. Returns the codebooks in view order and the
    * (uncached) full (id, v) projection. */
  def fitViews(df: DataFrame, id: Column, vec: Column,
      views: Seq[(Column => Column, Int)], iters: Int = 2,
      fitSampleCap: Int = DefaultFitSampleCap): (Seq[Seq[Array[Double]]], DataFrame) = {
    val base = df.select(id.as("id"), VectorExprs.toDouble(vec).as("v"))
    val caps = views.map { case (_, k) => math.max(fitSampleCap, 16 * k) }
    // bounded deterministic draw: lowest md5(id) first, id tie-break — a
    // TakeOrdered over the corpus (one pass, cap rows kept), never a sort.
    // The sample is ONE partition in draw order (the local re-sort costs
    // no exchange; it only matters when the input's row bound let the
    // optimizer drop the limit for a global sort over several partitions),
    // so `_rank` is the row's position in the draw and a view's sample is
    // the prefix below its cap
    val draw = Seq(col("_draw").asc, col("id").asc)
    val sample = base
      .withColumn("_draw", md5(col("id").cast("string")))
      .orderBy(draw: _*).limit(caps.max).coalesce(1).sortWithinPartitions(draw: _*)
      .drop("_draw").withColumn("_rank", monotonically_increasing_id()).cache()
    // seeds = the k lowest-id vectors of each view's sample: one ordered
    // collect per distinct cap, a TakeOrdered over the cached sample
    val seeds: Map[Int, Seq[Array[Double]]] = caps.distinct.flatMap { c =>
      val js = caps.indices.filter(caps(_) == c)
      val rows = sample.where(col("_rank") < c).orderBy("id")
        .limit(js.map(views(_)._2).max)
        .select(js.map(j => views(j)._1(col("v"))): _*).collect()
      js.zipWithIndex.map { case (j, x) =>
        j -> rows.take(views(j)._2).map(_.getSeq[Double](x).toArray).toSeq }
    }.toMap
    var codebooks: Seq[Seq[Array[Double]]] = views.indices.map { j =>
      require(seeds(j).length == views(j)._2,
        s"fit sample (${seeds(j).length} rows) smaller than k=${views(j)._2} — raise fitSampleCap")
      seeds(j)
    }
    // dims read off the seed rows (round 17: the seed collect already has
    // full vectors — a separate size(v) head() was one more serial job)
    val dims = codebooks.map(_.head.length)
    for (_ <- 1 to iters) {
      val current = codebooks
      // `get` is null past a shorter view's end, and sum skips the nulls
      val dimSums = (0 until dims.max).map(i => sum(get(col("r.x"), lit(i))).as(s"_s$i"))
      // one record per (sample row, view whose sample holds it)
      val records = array(views.zipWithIndex.map { case ((view, _), j) =>
        val x = view(col("v"))
        when(col("_rank") < caps(j),
          struct(lit(j).as("view"), argmin(x, current(j))._1.as("cluster"), x.as("x")))
      }: _*)
      val sums = sample.select(explode(records).as("r")).where(col("r").isNotNull)
        .groupBy(col("r.view"), col("r.cluster"))
        .agg(count(lit(1)).as("_n"), dimSums: _*)
        .collect()
      val byCluster = sums.map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
      codebooks = current.zipWithIndex.map { case (cents, j) =>
        cents.indices.map { c =>
          byCluster.get((j, c)).map { r =>
            val n = r.getLong(2).toDouble
            Array.tabulate(dims(j))(i => round6(r.getDouble(3 + i) / n))
          }.getOrElse(cents(c)) // empty cluster keeps its previous centroid
        }
      }
    }
    sample.unpersist(false)
    (codebooks, base)
  }

  /** The `n` consecutive `dim`-wide subspaces of a vector as [[fitViews]]
    * views of `k` centroids each — a product quantizer's codebooks. */
  def subspaces(n: Int, dim: Int, k: Int): Seq[(Column => Column, Int)] =
    (0 until n).map(m => ((v: Column) => slice(v, m * dim + 1, dim), k))

  /** Runs `iters` centroid updates then a final assignment.
    * Returns (id, cluster, sq_dist) with sq_dist rounded to 4 dp. */
  def kmeans(df: DataFrame, id: Column, vec: Column, k: Int = 4,
      iters: Int = 2): DataFrame = {
    val (centroids, base) = fit(df, id, vec, k, iters)
    val (cl, sc) = argmin(col("v"), centroids)
    base.select(col("id"), cl.cast("long").as("cluster"),
      round(VectorExprs.dot(col("v"), col("v")) + sc, 4).as("sq_dist"))
  }

  /** The shared unrolled-CTE Lloyd chain for the DuckDB twins below. */
  private def oracleChain(table: String, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int): StringBuilder = {
    val sb = new StringBuilder
    // seeds = the k lowest ids PRESENT (row_number, not `id < k`): identical
    // on the dense 0..n-1 fixtures, and correct for subset tables (q124's
    // corpus slice) where the k lowest ids are not 0..k-1
    sb ++= s"""WITH e AS (SELECT $idCol AS id,
              |  list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v FROM $table),
              |c0 AS (SELECT id AS cid, v AS c FROM e
              |  QUALIFY row_number() OVER (ORDER BY id) <= $k),
              |""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"c${i - 1}"
      sb ++= s"""sc$i AS (SELECT e.id, $prev.cid,
                |  list_inner_product($prev.c, $prev.c)
                |   - 2 * list_inner_product(e.v, $prev.c) AS score
                | FROM e CROSS JOIN $prev),
                |a$i AS (SELECT id, cid FROM sc$i
                | QUALIFY row_number() OVER (PARTITION BY id ORDER BY score, cid) = 1),
                |m$i AS (SELECT a$i.cid, t.i, round(avg(e.v[t.i]), 6) AS mv
                | FROM a$i JOIN e USING (id) CROSS JOIN range(1, ${dim + 1}) t(i)
                | GROUP BY a$i.cid, t.i),
                |c$i AS (SELECT cid, list(mv ORDER BY i) AS c FROM m$i GROUP BY cid),
                |""".stripMargin
    }
    sb
  }

  /** DuckDB twin of [[kmeans]], generated for the same (k, iters) so engine
    * and oracle cannot drift: the iteration chain is unrolled into CTEs.
    * `table` must expose (idCol, vecCol list<float>). */
  def oracleSql(table: String, idCol: String, vecCol: String, k: Int = 4,
      iters: Int = 2, dim: Int = 64): String = {
    val sb = oracleChain(table, idCol, vecCol, k, iters, dim)
    val last = s"c$iters"
    sb ++= s"""scf AS (SELECT e.id, $last.cid,
              |  list_inner_product($last.c, $last.c)
              |   - 2 * list_inner_product(e.v, $last.c) AS score,
              |  list_inner_product(e.v, e.v) AS vnorm
              | FROM e CROSS JOIN $last)
              |SELECT id AS $idCol, CAST(cid AS BIGINT) AS cluster,
              | round(vnorm + score, 4) AS sq_dist
              |FROM scf
              |QUALIFY row_number() OVER (PARTITION BY id ORDER BY score, cid) = 1""".stripMargin
    sb.toString
  }

  /** DuckDB twin of [[fit]]'s learned codebook: the same unrolled chain,
    * ending with the final (cid, centroid list) table — for oracles that
    * need the centroid VALUES (e.g. PQ asymmetric-distance lookups). */
  def oracleCentroidsSql(table: String, idCol: String, vecCol: String,
      k: Int = 4, iters: Int = 2, dim: Int = 64): String = {
    val sb = oracleChain(table, idCol, vecCol, k, iters, dim)
    // the chain leaves a trailing "...),\n" — close the WITH with a dummy
    // terminal CTE so the SELECT can read c$iters directly
    sb ++= s"""_t AS (SELECT 1)
              |SELECT CAST(cid AS BIGINT) AS cid, c FROM c$iters""".stripMargin
    sb.toString
  }
}
