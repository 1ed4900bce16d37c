package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.sources.Tables

/** Persist-and-reuse IVFADC index (Jégou et al. 2011 §IV): a real 100 TB
  * ANN deployment fits its quantizers ONCE, writes the artifact, and serves
  * every query from the stored index — it never re-runs Lloyd per query
  * batch (which is what the inline q114/q115 fixtures do for
  * oracle-determinism). This operator splits the lifecycle:
  *
  *  - [[build]] fits the coarse quantizer + per-subspace PQ codebooks
  *    (one KMeansOp.fitViews Lloyd loop: 1 + iters jobs for all 1 + nSub
  *    codebooks — q115's shape), encodes the corpus, and commits a
  *    manifest-committed artifact under `dir` (the [[IndexLog]] protocol:
  *    layout, crash/retry contract and retention window):
  *      `centroids/g{N}` (kind, cid, c) — k×dim rows per quantizer,
  *                   driver-tiny, one generation per build
  *      `codes/cell=N` (vec_id, code0..code{nSub-1}) — one row per corpus
  *                   vector, the 100 TB-side artifact (nSub bytes of
  *                   payload per vector), partitioned by coarse `cell` so a
  *                   probe reads only its cells
  *  - [[query]] loads the live centroid generation (bounded collect:
  *    quantizer matrices are driver-state by design), wraps them in
  *    [[graft.plans.CentMatrix]] (broadcast above the size threshold), and
  *    runs the probe dataflow against the live `codes` files — ZERO Lloyd
  *    iterations, zero aggregates in the plan (Round11Spec asserts this),
  *    and the corpus embeddings table is never touched.
  *
  * [[build]], [[append]] and [[compact]] write only new files and commit
  * one manifest each; the index renames and deletes no live file.
  *
  * Built from the same deterministic fits as q115, a build+query round
  * trip reproduces q115's answers exactly — q123 puts that under the
  * oracle hash gate.
  */
object AnnIndex {

  /** Index geometry; defaults mirror the q115 oracle fixture. */
  case class Params(nSub: Int = 4, subDim: Int = 16, kCoarse: Int = 4,
      kCode: Int = 4, iters: Int = 2)

  private def indexLog(spark: SparkSession, dir: String): IndexLog =
    new IndexLog(spark, dir, Seq("centroids"), Seq("codes"))

  /** Fit quantizers on `e`, encode it, and commit a new centroid generation
    * with its codes. Over a live index this is a commit, not a wipe: the
    * previous snapshot stays readable for the retention window. */
  def build(e: DataFrame, id: Column, vec: Column, dir: String,
      p: Params = Params()): Unit = {
    val spark = e.sparkSession
    val ix = indexLog(spark, dir)
    val gen = ix.nextSeq
    val (coarse +: fits, base) = KMeansOp.fitViews(e, id, vec,
      ((v: Column) => v, p.kCoarse) +: KMeansOp.subspaces(p.nSub, p.subDim, p.kCode), p.iters)

    val centRows =
      coarse.zipWithIndex.map { case (c, i) => Row("coarse", i, c.toSeq) } ++
      fits.zipWithIndex.flatMap { case (cents, m) =>
        cents.zipWithIndex.map { case (c, i) => Row(s"sub$m", i, c.toSeq) } }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kind", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false), false)))
    val fresh = ix.written(graft.GraftSession.concurrently(spark)(
      () => writeCodes(base.select(col("id").as("vec_id"), col("v")), coarse, fits, p, dir),
      () => spark.createDataFrame(spark.sparkContext.parallelize(centRows.toSeq, 1), centSchema)
        .write.mode("overwrite").parquet(s"$dir/centroids/g$gen")))
    IndexLog.trip("build-post-data")
    ix.commit(IndexLog.Manifest(gen, Map("centroids" -> s"centroids/g$gen"), fresh), "build")
  }

  /** Encode `base` (vec_id, v) with the given quantizers and add it to
    * the cell-partitioned `dir/codes` as new files. Cell-partitioned
    * layout: each coarse cell is its own directory, so the query path's
    * probe join can DYNAMICALLY PRUNE to the probed cells — at a
    * production k the probe reads nProbe/k of the artifact from storage
    * instead of scanning every code file.
    *
    * ONE row-local pass (round 17, guide §2.4): cell and every code_m are
    * argmins of the SAME row's vector against driver-held centroid
    * matrices (build once joined five per-fit projections on vec_id — four
    * corpus joins whose only product was column concatenation).
    * Bit-identical across build and append: slice(toDouble(vec)) ≡
    * toDouble(slice(vec)) element-wise and the argmin arithmetic is the
    * same native expression. */
  private def writeCodes(base: DataFrame, coarse: Seq[Array[Double]],
      subs: Seq[Seq[Array[Double]]], p: Params, dir: String): Unit = {
    val spark = base.sparkSession
    val (cellCol, _) = KMeansOp.argmin(col("v"),
      graft.plans.AnnNative.matrix(spark, coarse))
    val encoded = (0 until p.nSub).foldLeft(
        base.withColumn("cell", cellCol.cast("int"))) { (d, m) =>
      val (cl, _) = KMeansOp.argmin(
        slice(col("v"), m * p.subDim + 1, p.subDim),
        graft.plans.AnnNative.matrix(spark, subs(m)))
      d.withColumn(s"code$m", cl.cast("int"))
    }
    encoded
      .select(col("vec_id") +: (0 until p.nSub).map(m => col(s"code$m")) :+ col("cell"): _*)
      .write.partitionBy("cell").mode("append").parquet(s"$dir/codes")
  }

  /** The quantizers of manifest `m`, by kind ("coarse", "sub<m>"), each in
    * cid order (bounded collect: quantizer matrices are driver-state by
    * design). */
  private def centroids(spark: SparkSession, dir: String, m: IndexLog.Manifest)
      : String => Seq[Array[Double]] = {
    val stored = Tables.parquet(spark, s"$dir/${m.gens("centroids")}")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
    kind => stored.filter(_._1 == kind).sortBy(_._2).map(_._3).toSeq
  }

  /** Append a NEW batch to an existing index using the STANDING
    * quantizers — the ingest path: assign + encode with the stored
    * centroids (ZERO Lloyd iterations; the batch never triggers a refit)
    * and commit the encoded rows as new codes files. This is q124's
    * incremental contract applied to the stored index: per-ingest cost is
    * one argmin pass over the batch, independent of corpus history;
    * queries see old + new rows from the commit on. */
  def append(spark: SparkSession, dir: String, batch: DataFrame, id: Column,
      vec: Column, p: Params = Params()): Unit = {
    val ix = indexLog(spark, dir)
    val m = ix.live
    val cents = centroids(spark, dir, m)
    val fresh = ix.written(
      writeCodes(batch.select(id.as("vec_id"), VectorExprs.toDouble(vec).as("v")),
        cents("coarse"), (0 until p.nSub).map(k => cents(s"sub$k")), p, dir))
    IndexLog.trip("append-post-data")
    ix.commit(m.copy(seq = m.seq + 1,
      files = fresh.map { case (c, f) => c -> (m.data(c) ++ f) }), "append")
  }

  /** Compact the cell-partitioned codes artifact through
    * [[IndexLog.compactPartitions]]: every cell whose LIVE fragment count
    * exceeds `maxFragments` is rewritten into ONE new fragment —
    * content-identical, zero refit, untouched cells keep their files — and
    * one manifest commit swaps it in. The maintenance pass of the
    * [[append]] ingest loop: each append lands one file per written cell,
    * and after enough batches the probe path pays a small-file open per
    * fragment instead of a streaming scan. Per-cell work is bounded by that
    * cell's rows, never the corpus. Returns the compacted cell ids. */
  def compact(spark: SparkSession, dir: String, maxFragments: Int = 4): Seq[Int] =
    indexLog(spark, dir).compactPartitions("codes", "cell", maxFragments).map(_.toInt)

  /** Load the stored quantizers and serve `queries` (query_id, qv) —
    * top-k by ADC over the nProbe probed cells. No fit, no corpus scan. */
  def query(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      nProbe: Int, p: Params = Params()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ix = indexLog(spark, dir)
    val live = ix.live
    val cents = centroids(spark, dir, live)
    def matOf(kind: String): graft.plans.CentMatrix =
      graft.plans.AnnNative.matrix(spark, cents(kind))
    val coarse = matOf("coarse")
    val subs = (0 until p.nSub).map(m => matOf(s"sub$m"))
    require(coarse.numRows == p.kCoarse,
      s"index at $dir has ${coarse.numRows} coarse cells, params say ${p.kCoarse}")
    val codes = ix.read("codes", live.data("codes"))
    // ‖q‖² is constant per query — computed ONCE on the query row, before
    // the probe explode, never per candidate; and the probe side sheds the
    // raw qv once the LUTs are built, so the (broadcast) join input is
    // (query_id, cell, nSub luts, one scalar), not dim-wide vectors.
    val probed = queries
      .select(col("query_id"), col("qv"),
        VectorExprs.dot(col("qv"), col("qv")).as("_q2"),
        explode(graft.plans.AnnNative.argTopM(col("qv"), coarse, nProbe)).as("cell"))
      .select(Seq(col("query_id"), col("_q2"), col("cell")) ++
        (0 until p.nSub).map { m =>
          graft.plans.AnnNative.adcLut(col("qv"), subs(m), m * p.subDim).as(s"_lut$m")
        }: _*)
    val lutSum = (0 until p.nSub).map(m =>
      element_at(col(s"_lut$m"), col(s"code$m") + 1)).reduce(_ + _)
    // the CODES table is the 100 TB side — it must STREAM while the
    // (queries × nProbe)-row probe set broadcasts; without the hint AQE
    // broadcasts whichever measures smaller, which at fixture scale is
    // the codes table (the wrong-at-scale shape). With the probe side
    // broadcast, the join key IS the artifact's partition column, so
    // dynamic partition pruning drops every unprobed cell directory from
    // the scan (Round11Spec asserts the pruning subquery in the plan).
    codes.join(broadcast(probed), "cell")
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        round(col("_q2") + lutSum, 6).as("adc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adc").asc, col("corpus_id").asc))
        .cast("long"))
      .where(col("rnk") <= k)
  }
}
