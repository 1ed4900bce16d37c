package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** The end-to-end corpus-curation pipeline — what this engine exists for at
  * 100 TB: compose the text-analysis and dedup operators into one dataflow
  * that turns a raw document table into a curated training corpus.
  *
  *   profile (quality + lang-ID, staged expressions)
  *     → filter (language whitelist, quality floor)
  *     → exact dedup (content-hash groupBy, keep min id)
  *     → near-dup removal (MinHash LSH pairs ≥ threshold, greedy keep-lowest-id)
  *
  * Every stage is the already-verified operator; the composition introduces
  * no new shuffle beyond theirs (profile is shuffle-free, exact dedup one
  * groupBy, near-dup the LSH band join on the much smaller survivor set).
  */
object Curate {

  /** Returns the curated corpus: (doc_id, clean_text, lang_pred, quality).
    * Greedy near-dup policy: a doc is dropped if it pairs (jaccard ≥
    * `nearDupThreshold`) with ANY lower-id survivor — deterministic and
    * cluster-chain-free (the reference's memo "keep first" insight applied
    * to near-dups). */
  def curate(df: DataFrame, id: Column, text: Column,
      minQuality: Double = 0.5, langs: Seq[String] = Seq("en"),
      nearDupThreshold: Double = 0.7,
      shingleLen: Int = 3, numBands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // stage 1-2: profile + filter (all codegen'd staged expressions)
    val base = df.select(id.as("doc_id"), TextExprs.cleanText(text).as("clean_text"))
    val profiled = TextExprs.withLangId(base, col("clean_text"), "lang_pred")
      .withColumn("_nc", length(col("clean_text")).cast("int"))
      .withColumn("_nt", when(col("clean_text") === "", 0)
        .otherwise(size(split(col("clean_text"), " "))).cast("int"))
      .withColumn("_np", TextExprs.punctCount(col("clean_text")))
      .withColumn("quality",
        TextAnalysis.qualityScoreFromCounts(col("_nc"), col("_nt"), col("_np")))
      .drop("_nc", "_nt", "_np")
    // Persisted: the filtered frame feeds the exact-dedup aggregate, the
    // join back, the near-dup signature projection, and the final anti-join
    // — without it the clean+langID+quality expression pipeline (the most
    // expensive scan) re-runs once per consumer.
    val filtered = profiled
      .where(col("lang_pred").isin(langs: _*) && col("quality") >= minQuality)
      .cache()

    // stage 3: exact dedup — keep the minimum id per content hash
    val keepExact = filtered
      .groupBy(md5(col("clean_text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exactSurvivors = filtered.join(keepExact, "doc_id")

    // stage 4: near-dup removal among survivors — drop the higher id of
    // every pair
    val nearDupLosers = Dedup.minhashNearDups(
        exactSurvivors, col("doc_id"), col("clean_text"),
        shingleLen, numBands, rowsPerBand, nearDupThreshold)
      .select(col("id_b").as("doc_id")).distinct()
    exactSurvivors.join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("clean_text"), col("lang_pred"),
        round(col("quality"), 4).as("quality"))
  }
}
