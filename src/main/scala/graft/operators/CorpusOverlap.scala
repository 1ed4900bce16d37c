package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Cross-source contamination matrix — exact Jaccard overlap of each source
  * pair's token-shingle SETS (the Dolma/RedPajama corpus diagnostic: which
  * feeds/dumps are re-crawls of each other, and how much a "new" source
  * really adds before it is mixed in).
  *
  * Scale shape: the distinct (shingle-hash, source) table is the only
  * corpus-sized stream. It is shuffled ONCE (the distinct) and self-joined
  * on the hash; because `source` is a small enum, per-hash join output is
  * bounded by C(|sources|, 2) — the join cannot go quadratic in the corpus,
  * even in the adversarial every-shingle-in-every-source case
  * (CorpusOverlapSpec checks its closed form on a replicated corpus).
  * Catalyst reuses the one distinct exchange for both join sides
  * (ReusedExchange, PlanSpec-locked on the final adaptive plan);
  * per-source set sizes ride a |sources|-row join.
  *
  * Shingles are the native 64-bit `shingleHashes` fold (one codegen pass,
  * no per-shingle string ever built or shuffled). The DuckDB twin computes
  * the same COUNTS from md5-string shingles — equal up to 64-bit
  * collisions (~1e-19 per in-source pair, the minhash family's documented
  * license); the output carries only counts and ratios, never hash values.
  */
object CorpusOverlap {

  /** (src_a, src_b, inter, jaccard) for every source pair sharing at least
    * one distinct `n`-token shingle; pairs ordered src_a < src_b. */
  def sourceOverlap(docs: DataFrame, source: Column, text: Column,
      n: Int = 5): DataFrame = {
    require(n >= 1, s"shingle length must be >= 1, got $n")
    val sh = docs
      .select(source.as("source"), explode(graft.plans.MinHashExprs.shingleHashes(
        TextExprs.cleanText(text), n)).as("h"))
      .distinct()
    val ns = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("source").as("src_a"), col("h"))
    val b = sh.select(col("source").as("src_b"), col("h"))
    a.join(b, "h").where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
      .join(ns.select(col("source").as("src_a"), col("n_sh").as("na")), "src_a")
      .join(ns.select(col("source").as("src_b"), col("n_sh").as("nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }
}
