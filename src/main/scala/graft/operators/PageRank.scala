package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank as pure declarative dataflow — the fixed-point graph
  * primitive behind TextRank keyword ranking (Mihalcea & Tarau 2004),
  * CommonCrawl-style domain authority weighting, and citation scoring.
  *
  * Scale shape (the part that survives 100 TB):
  *  - The rank update is `join(edges, ranks on u) → groupBy(v) → sum` — a
  *    shuffle on the edge key per iteration, which IS PageRank's inherent
  *    cost; nothing is collected to the driver and no window appears.
  *  - Iterations are UNROLLED into one plan over the SAME `edges` /
  *    `outw` DataFrame objects, so every iteration's scan lands on an
  *    identical exchange subtree and Spark's ReuseExchangeAndSubquery
  *    rewires them to ONE shuffle materialization (asserted in PlanSpec)
  *    — the edge list is built once and re-read from shuffle files, the
  *    lineage-safe alternative to `persist()` leaking executor memory
  *    across queries.
  *  - Per-node out-weight is pre-aggregated once and joined in, so the
  *    normalized contribution `w/outw · pr(u)` is a projection, not a
  *    correlated lookup.
  *  - A symmetric graph (TextRank's case — see [[textRank]]) has no
  *    dangling nodes, so the damping constant absorbs all teleport mass
  *    and no dangling-mass driver collect is needed.
  */
object PageRank {

  /** Iterated ranks over a weighted edge list `(u, v, w)`. Every node with
    * at least one outgoing edge is ranked; pr₀ = 1 and
    * pr(v) = (1−d) + d·Σ_{u→v} w(u,v)/outw(u) · pr(u), the undamped-sum
    * form TextRank uses (ranks sum to |V|, not 1 — rescaling is a
    * projection if needed).
    *
    * The normalized contribution table `(u, v, w/outw)` is built ONCE and
    * eagerly `localCheckpoint`ed — the per-round lineage-truncation
    * posture star-contraction CC already uses — so the `iters` unrolled
    * rounds read shuffle-ready blocks instead of re-deriving the
    * corpus-sized edge stream. (Pure lazy
    * unrolling cannot deliver this: Catalyst prunes different column
    * sets into each iteration's reference, the canonical subtrees
    * diverge, and ReuseExchange stops applying — measured as 32 source
    * scans in q130's final plan before this.) An edge list that is already
    * on the driver (q134's enum-bounded graph) goes to [[ranksLocal]]. */
  def ranks(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val ed = edges.select(col("u"), col("v"), col("w"))
    val outw = ed.groupBy("u").agg(sum("w").as("outw"))
    val edn = ed.join(outw, "u")
      .select(col("u"), col("v"), (col("w") / col("outw")).as("_frac"))
      .localCheckpoint()
    val vocab = edn.select(col("u").as("tok")).distinct()
    var pr = vocab.select(col("tok"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edn
        .join(pr.withColumnRenamed("tok", "u"), "u")
        .groupBy(col("v").as("tok"))
        .agg(sum(col("_frac") * col("pr")).as("_acc"))
      pr = vocab.join(contrib, Seq("tok"), "left")
        .select(col("tok"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("_acc"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** [[ranks]] for an ENUM-BOUNDED graph that is already on the driver —
    * the BpeTrain/KMeans-centroid posture (round 18): when the edge list
    * is bounded by a small enum squared (source×source, event_type×
    * event_type), five unrolled join+agg rounds cost ~20 AQE stage-jobs
    * of pure planning on a handful of rows. This runs the SAME arithmetic
    * locally: pr₀ = 1, pr(v) = (1−d) + d·Σ w/outw·pr(u), with w/outw the
    * same long→double division, (1−d) the same IEEE subtraction, and a
    * deterministic (u, v)-sorted accumulation order. Nodes ranked = nodes
    * with ≥1 outgoing edge, exactly [[ranks]]' vocab. Callers re-enter
    * Spark with the bounded (node, pr) result. */
  def ranksLocal(edges: Seq[(String, String, Long)], iters: Int = 5,
      damping: Double = 0.85): Seq[(String, Double)] = {
    val sorted = edges.sortBy(e => (e._1, e._2))
    val outw = sorted.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val edn = sorted.map { case (u, v, w) => (u, v, w.toDouble / outw(u)) }
    val nodes = sorted.map(_._1).distinct.sorted
    var pr = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val acc = scala.collection.mutable.LinkedHashMap[String, Double]()
      edn.foreach { case (u, v, f) =>
        acc(v) = acc.getOrElse(v, 0.0) + f * pr(u) }
      pr = nodes.map(n =>
        n -> ((1.0 - damping) + damping * acc.getOrElse(n, 0.0))).toMap
    }
    nodes.map(n => n -> pr(n))
  }

  /** Symmetric adjacent-token co-occurrence edges from a token-array
    * column `ts`: one edge per adjacent slot (both directions), weight =
    * corpus-wide count. The token stream is CANONICALIZED to unordered
    * (least, greatest) pairs before the hash-agg, so the corpus-sized
    * aggregation input is half of the mirror-then-aggregate form; the
    * symmetric mirror happens on the aggregated vocab²-bounded table.
    * One pass, no shuffle until the pair hash-agg (map-side combined);
    * self-loops and empty tokens dropped. */
  def adjacencyEdges(toks: DataFrame): DataFrame = {
    val adj = toks
      .where(size(col("ts")) >= 2)
      // native adjacent_pairs (round 17): the transform HOF ran
      // interpreted per slot
      .select(explode(graft.plans.WordGramsExprs.adjacentPairs(col("ts"))).as("e"))
      .select(least(col("e.u"), col("e.v")).as("u"), greatest(col("e.u"), col("e.v")).as("v"))
      .where(col("u") =!= "" && col("v") =!= "" && col("u") =!= col("v"))
    val canon = adj.groupBy("u", "v").agg(count(lit(1)).as("w"))
    canon.union(canon.select(col("v").as("u"), col("u").as("v"), col("w")))
  }
}
