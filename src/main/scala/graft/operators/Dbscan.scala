package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DBSCAN (Ester et al., KDD 1996) over an embedding column, re-expressed
  * as bounded Spark dataflows — the density-based complement to the
  * centroid family (q78 k-means, q103 SemDeDup): it finds arbitrarily
  * shaped dense regions and, unlike k-means, it NAMES the leftovers
  * (noise), which is exactly the triage a curation pipeline wants — keep
  * dense semantic clusters for dedup/balancing, route noise to review.
  *
  * Spark-first realization (no all-pairs anywhere):
  *  0. DISTINCT-VECTOR COLLAPSE (the embedding analog of round-13's
  *     distinct-text collapse): byte-identical vectors — the common case
  *     on a dup-heavy corpus, where exact copies embed identically —
  *     group to ONE node keyed by the min member id, carrying a
  *     multiplicity. The ε-graph, degree test, and components all run at
  *     the distinct grain; members expand back through a slim
  *     (vec_id, gid) join. k exact copies would otherwise contribute
  *     C(k,2) within-bucket candidate pairs; collapsed they contribute
  *     ZERO pairs and a multiplicity, so the copies² regime never forms.
  *     Semantics are UNCHANGED (oracle stays at the id grain): identical
  *     vectors have identical neighborhoods, so deg(x) + 1 =
  *     mult(group(x)) + Σ_{nbr groups y} mult(y), every member of a
  *     group shares one role, intra-group edges (cos = 1 ≥ eps) keep a
  *     group's cores in one component, and a component's min member id
  *     IS the min gid (gid = min member id, members ≥ their gid).
  *  1. ε-neighborhood graph = the SAME hyperplane-LSH bucketed candidate
  *     join as [[Dedup.embeddingNearDups]] (q34): one deterministic
  *     bucket per vector, candidates only within a bucket, exact cosine
  *     verify. Recall caveat is q34's, documented there — the oracle
  *     twin recomputes the SAME buckets from the same plane constants,
  *     so both engines see the identical graph.
  *  2. Core test = one hash agg over the symmetrized pair list with
  *     multiplicity weights (deg(x) + 1 ≥ minPts per the paper).
  *  3. Clusters = connected components over CORE–CORE edges only
  *     ([[Dedup.connectedComponents]]: driver union-find under a
  *     `driverMaxEdges` guard with a star-contraction distributed
  *     fallback). Label = min core id reachable — deterministic.
  *  4. Border points (non-core with ≥ 1 core neighbor) attach to the
  *     MIN cluster label among their core neighbors — the paper leaves
  *     this tie arbitrary (first-visited wins); min pins it so the
  *     result is a pure function of the corpus, twinnable in SQL.
  *
  * At 100 TB: the collapse is one hash agg keyed by the vector; the
  * bucket join shuffles (bucket, gid, vec) once at the DISTINCT grain;
  * degree and border assignment are single hash aggs on ids-only
  * relations; the CC input is the core–core subgraph, which density
  * thresholds keep far smaller than the candidate graph. Nothing is
  * quadratic in the corpus — the one quadratic risk (a mega-bucket of
  * DISTINCT vectors) is the q34/q176 plane-count knob (SimilaritySpec
  * checks that stepping it re-cuts the candidate volume); DbscanSpec pins
  * the collapse (pure-replica blobs: zero distinct-grain pairs at any rep).
  */
object Dbscan {

  /** Returns one row per input id: (vec_id, role, cluster_id) with
    * role ∈ {core, border, noise} and cluster_id = −1 for noise. */
  def cluster(df: DataFrame, id: Column, vec: Column, eps: Double,
      minPts: Int, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val base = df.select(id.cast("long").as("vec_id"), vec.as("v"))
    // Distinct-vector collapse: group key is the ARRAY itself (exact
    // byte equality — no hash-collision merge risk), gid = min member.
    // Round 18 (guide §2.4): the collapse is pinned ONCE — members, the
    // slim weights, and the candidate join are all narrow derivations of
    // this one table, so the previous three independent checkpoints each
    // re-ran the corpus-wide groupBy(v) exchange (and gSlim's pin bought
    // nothing a projection of pinned blocks doesn't already give).
    val groups = base.groupBy("v")
      .agg(min("vec_id").as("gid"), count(lit(1)).as("mult"))
      .localCheckpoint()
    // Slim member map for the final expansion; the vectors never travel
    // past the candidate join.
    val members = base.join(groups.select(col("v"), col("gid")), "v")
      .select("vec_id", "gid")
      .localCheckpoint()
    val gSlim = groups.select(col("gid"), col("mult")) // projection of pinned blocks
    val pairs = Dedup.embeddingNearDups(
        groups.select(col("gid"), col("v")), col("gid"), col("v"),
        threshold = eps, nPlanes = nPlanes, dim = dim)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .localCheckpoint() // consumers: degree, core-core filter, border
    val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("id", "nbr")
    // deg(x) + 1 at the id grain = own multiplicity + neighbor-group
    // multiplicities (identical vectors are mutual ε-neighbors).
    val nbrW = sym
      .join(gSlim.select(col("gid").as("nbr"), col("mult").as("_nm")), "nbr")
      .groupBy("id").agg(sum("_nm").as("_nbrm"))
    val core = gSlim.select(col("gid").as("id"), col("mult"))
      .join(nbrW, Seq("id"), "left")
      .where(col("mult") + coalesce(col("_nbrm"), lit(0L)) >= minPts)
      .select("id")
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .select("id_a", "id_b")
    val comp = Dedup.connectedComponents(coreEdges)
    // Isolated cores (no core neighbor) never enter the edge list: they
    // are their own singleton cluster — coalesce to self.
    val coreClusters = core
      .join(comp, core("id") === comp("node"), "left")
      .select(core("id"),
        coalesce(col("component").cast("long"), core("id")).as("cluster_id"))
    val border = sym
      .join(coreClusters.select(col("id").as("nbr"), col("cluster_id")), "nbr")
      .join(core, Seq("id"), "left_anti")
      .groupBy("id")
      .agg(min("cluster_id").as("cluster_id"))
    val labeled = coreClusters
      .select(col("id"), lit("core").as("role"), col("cluster_id"))
      .union(border.select(col("id"), lit("border").as("role"),
        col("cluster_id")))
    members.join(labeled, members("gid") === labeled("id"), "left")
      .select(col("vec_id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"))
  }
}
