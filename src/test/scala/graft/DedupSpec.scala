package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExprs
import graft.operators.Dedup

/** Dedup operators under pure corpus replication (fresh ids, texts
  * unchanged): the distinct-text universe is fixed, so every output count
  * has a closed form in the replication factor. */
class DedupSpec extends SparkSpec {

  private def docs = graft.sources.Tables.table(spark, sf(), "documents")

  test("editDistNearDups: cross pairs scale by rep², same-text pairs by C(m·rep, 2)") {
    val base = docs.where(col("n_chars") <= 512).select("doc_id", "text")
    val rep = 3
    // copies per distinct cleaned text among the operator's survivors
    val ms = base.select(TextExprs.cleanText(col("text")).as("t"))
      .where(size(split(col("t"), " ")) >= 3)
      .groupBy(md5(col("t"))).count().collect().map(_.getLong(1))
    def split2(df: DataFrame): (Long, Long) = {
      val p = Dedup.editDistNearDups(df, col("doc_id"), col("text")).cache()
      val cross = p.where(col("edit_dist") > 0).count()
      (cross, p.count() - cross)
    }
    val (cross1, same1) = split2(base)
    assert(cross1 > 0, "the fixture must hold near-dup text pairs")
    assert(same1 == ms.map(m => m * (m - 1) / 2).sum)
    val (crossN, sameN) = split2(replicated(base, "doc_id", rep))
    assert(crossN == cross1 * rep * rep)
    assert(sameN == ms.map(m => m * rep * (m * rep - 1) / 2).sum)
  }

  test("simhashNearDupsExact + connectedComponents: pair and cluster closed forms") {
    val base = docs.select("doc_id", "text")
    def chain(rep: Int): (Long, Long, Long) = {
      val p = Dedup.simhashNearDupsExact(replicated(base, "doc_id", rep), col("doc_id"), col("text"))
        .select("id_a", "id_b").cache()
      val inPairs = p.select(col("id_a").as("d")).union(p.select(col("id_b").as("d")))
        .distinct().count()
      val clusters = Dedup.connectedComponents(p).select("component").distinct().count()
      (p.count(), clusters, inPairs)
    }
    val eligible = base.select(TextExprs.cleanText(col("text")).as("t"))
      .where(size(split(col("t"), " ")) >= 3).count()
    val (pairs1, clusters1, inPairs1) = chain(1)
    assert(pairs1 > 0, "the fixture must hold simhash near-dup pairs")
    val expectClusters = clusters1 + (eligible - inPairs1)
    for (rep <- Seq(2, 4)) {
      val (pairs, clusters, _) = chain(rep)
      assert(pairs == pairs1 * rep * rep + eligible * rep * (rep - 1) / 2, s"pairs at rep=$rep")
      assert(clusters == expectClusters, s"clusters at rep=$rep")
    }
  }

  test("q151 bloom decontamination: every train copy reports its original's counts") {
    // ids shift by a multiple of 20 per copy: the benchmark slice
    // (doc_id % 20 == 0) is replicated too and keeps its shingle set
    val rep = 3
    val dir = s"target/test_q151_rep/${System.nanoTime()}"
    docs.crossJoin(spark.range(rep).select(col("id").as("_r")))
      .withColumn("doc_id", col("doc_id") + col("_r") * 1000).drop("_r")
      .write.parquet(s"$dir/documents.parquet")
    def rows(d: String) = SparkEntry.queries("q151_bloom_decontaminate")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val base = rows(sf())
    assert(base.exists(_._3 > 0), "the fixture must hold contaminated train docs")
    val expect = for { (id, nb, ne, fp) <- base; r <- 0 until rep } yield (id + r * 1000L, nb, ne, fp)
    assert(rows(dir) == expect)
  }

  test("minhashNearDups pins its signatures by localCheckpoint, not the cache") {
    val out = Dedup.minhashNearDups(docs, col("doc_id"), col("text"))
    val cached = out.queryExecution.withCachedData.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.isEmpty, "a query path must leave no CacheManager entry behind")
    assert(out.count() > 0)
  }
}
