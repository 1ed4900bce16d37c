package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, IndexLog, LexIndex}
import graft.sources.Tables

/** The commit protocol both persistent indexes share (`IndexLog`): a kill
  * at every failpoint leaves the query path green and the retry exact, a
  * torn manifest and orphan debris are invisible, a plan resolved before a
  * commit keeps collecting across it, and a rebuild over a live index is a
  * commit. Every test runs for LexIndex and for AnnIndex. */
class IndexLogSpec extends SparkSpec {

  /** One index under test: `component` is its partitioned data component,
    * `gen` one of its generation components, `rowId` the id column its
    * data files carry. */
  private abstract class Ix(val name: String, val component: String, val partCol: String,
      val gen: String, val rowId: String) {
    def corpus: DataFrame
    def build(df: DataFrame, dir: String): Unit
    def append(df: DataFrame, dir: String): Unit
    def compact(dir: String, maxFragments: Int): Seq[Long]
    def query(dir: String): DataFrame

    def standing: DataFrame = corpus.where(col(rowId) % 7 =!= 0)
    def batch: DataFrame = corpus.where(col(rowId) % 7 === 0)
    def fresh(tag: String): String = s"target/test_index_log/$name/$tag/${System.nanoTime()}"
    def answers(dir: String): Set[Row] = query(dir).collect().toSet

    lazy val standingAnswers: Set[Row] = { val d = fresh("standing"); build(standing, d); answers(d) }
    lazy val fullAnswers: Set[Row] = { val d = fresh("full"); build(corpus, d); answers(d) }
    /** build(standing) + append(batch). */
    lazy val upsertedAnswers: Set[Row] = {
      val d = fresh("upserted"); build(standing, d); append(batch, d); answers(d)
    }
  }

  private object Lex extends Ix("LexIndex", "postings", "tok_bucket", "dict", "doc_id") {
    def corpus: DataFrame = Tables.table(spark, sf(), "documents")
    def build(df: DataFrame, dir: String): Unit = LexIndex.build(df, col("doc_id"), col("text"), dir)
    def append(df: DataFrame, dir: String): Unit =
      LexIndex.append(spark, dir, df, col("doc_id"), col("text"))
    def compact(dir: String, maxFragments: Int): Seq[Long] = LexIndex.compact(spark, dir, maxFragments)
    def query(dir: String): DataFrame = LexIndex.query(spark, dir, Seq("spark", "vector", "stream"))
    // build(A) + append(B) ≡ build(A ∪ B), the q346 contract
    override lazy val upsertedAnswers: Set[Row] = fullAnswers
  }

  private object Ann extends Ix("AnnIndex", "codes", "cell", "centroids", "vec_id") {
    def corpus: DataFrame = Tables.table(spark, sf(), "embeddings")
    def build(df: DataFrame, dir: String): Unit =
      AnnIndex.build(df, col("vec_id"), col("embedding"), dir)
    def append(df: DataFrame, dir: String): Unit =
      AnnIndex.append(spark, dir, df, col("vec_id"), col("embedding"))
    def compact(dir: String, maxFragments: Int): Seq[Long] =
      AnnIndex.compact(spark, dir, maxFragments).map(_.toLong)
    def query(dir: String): DataFrame = AnnIndex.query(spark, dir,
      corpus.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv")),
      k = 5, nProbe = 2)
  }

  private def killed(fp: String)(body: => Unit): Unit = {
    IndexLog.failpoint = Some(fp)
    try intercept[IllegalStateException](body) finally IndexLog.failpoint = None
  }

  private def liveFiles(ix: Ix, dir: String): Seq[String] =
    IndexLog.snapshotFiles(spark, dir, ix.component).head

  private def dataFilesOnDisk(ix: Ix, dir: String): Set[String] = {
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(s"$dir/${ix.component}")).map(_.getName).filter(_.endsWith(".parquet")).toSet
  }

  for (ix <- Seq(Lex, Ann)) {

    for (fp <- Seq("append-post-data", "append-post-gens")) {
      test(s"${ix.name}: append killed at $fp: query serves the OLD index; retry lands the batch exactly once") {
        val dir = ix.fresh(s"kill_$fp")
        ix.build(ix.standing, dir)
        killed(fp)(ix.append(ix.batch, dir))
        // pre-commit kill: the manifest is untouched, so the query path is
        // the standing index — the orphaned attempt is invisible
        assert(ix.answers(dir) === ix.standingAnswers)
        // retry: the orphans are in the before-listing, so they can never
        // enter the manifest
        ix.append(ix.batch, dir)
        assert(ix.answers(dir) === ix.upsertedAnswers)
      }
    }

    val refusal = if (ix == Lex) "; retry refuses (disjointness)" else ""
    test(s"${ix.name}: append killed between commit and GC: batch is live$refusal") {
      val dir = ix.fresh("kill_append_post_commit")
      ix.build(ix.standing, dir)
      killed("append-post-commit")(ix.append(ix.batch, dir))
      assert(ix.answers(dir) === ix.upsertedAnswers) // commit happened — batch visible
      if (ix == Lex) {
        // a retry would double-count the batch: the guard must refuse
        val e = intercept[IllegalArgumentException](ix.append(ix.batch, dir))
        assert(e.getMessage.contains("already indexed"), e.getMessage)
        assert(ix.answers(dir) === ix.upsertedAnswers) // refusal changed nothing
      }
    }

    for (fp <- Seq("compact-post-data", "compact-post-commit")) {
      test(s"${ix.name}: compact killed at $fp: content invariant; retry completes the maintenance") {
        val dir = ix.fresh(s"kill_$fp")
        ix.build(ix.standing, dir)
        ix.append(ix.batch, dir)
        killed(fp)(ix.compact(dir, 1))
        assert(ix.answers(dir) === ix.upsertedAnswers) // compaction is invisible at every step
        ix.compact(dir, 1)
        assert(ix.answers(dir) === ix.upsertedAnswers)
      }
    }

    for (fp <- Seq("build-post-data", "build-post-gens")) {
      test(s"${ix.name}: rebuild killed at $fp: the standing index serves; retry commits") {
        val dir = ix.fresh(s"kill_$fp")
        ix.build(ix.standing, dir)
        killed(fp)(ix.build(ix.corpus, dir))
        assert(ix.answers(dir) === ix.standingAnswers)
        ix.build(ix.corpus, dir)
        assert(ix.answers(dir) === ix.fullAnswers)
      }
    }

    test(s"${ix.name}: a torn (partial) manifest write with the highest seq is skipped, not served") {
      val dir = ix.fresh("torn_manifest")
      ix.build(ix.corpus, dir)
      // a torn write: highest-seq file without the commit terminator
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/manifest/m${"0" * 18}99.txt"),
        s"${ix.gen}=${ix.gen}/g9\n${ix.component.take(1)}=${ix.component}/garbage.parquet\n")
      assert(ix.answers(dir) === ix.fullAnswers)
      // an unparseable manifest name must be skipped, not crash the reader
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/manifest/m${"9" * 20}.txt"), "junk")
      assert(ix.answers(dir) === ix.fullAnswers)
      // the next commit's GC reclaims both: only the two retained manifests stay
      ix.build(ix.corpus, dir)
      assert(new File(s"$dir/manifest").list().filterNot(_.startsWith(".")).sorted.toSeq ===
        Seq(1L, 2L).map(seq => f"m$seq%020d.txt"))
      assert(ix.answers(dir) === ix.fullAnswers)
    }

    test(s"${ix.name}: orphan data files and stray generations are invisible to the query path") {
      val dir = ix.fresh("orphans")
      ix.build(ix.corpus, dir)
      val before = ix.answers(dir)
      // junk: a copy of every live row under a fresh id, written INTO the
      // partitions the query scans — if the reader trusted directory
      // listings over the manifest, these rows would change the answer
      val onDisk = dataFilesOnDisk(ix, dir)
      Tables.parquet(spark, s"$dir/${ix.component}", liveFiles(ix, dir).map(f => s"$dir/$f"))
        .withColumn(ix.rowId, col(ix.rowId) + 1000000L)
        .write.partitionBy(ix.partCol).mode("append").parquet(s"$dir/${ix.component}")
      val junk = dataFilesOnDisk(ix, dir) -- onDisk
      assert(junk.nonEmpty)
      assert(ix.answers(dir) === before)
      // a stray generation dir (a crashed writer's debris)
      spark.range(1).write.parquet(s"$dir/${ix.gen}/g99")
      assert(ix.answers(dir) === before)
      // a NO-OP compact (nothing over-fragmented) must still sweep debris
      // that no retained manifest references (review r17 finding #3)
      assert(ix.compact(dir, Int.MaxValue).isEmpty)
      assert(dataFilesOnDisk(ix, dir).intersect(junk).isEmpty,
        "no-op compact must sweep unreferenced debris")
      assert(!new File(s"$dir/${ix.gen}/g99").exists(),
        "no-op compact must reclaim stray generations")
      assert(ix.answers(dir) === before)
      // a REWRITING compact leaves exactly one LIVE fragment per partition
      // (the replaced fragments stay on disk for the retention window)
      ix.compact(dir, 0)
      assert(ix.answers(dir) === before)
      val perPart = liveFiles(ix, dir).groupBy(_.split("/")(1))
      assert(perPart.nonEmpty && perPart.values.forall(_.size == 1),
        s"compact must leave exactly one live fragment per partition: $perPart")
    }

    test(s"${ix.name}: a plan resolved before a commit keeps collecting across it (retention window)") {
      val dir = ix.fresh("retention")
      ix.build(ix.standing, dir)
      val preAppend = ix.query(dir) // resolves the build's snapshot
      ix.append(ix.batch, dir)
      // the superseded snapshot (its generations and files) must still be
      // fully readable for one commit
      assert(preAppend.collect().toSet === ix.standingAnswers)
      assert(ix.answers(dir) === ix.upsertedAnswers)
      // the same across a compaction, which replaces every live file
      val preCompact = ix.query(dir)
      ix.compact(dir, 0)
      assert(preCompact.collect().toSet === ix.upsertedAnswers)
      assert(ix.answers(dir) === ix.upsertedAnswers)
    }

    test(s"${ix.name}: rebuild over a LIVE index is a commit, not a wipe") {
      val dir = ix.fresh("rebuild_live")
      ix.build(ix.standing, dir)
      val preCommitPlan = ix.query(dir)
      ix.build(ix.corpus, dir) // rebuild, same dir
      assert(ix.answers(dir) === ix.fullAnswers)
      // one snapshot of history: the pre-rebuild plan still collects
      assert(preCommitPlan.collect().toSet === ix.standingAnswers)
      // a third rebuild pushes the first snapshot out of the window — its
      // files are reclaimed, and only two manifests remain on disk
      ix.build(ix.corpus, dir)
      assert(ix.answers(dir) === ix.fullAnswers)
      val manifests = new File(s"$dir/manifest").listFiles().count(_.getName.endsWith(".txt"))
      assert(manifests === 2, s"retention window must keep exactly 2 manifests, saw $manifests")
      val retained = IndexLog.snapshotFiles(spark, dir, ix.component).flatten.map(_.split("/").last)
      assert(dataFilesOnDisk(ix, dir) === retained.toSet)
    }
  }
}
