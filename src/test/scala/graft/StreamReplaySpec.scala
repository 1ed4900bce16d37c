package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.queries.QueryHelpers.streamReplay

/** The file-stream replay rig of the streaming-under-oracle queries: one
  * write job for every slice, slice i replayed as data batch i, and the
  * write-time guards on the `slice` column. */
class StreamReplaySpec extends SparkSpec {

  private def fileSink(stream: org.apache.spark.sql.DataFrame, ckpt: String,
      out: String): StreamingQuery =
    stream.writeStream.option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()

  test("a 4-slice replay writes every slice in one job") {
    val rows = spark.range(400).select(col("id"), pmod(col("id"), lit(4)).as("slice"))
    val jobs = jobsOf {
      // stop at the callback: the count is the rig's own write jobs
      val e = intercept[IllegalStateException] {
        streamReplay(spark, "replay_jobs", rows, 4) { (_, _, _) =>
          throw new IllegalStateException("run entered")
        }
      }
      assert(e.getMessage === "run entered")
    }
    assert(jobs === 1)
  }

  test("data batch i is slice i, past ten slices") {
    // slice i holds i + 1 rows, so a name-ordered move (slice=10 before
    // slice=2) would replay 11 rows as batch 2
    val n = 12
    val s = spark
    import s.implicits._
    val rows = (0 until n).flatMap(i => Seq.fill(i + 1)(i)).zipWithIndex
      .toDF("slice", "id")
    var q: StreamingQuery = null
    val out = streamReplay(spark, "replay_order", rows, n) { (stream, ckpt, out) =>
      q = fileSink(stream, ckpt, out); q
    }
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(batches === (0 until n).map(i => rows.where(col("slice") === i).count()))
    assert(out.count() === rows.count())
  }

  test("streamReplay fails fast and actionably on an empty slice") {
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"), lit(0).as("slice"))
    val e = intercept[IllegalArgumentException] {
      streamReplay(spark, "r16emptyslice", docs.limit(5), 2)(fileSink)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("a slice id outside [0, n) fails the replay") {
    val rows = spark.range(6).select(col("id"), pmod(col("id"), lit(3)).as("slice"))
    val e = intercept[IllegalArgumentException] {
      streamReplay(spark, "replay_range", rows, 2)(fileSink)
    }
    assert(e.getMessage.contains("slice=2"), e.getMessage)
  }
}
