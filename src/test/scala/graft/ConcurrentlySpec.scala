package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import graft.operators.{AnnIndex, LexIndex}

/** `GraftSession.concurrently`, the one way src/main overlaps Spark
  * actions: its bodies' jobs carry the caller's local properties, every
  * body settles before a failure is rethrown, and no other src/main code
  * reaches for a `Future` pool. */
class ConcurrentlySpec extends SparkSpec {

  private val Owner = "graft.test.owner"

  /** The `graft.test.owner` property of every job `body` starts. */
  private def ownersOf(body: => Unit): Seq[String] = {
    drainListenerBus()
    val owners = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e))
          owners.add(Option(e.properties).flatMap(p => Option(p.getProperty(Owner))).getOrElse("-"))
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; drainListenerBus() } finally spark.sparkContext.removeSparkListener(listener)
    owners.asScala.toSeq
  }

  test("index builds run every job under the caller's local properties, not a pooled thread's") {
    val sc = spark.sparkContext
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    val emb = graft.sources.Tables.table(spark, sf(), "embeddings")
    def lex(): Unit = LexIndex.build(docs, col("doc_id"), col("text"), "target/concurrently/lex")
    def ann(): Unit = AnnIndex.build(emb, col("vec_id"), col("embedding"), "target/concurrently/ann")
    try {
      // warm whatever threads the builds fork onto while the caller is `a`
      sc.setLocalProperty(Owner, "a")
      lex(); ann()
      sc.setLocalProperty(Owner, "b")
      for ((name, build) <- Seq("LexIndex.build" -> (() => lex()), "AnnIndex.build" -> (() => ann()))) {
        val owners = ownersOf(build())
        assert(owners.nonEmpty, s"$name started no job")
        assert(owners.forall(_ == "b"), s"$name ran jobs under owners ${owners.mkString(",")}")
      }
    } finally sc.setLocalProperty(Owner, null)
  }

  test("every body settles before the first failure is rethrown with its own type") {
    val settled = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      GraftSession.concurrently(spark)(
        () => throw new IllegalStateException("fails at once"),
        () => { Thread.sleep(300); settled.set(true) })
    }
    assert(e.getMessage == "fails at once")
    assert(settled.get, "the failure was rethrown while a sibling body was still running")
  }

  test("src/main overlaps Spark actions only through GraftSession.concurrently") {
    val lines = Files.walk(Paths.get("src/main")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.map {
        case (l, i) => (s"$p:${i + 1}", l)
      })
    val found = futurePools(lines)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the guard flags scala.concurrent, Await and the global pool, and nothing else") {
    val lines = Seq(
      "import scala.concurrent.{Await, Future}",
      "    val f = scala.concurrent.Future(df.count())",
      "      Await.result(f, d)",
      "  import scala.concurrent.ExecutionContext.Implicits.global",
      "    )(ExecutionContext.Implicits.global)",
      "import java.util.concurrent.Executors",
      "    GraftSession.concurrently(spark)(() => a(), () => b())",
      "  // futures awaited elsewhere are not a Future pool here",
    ).zipWithIndex.map { case (l, i) => (s"L${i + 1}", l) }
    assert(futurePools(lines) == Seq("L1", "L2", "L3", "L4", "L5"))
  }

  /** Locations of `scala.concurrent` uses, `Await` calls and the global
    * execution context in `lines`. */
  private def futurePools(lines: Seq[(String, String)]): Seq[String] = {
    val pool = """\bscala\.concurrent\b|\bAwait\b|\bExecutionContext\.Implicits\.global\b""".r
    lines.collect { case (at, l) if pool.findFirstIn(l).nonEmpty => at }
  }
}
