package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, JoinOps}
import graft.sources.Tables

class JoinOpsSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.table(spark, sf(), "events")

  test("AsOfJoin.backward reproduces the q15 window composition on events") {
    val errors = events.where(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val viaOp = AsOfJoin.backward(errors, purchases, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", payload = Seq("value"))
      .select(col("event_id"), col("_asof_ts").as("last_purchase_ts"))
    val viaQ15 = SparkEntry.queries("q15_asof_join")(spark, sf())
      .select("event_id", "last_purchase_ts")
    assert(viaOp.except(viaQ15).count() == 0 && viaQ15.except(viaOp).count() == 0)
  }

  test("AsOfJoin.forward finds the next purchase; tolerance bounds the age") {
    val l = Seq((1L, "u1", 100L), (2L, "u1", 500L), (3L, "u2", 100L))
      .toDF("id", "u", "t").withColumn("t", timestamp_micros(col("t") * 1000000L))
    val r = Seq(("u1", 150L, 9.0), ("u1", 700L, 8.0))
      .toDF("u", "t", "v").withColumn("t", timestamp_micros(col("t") * 1000000L))
    val fwd = AsOfJoin.forward(l, r, Seq("u"), "t", "t", Seq("v"))
      .select("id", "_asof_v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(fwd(1L).contains(9.0)) // next purchase at t=150
    assert(fwd(2L).contains(8.0)) // next at t=700
    assert(fwd(3L).isEmpty)       // u2 has none
    // tolerance 100s: id=2's next purchase is 200s away → dropped
    val tol = AsOfJoin.forward(l, r, Seq("u"), "t", "t", Seq("v"), Some(lit(100L)))
      .select("id", "_asof_v").collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(tol(1L).contains(9.0) && tol(2L).isEmpty)
  }

  test("timeRangeJoin equals the naive theta-join on events (1h window, no equi-key)") {
    val errs = events.where(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("ts").as("ets")).limit(50)
    val purch = events.where(col("event_type") === "purchase")
      .select(col("ts").as("pts"))
    val bucketed = JoinOps.timeRangeJoin(errs, purch, "ets", "pts", windowUs = 3600L * 1000000L)
      .groupBy("eid").agg(count(lit(1)).as("n"))
    val naive = errs.crossJoin(purch)
      .where(unix_micros(col("pts")).between(
        unix_micros(col("ets")), unix_micros(col("ets")) + 3600L * 1000000L))
      .groupBy("eid").agg(count(lit(1)).as("n"))
    assert(bucketed.except(naive).count() == 0 && naive.except(bucketed).count() == 0)
  }

  test("saltedCount == direct groupBy count") {
    val df = events.select("event_type", "user_id")
    val direct = df.groupBy("event_type").count().withColumnRenamed("count", "n")
    val salted = JoinOps.saltedCount(df, Seq("event_type"), nSalts = 8)
    assert(salted.except(direct).count() == 0 && direct.except(salted).count() == 0)
  }
}
