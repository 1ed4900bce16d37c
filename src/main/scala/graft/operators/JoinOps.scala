package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join/aggregation shapes for hostile data distributions at scale:
  * time-range bucketing (range joins without an equi-key) and key salting
  * (skewed keys). Both are pure plan construction — Catalyst/AQE still
  * pick the physical strategies.
  */
object JoinOps {

  /** Range join by time-bucketing: pairs (l, r) with
    * `r.ts in [l.ts, l.ts + window]`, without requiring any equi-key.
    * Each left row joins on its own bucket and the next one (a window never
    * spans more than two buckets of width >= window), then the exact range
    * predicate filters. Turns the O(n·m) theta-join into an equi-join on
    * well-spread bucket ids — the standard interval-bucketing decomposition.
    *
    * @param windowUs window length in MICROSECONDS (ts columns are
    *                 timestamps; bucket width = windowUs).
    */
  def timeRangeJoin(left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String, windowUs: Long,
      extraKeys: Seq[String] = Seq.empty): DataFrame = {
    require(windowUs > 0, "window must be positive")
    val lb = left.withColumn("_bucket",
      explode(array((unix_micros(col(leftTs)) / windowUs).cast("long"),
        (unix_micros(col(leftTs)) / windowUs).cast("long") + 1)))
    val rb = right.withColumn("_bucket", (unix_micros(col(rightTs)) / windowUs).cast("long"))
    lb.join(rb, extraKeys :+ "_bucket")
      .where(unix_micros(col(rightTs)).between(
        unix_micros(col(leftTs)), unix_micros(col(leftTs)) + windowUs))
      .drop("_bucket")
  }

  /** Salted aggregation: two-phase groupBy for skewed grouping keys. The
    * partial phase fans each hot key across `nSalts` reducers; the final
    * phase merges the partials. Results identical to a direct groupBy.
    * (Spark's own partial aggregation covers this when the aggregate
    * functions are algebraic; the explicit form also covers
    * collect/distinct-style aggregates and documents the pattern.) */
  def saltedCount(df: DataFrame, keys: Seq[String], nSalts: Int = 16): DataFrame = {
    require(nSalts >= 1)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(keys.map(col) :+ monotonically_increasing_id(): _*), lit(nSalts.toLong)))
    salted.groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(count(lit(1)).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum("_partial").as("n"))
  }

  /** Bloom-filter join pruning: build a bloom filter over `other`'s join
    * keys (driver-side, broadcast as a task closure constant) and pre-filter
    * the big side before the shuffle join. False positives only let a few
    * extra rows through to the exact join — results are identical to the
    * unfiltered join — but true negatives (the overwhelming majority when
    * the key set is selective) never enter the exchange. This is the manual
    * form of Spark's own runtime row-group filtering, exposed as an operator
    * so the pruning applies to ANY downstream shape, not just joins the
    * planner picks up.
    *
    * @param keyName  long-typed join key column present in `other`.
    * @param fpp      false-positive rate; sizes the filter (~ -n·ln(fpp)/ln²2 bits). */
  def bloomPrune(big: DataFrame, bigKey: Column, other: DataFrame,
      keyName: String, fpp: Double = 0.01): DataFrame = {
    val nKeys = math.max(other.count(), 1L)
    val bf = other.stat.bloomFilter(keyName, nKeys, fpp)
    val bc = big.sparkSession.sparkContext.broadcast(bf)
    val might = udf((k: java.lang.Long) => k != null && bc.value.mightContainLong(k))
    big.where(might(bigKey))
  }
}
