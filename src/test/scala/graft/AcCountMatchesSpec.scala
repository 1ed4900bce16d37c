package graft

import org.apache.spark.sql.functions._
import graft.plans.AcCountMatches.acCountMatches

/** The Aho-Corasick match counter against blocklists absent from the
  * corpus: zero hits, and one injected canary counts exactly once per doc
  * at any blocklist size. */
class AcCountMatchesSpec extends SparkSpec {

  test("absent patterns count zero; an injected canary counts once per doc") {
    val docs = graft.sources.Tables.table(spark, sf(), "documents")
    for (k <- Seq(8, 1024)) {
      val pats = (0 until k).map(i => f"canary pattern $i%05d")
      val r = docs.select(acCountMatches(col("text"), pats).as("none"),
          acCountMatches(concat(col("text"), lit(" canary pattern 00003")), pats).as("one"))
        .agg(sum("none"), sum("one"), count(lit(1))).head()
      assert(r.getLong(0) == 0L && r.getLong(1) == r.getLong(2), s"k=$k: $r")
    }
  }
}
