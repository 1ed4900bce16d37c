package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.QueryHelpers.linkagePfxLen

/** q88's adaptive linkage-blocking prefix on a minted name universe that
  * grows with the corpus (10-char names, 4 letters per position, so every
  * 3-char block holds ~n/64 names): at 10× names a fixed prefix grows the
  * within-block pair space ~100×, the stepped prefix re-cuts it. */
class LinkagePfxLenSpec extends SparkSpec {

  test("10× names cross a prefix step; the stepped prefix re-cuts the pair space") {
    def names(n: Int): DataFrame = spark.range(n).select(
      expr("array_join(transform(sequence(0, 9), j -> " +
        "chr(97 + CAST(pmod(xxhash64(id, j), 4) AS INT))), '')").as("name")).distinct()
    def pairs(df: DataFrame, pfx: Int): Long =
      df.groupBy(substring(col("name"), 1, pfx)).count()
        .agg(sum(expr("count * (count - 1) / 2"))).head().getDouble(0).toLong
    val (small, big) = (names(9000), names(90000))
    val (p0, p1) = (linkagePfxLen(small.count()), linkagePfxLen(big.count()))
    assert(p1 > p0, s"the input must cross a step: $p0 -> $p1")
    val base = pairs(small, p0)
    val fixed = pairs(big, p0)
    assert(fixed.toDouble / base > 50.0, s"fixed prefix: $base -> $fixed")
    assert(pairs(big, p1) < fixed / 3, "the stepped prefix must re-cut the pair space")
  }
}
