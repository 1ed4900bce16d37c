package graft

import org.apache.spark.sql.functions._
import graft.operators.BpeTrain

/** BPE merge training semantics on hand-computed fixtures — argmax with the
  * pinned tie-break, greedy-leftmost non-overlapping merges (including the
  * lhs == rhs overlap runs the SQL twin handles via alternate selection),
  * and the train → apply round trip. */
class BpeTrainSpec extends SparkSpec {

  private def vocab(rows: (String, Long)*) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("word", "freq")
  }

  test("learns the classic merge sequence on a simple vocab") {
    // Sennrich's toy shape: 'lo' dominates, then 'low'
    val v = vocab("low" -> 5L, "lower" -> 2L, "lowest" -> 1L)
    val m = BpeTrain.trainMerges(v, 2)
    // pairs: (l,o)=8, (o,w)=8, (w,e)=3, ... tie (l,o) vs (o,w) -> lex: (l,o)
    assert(m.head === (("l", "o", 8L)))
    // after merge: [lo, w] etc -> (lo, w) = 8 wins
    assert(m(1) === (("lo", "w", 8L)))
  }

  test("overlapping identical pairs merge greedy-leftmost: aaaa -> [aa, aa]") {
    val v = vocab("aaaa" -> 3L, "aaa" -> 2L)
    // pair (a,a): aaaa has 3 adjacent occurrences, aaa has 2 -> 3*3+2*2 = 13
    val m = BpeTrain.trainMerges(v, 1)
    assert(m.head === (("a", "a", 13L)))
    val applied = BpeTrain.applyMerges(v, m.map(x => (x._1, x._2)))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(applied("aaaa") === 2L) // [aa, aa]
    assert(applied("aaa") === 2L)  // [aa, a]
  }

  test("merged symbols participate in later rounds (multi-char pairs)") {
    val v = vocab("abab" -> 4L)
    val m = BpeTrain.trainMerges(v, 3)
    // r1: (a,b)=8 beats (b,a)=4. r2: word = [ab, ab] -> (ab, ab)=4. r3: dry.
    assert(m.map(x => (x._1, x._2)) === Seq(("a", "b"), ("ab", "ab")))
    assert(m.size === 2) // single-symbol words have no pairs: early stop
  }

  test("wordVocab filters to [a-z]{2,20} and caps deterministically") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "the the the cat CAT x 42 supercalifragilisticexpialidocious"))
      .toDF("doc_id", "text")
    val w = BpeTrain.wordVocab(docs, col("text"), 20, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // 'x' (1 char), '42', and the 34-char word are filtered; lower() folds CAT
    assert(w.toSeq === Seq("the" -> 3L, "cat" -> 2L))
  }
}
