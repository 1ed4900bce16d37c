package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Distributed BPE merge TRAINING (round 14) — the iterative top-pair →
  * merge → recount loop that was the one corpus-scale tokenizer operation
  * still missing after q169's single-pass pair counting
  * (plans/BpeCountExpr.scala). Reference analog: the tokenizer-training
  * stage of an LLM data pipeline; the reference repo itself has no
  * tokenizer (survey_analysis.py:1-499), this is extension scope.
  *
  * Semantics (pinned, engine-neutral — the DuckDB twin implements the
  * identical rules):
  *  - the training grain is the WORD-FREQUENCY table (Sennrich-style BPE
  *    on a word dict): words start as character sequences;
  *  - pair statistics count every adjacent symbol pair, weighted by word
  *    frequency (overlapping occurrences all count);
  *  - each round merges the argmax pair, ties broken by (left, right)
  *    lexicographic — a total order, so the merge SEQUENCE is
  *    deterministic;
  *  - within a word, merging is greedy leftmost non-overlapping.
  *
  * Greedy-leftmost is implemented two provably-equivalent ways: Spark
  * folds left with `functions.aggregate` (merge when the accumulator's
  * last symbol is `lhs` and the current is `rhs` — the freshly merged
  * symbol is strictly longer than `lhs`, so it can never cascade within
  * the round), and the SQL twin selects alternate matches within runs of
  * consecutive match positions (consecutive matches force lhs == rhs, and
  * alternate-selection is exactly what the fold does on such runs).
  *
  * Scale posture: the only corpus-scale pass is the word count. Each
  * round is one explode+agg over the BOUNDED vocab table plus a ONE-ROW
  * argmax collect; the vocab is re-pinned per round with localCheckpoint
  * (the PageRank lineage posture — without it round r's plan nests r
  * `aggregate` lambdas and codegen blows up). `topWords` caps the vocab
  * for oracle tractability; the loop itself never materializes more than
  * the vocab, so a multi-million-word dict trains the same way. */
object BpeTrain {

  /** Word-frequency table of the cleaned, lowercased corpus: words of 2 to
    * `maxLen` letters a–z only (≥ 2 chars so a word can contribute a
    * pair), top `topWords` by (count desc, word asc) — a deterministic
    * cap. BPE keeps words up to 20 letters; [[UnigramLm]] up to 12, so its
    * twin's 2^(n−1) segmentation enumeration stays ≤ 2048 rows per word. */
  def wordVocab(docs: DataFrame, text: Column, maxLen: Int, topWords: Int): DataFrame =
    docs.select(explode(split(lower(TextExprs.cleanText(text)), " ")).as("word"))
      .where(col("word").rlike(s"^[a-z]{2,$maxLen}$$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("word"))
      .limit(topWords)

  /** Run `rounds` merge iterations over a (word, freq) vocab. Returns the
    * learned merge sequence as a driver-side list — `rounds` entries of
    * (lhs, rhs, weighted pair count); bounded by construction. Stops early
    * if the vocab runs out of pairs.
    *
    * The merge LOOP runs on the driver over the collected vocab (round-17
    * optimization, guide §1.2 "the distributed algorithm" first): the
    * vocab is bounded by `topWords` BY CONTRACT — the operator's training
    * grain is a capped word-frequency dict, exactly how production BPE
    * trainers (SentencePiece, HF tokenizers) hold it in one process — so
    * the previous 2 Spark jobs per round (an argmax collect and a
    * localCheckpoint re-pin, 40 scheduler round trips for a 500-row
    * table at 20 rounds) were pure structure, not distribution. The
    * corpus-scale pass ([[wordVocab]]) stays distributed; this collect is
    * topWords-bounded like the centroid matrices. Arithmetic, tie-break
    * total order, and the greedy-leftmost fold are unchanged — the merge
    * sequence is bit-identical (BpeTrainSpec pins both paths' semantics,
    * and the q311/q337 oracle twins re-derive the identical rounds). */
  def trainMerges(vocab: DataFrame, rounds: Int): Seq[(String, String, Long)] = {
    var words: Array[(Array[String], Long)] = vocab
      .select(col("word"), col("freq").cast("long").as("freq"))
      .collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var dry = false
    while (r < rounds && !dry) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) dry = true
      else {
        // argmax with the pinned total order: count desc, then (l, r) asc
        val ((lhs, rhs), c) = counts.minBy { case ((l, rr), cnt) => (-cnt, l, rr) }
        merges += ((lhs, rhs, c))
        val m = lhs + rhs
        words = words.map { case (syms, f) =>
          // greedy leftmost non-overlapping — identical to applyMerges
          val out = scala.collection.mutable.ArrayBuffer[String]()
          syms.foreach { x =>
            if (out.nonEmpty && out.last == lhs && x == rhs)
              out(out.length - 1) = m
            else out += x
          }
          (out.toArray, f)
        }
        r += 1
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge sequence to a (word, freq) table, executor-side:
    * the same greedy-leftmost fold as training, one pass per merge in
    * learned order. Returns (word, freq, n_syms). */
  def applyMerges(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val sp = words.sparkSession
    import sp.implicits._
    val ms = merges.toArray // small, ships in the closure
    words.select(col("word"), col("freq").cast("long").as("freq"))
      .as[(String, Long)]
      .map { case (w, f) =>
        var syms: Seq[String] = w.map(_.toString)
        ms.foreach { case (lhs, rhs) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          syms.foreach { x =>
            if (out.nonEmpty && out.last == lhs && x == rhs)
              out(out.length - 1) = lhs + rhs
            else out += x
          }
          syms = out.toSeq
        }
        (w, f, syms.length.toLong)
      }
      .toDF("word", "freq", "n_syms")
  }
}
