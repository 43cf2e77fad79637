package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Distributed BPE merge-table LEARNING — the training half of the BPE
  * story (the applying half is the native [[graft.functions.BpeCount]] /
  * [[graft.functions.BpeSegment]] expressions and their replace-chain
  * oracle face in [[TextFunctions]]). Implements the classic algorithm
  * (Sennrich et al., ACL 2016): start from characters, repeatedly count
  * adjacent symbol pairs over the corpus and merge the most frequent
  * pair, emitting one ranked merge per round — the table a real
  * tokenizer ships, learned from the corpus it will tokenize.
  *
  * The scale structure is the part that matters at 100 TB: the corpus is
  * read ONCE, collapsing to the word-FREQUENCY table (word types, not
  * occurrences — the zipfian corpus becomes a vocabulary-sized frame),
  * and every learning round runs entirely on that frame: one
  * map-side-combinable pair count weighted by word frequency, one
  * bounded `TakeOrdered` argmax (count desc, then lexicographic pair —
  * a total order, so ties are deterministic in any engine), one
  * broadcast of the single winning row, and one codegen'd `replace`
  * applying the merge to every word's working string. No round touches
  * the corpus again; no step shuffles anything larger than the
  * vocabulary; the argmax never collects to the driver — each round's
  * winner stays a 1-row DataFrame unioned lazily into the result.
  * Rounds are pinned (the HyperBall/Pregel device) so the
  * plan stays round-sized instead of compounding.
  *
  * Pair counting follows the reference implementation's convention:
  * every ADJACENT POSITION counts, overlapping included ("aaaa" counts
  * (a,a) three times), weighted by word frequency; the merge application
  * is leftmost non-overlapping ("aaaa" becomes "aa","aa") — exactly
  * Sennrich's `get_stats`/`merge_vocab` pair, and exactly what the
  * wrapped-symbol `replace` performs (each symbol carries its own
  * delimiters, so one literal replace pass IS the leftmost
  * non-overlapping application; see [[TextFunctions.bpeSegmented]]'s
  * scaladoc for why the wrapping makes the match exact).
  *
  * If the vocabulary exhausts (every word fused to one symbol) before
  * `numMerges` rounds, the remaining rounds find no pair and emit
  * nothing: the result simply has fewer rows, ranks still dense from 1.
  *
  * Output: (rank, a, b, cnt) — merge rank r fuses symbol `a` followed by
  * symbol `b`; `cnt` is the weighted pair count that won the round. The
  * (a, b) rows feed [[TextFunctions.bpeTokenCountExact]] directly.
  */
object BpeTrainer {

  private val Sep = "\u0001"

  /** Adjacent-symbol pairs of a wrapped working string, as (a, b)
    * structs — one element per adjacent POSITION (overlapping). */
  private def adjacentPairs(s: org.apache.spark.sql.Column) = {
    val syms = split(trim(s, Sep), Sep + Sep)
    when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2), i =>
        struct(element_at(syms, (i + 1).cast("int")).as("a"),
          element_at(syms, (i + 2).cast("int")).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
  }

  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // ONE corpus pass: occurrences collapse to word types with counts.
    // The initial working string wraps every character as a symbol.
    var vocab = CheckpointPolicy.pin(docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", Sep + "$1" + Sep).as("s"),
        col("freq")))
    val rounds = (1 to numMerges).map { r =>
      val best = CheckpointPolicy.pin(vocab
        .select(col("freq"), explode(adjacentPairs(col("s"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .select(lit(r).as("rank"), col("a"), col("b"), col("cnt")))
      vocab = CheckpointPolicy.pin(vocab
        .crossJoin(broadcast(best.select(col("a").as("_ma"), col("b").as("_mb"))))
        .select(
          replace(col("s"),
            concat(lit(Sep), col("_ma"), lit(Sep + Sep), col("_mb"), lit(Sep)),
            concat(lit(Sep), col("_ma"), col("_mb"), lit(Sep))).as("s"),
          col("freq")))
      best
    }
    rounds.reduce(_ unionByName _)
  }
}
