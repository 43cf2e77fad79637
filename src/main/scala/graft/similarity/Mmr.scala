package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Maximal Marginal Relevance diversity re-rank (Carbonell & Goldstein,
  * SIGIR'98) at λ = 1/2: after a relevance shortlist, greedily select
  * the candidate maximizing `rel − max_{s∈selected} sim(c, s)` — the
  * standard way to keep a result set (or a few-shot example set, or a
  * curated training slice) from collapsing onto near-duplicates of the
  * top hit.
  *
  * Everything is exact i64: relevance and similarity are the quantized
  * integer dot product, λ = 1/2 folds into the unscaled difference, and
  * ties break to the smallest id — so the greedy trajectory is a pure
  * function of the input and a SQL oracle replays all k steps.
  *
  * Scale shape: the greedy loop is k driver rounds, but each round is
  * one keyed join + one combinable max(struct) over the |queries|·
  * shortlist candidate frame — ALL queries advance in parallel, and the
  * corpus is touched only by the initial shortlist and the per-round
  * selected-vector lookups (|queries| rows by key). State (`best`, the
  * running max-similarity per candidate) is checkpoint-pinned.
  */
object Mmr {

  /** @return (qid, nid, mmr2, step): the k selections per query in
    *         greedy order; `mmr2` is the exact integer objective at
    *         selection time (step 1: the raw relevance dot).
    *
    * Shortfall semantics: a query whose shortlist returns fewer than k
    * candidates (corpus smaller than `shortlist`, or ties truncated)
    * yields fewer than k steps — once its pool is exhausted the per-round
    * pick is empty and later rounds are no-ops for that query. This is
    * deliberate: the alternative (a per-query `require`) costs an extra
    * driver action per round, and "give me up to k diverse results" is
    * the useful contract when corpus size per query is not known up
    * front. Callers needing exactly k rows should assert
    * `count == |queries| * k` on the result (one action, post-hoc).
    */
  def rerank(
      items: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      shortlist: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val itemVecs = items.select(col(idCol).as("_sid"), col(vecCol).as("_sv"))
    val cand = CheckpointPolicy.pin(
      Ann.bruteForceTopK(items, queries, idCol, vecCol, shortlist)
        .join(items.select(col(idCol).as("nid"), col(vecCol).as("nv")),
          Seq("nid")))

    def pickFrom(scored: DataFrame, scoreCol: Column, step: Int): DataFrame =
      scored.groupBy(col("qid"))
        .agg(max(struct(scoreCol.as("_s"), (-col("nid")).as("_negid"))).as("_m"))
        .select(col("qid"), (-col("_m._negid")).as("nid"),
          col("_m._s").as("mmr2"), lit(step).as("step"))

    def simToPick(pick: DataFrame): DataFrame = cand
      .join(pick.select(col("qid"), col("nid").as("_sid")), Seq("qid"))
      .join(itemVecs, Seq("_sid"))
      .select(col("qid"), col("nid"),
        Ann.quantizedDot(col("nv"), col("_sv")).as("_ns"))

    var sel = CheckpointPolicy.pin(pickFrom(cand, col("qdot"), 1))
    var best = CheckpointPolicy.pin(
      simToPick(sel).withColumnRenamed("_ns", "maxsim"))
    var r = 2
    while (r <= k) {
      val scored = cand.join(best, Seq("qid", "nid"))
        .join(sel.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        .select(col("qid"), col("nid"),
          (col("qdot") - col("maxsim")).as("_sc"))
      val pick = CheckpointPolicy.pin(pickFrom(scored, col("_sc"), r))
      sel = CheckpointPolicy.pin(sel.unionByName(pick))
      if (r < k) {
        best = CheckpointPolicy.pin(
          best.join(simToPick(pick), Seq("qid", "nid"))
            .select(col("qid"), col("nid"),
              greatest(col("maxsim"), col("_ns")).as("maxsim")))
      }
      r += 1
    }
    sel
  }
}
