package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Jones–Plassmann greedy graph coloring: every vertex gets a fixed
  * deterministic priority (48-bit sha256 prefix of its id, id
  * tie-break); each round the uncolored vertices that are local
  * priority maxima among their uncolored neighbours simultaneously take
  * the smallest color unused by their already-colored neighbours. Local
  * maxima are independent, so the round is conflict-free by
  * construction, and every round colors at least the current maximum —
  * rounds are bounded by the longest priority-decreasing path
  * (O(log n / log log n) expected under random priorities).
  *
  * Colorings order scheduling everywhere two neighbours cannot act at
  * once: parallel sweeps over a dependency graph, register/shift
  * assignment, conflict-free task batches over a 100 TB partition
  * graph.
  *
  * Scale shape: per round — one keyed self-join of the uncolored set
  * against the symmetric edges (loser detection), one anti-join, one
  * colored-neighbour join + combinable collect_set, and a codegen'd
  * mex over a set bounded by the vertex's colored degree. State is one
  * (id, priority, color) row per vertex, checkpoint-pinned. Loud
  * failure at the round cap.
  */
/** @param roundListener ops hook called as (round, uncoloredBefore)
  *        when a round starts — progress visibility for long colorings
  *        (the [[graft.pregel.Pregel.superstepListener]] pattern). */
case class GraphColoring(
    maxRounds: Int = 30,
    roundListener: Option[(Int, Long) => Unit] = None) {
  import Columns._

  /** Rounds the last [[run]] actually colored in (excludes the final
    * empty-set observation round) — the dev face that sizes an unrolled
    * oracle replay. */
  @volatile var lastRounds: Int = 0

  /** Shared convergence probe for both coloring loops: with no listener
    * installed, a limit-1 scan (isEmpty) replaces the full per-round
    * count() — one cheap job per round instead of a complete pass over
    * the state (VERDICT r8); the exact uncolored count is only computed
    * when someone is watching. */
  private def uncoloredDrained(unc: DataFrame, round: Int): Boolean =
    roundListener match {
      case Some(listen) =>
        val nUnc = unc.count(); listen(round, nUnc); nUnc == 0L
      case None => unc.isEmpty
    }

  /** @return (id, color) with colors 0..; adjacent vertices always
    *         differ (spec-pinned); isolated vertices take color 0. */
  def run(g: Graph): DataFrame = {
    val sym = CheckpointPolicy.pin(
      (if (g.directed) g.edges.select(col(SRC), col(DST))
        .unionAll(g.edges.select(col(DST).as(SRC), col(SRC).as(DST)))
      else g.symmetricEdges.select(col(SRC), col(DST)))
        .filter(col(SRC) =!= col(DST)).distinct())
    val prio = graft.sketch.Kmv.portableHash(col(ID))
    var state = CheckpointPolicy.pin(g.vertices
      .select(col(ID), prio.as("_p"), lit(null).cast("int").as("_color")))

    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val unc = state.filter(col("_color").isNull)
      if (uncoloredDrained(unc, round)) done = true
      else {
        val uv = unc.select(col(ID), col("_p"))
        val losers = uv.select(col(ID).as(SRC), col("_p").as("_pa"))
          .join(sym, Seq(SRC))
          .join(uv.select(col(ID).as(DST), col("_p").as("_pb")), Seq(DST))
          .filter(struct(col("_pb"), col(DST)) > struct(col("_pa"), col(SRC)))
          .select(col(SRC).as(ID)).distinct()
        val winners = uv.join(losers, Seq(ID), "left_anti")
        val nbrColors = winners.select(col(ID).as(SRC))
          .join(sym, Seq(SRC))
          .join(state.filter(col("_color").isNotNull)
            .select(col(ID).as(DST), col("_color")), Seq(DST))
          .groupBy(col(SRC).as(ID))
          .agg(collect_set(col("_color")).as("_used"))
        val colored = winners.join(nbrColors, Seq(ID), "left")
          .select(col(ID),
            array_min(filter(
              sequence(lit(0), coalesce(size(col("_used")), lit(0))),
              k => !array_contains(coalesce(col("_used"),
                array().cast("array<int>")), k))).as("_new"))
        state = CheckpointPolicy.pin(
          state.join(colored, Seq(ID), "left")
            .select(col(ID), col("_p"),
              coalesce(col("_color"), col("_new")).as("_color")))
      }
    }
    require(done, s"GraphColoring: uncolored vertices remain after " +
      s"$maxRounds rounds; raise maxRounds")
    lastRounds = round - 1
    state.select(col(ID), col("_color").as("color"))
  }

  /** Speculative (optimistic) coloring — the dense-graph scale path.
    * Jones–Plassmann colors only local priority maxima per round, which
    * stalls on hub-heavy graphs (a hub cannot act until every
    * higher-priority neighbour is colored — the probe measured ~2% of
    * the orders graph draining per round). Here EVERY uncolored vertex
    * proposes the mex of its already-colored neighbours each round;
    * when two uncolored neighbours propose the same color the higher
    * (priority, id) endpoint keeps it and the other retries next round.
    * A local maximum always keeps its proposal, so progress is
    * guaranteed, and because the whole frontier acts at once the drain
    * is a constant fraction per round — O(log n) rounds regardless of
    * density. Same determinism contract as [[run]]; may use more colors
    * than strict JP (speculation is not sequential-greedy-equivalent).
    */
  def runSpeculative(g: Graph): DataFrame = {
    val sym = CheckpointPolicy.pin(
      (if (g.directed) g.edges.select(col(SRC), col(DST))
        .unionAll(g.edges.select(col(DST).as(SRC), col(SRC).as(DST)))
      else g.symmetricEdges.select(col(SRC), col(DST)))
        .filter(col(SRC) =!= col(DST)).distinct())
    val prio = graft.sketch.Kmv.portableHash(col(ID))
    var state = CheckpointPolicy.pin(g.vertices
      .select(col(ID), prio.as("_p"), lit(null).cast("int").as("_color")))

    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val unc = state.filter(col("_color").isNull)
      if (uncoloredDrained(unc, round)) done = true
      else {
        val nbrColors = unc.select(col(ID).as(SRC))
          .join(sym, Seq(SRC))
          .join(state.filter(col("_color").isNotNull)
            .select(col(ID).as(DST), col("_color")), Seq(DST))
          .groupBy(col(SRC).as(ID))
          .agg(collect_set(col("_color")).as("_used"))
        // pinned: the mex plan (collect_set join + lambda) feeds BOTH
        // sides of the conflict self-join and the winner set — without
        // the pin it would execute three times per round
        val proposals = CheckpointPolicy.pin(unc.select(col(ID), col("_p"))
          .join(nbrColors, Seq(ID), "left")
          .select(col(ID), col("_p"),
            array_min(filter(
              sequence(lit(0), coalesce(size(col("_used")), lit(0))),
              k => !array_contains(coalesce(col("_used"),
                array().cast("array<int>")), k))).as("_cand")))
        val losers = proposals
          .select(col(ID).as(SRC), col("_p").as("_pa"), col("_cand"))
          .join(sym, Seq(SRC))
          .join(proposals.select(col(ID).as(DST), col("_p").as("_pb"),
            col("_cand").as("_cb")), Seq(DST))
          .filter(col("_cand") === col("_cb") &&
            struct(col("_pb"), col(DST)) > struct(col("_pa"), col(SRC)))
          .select(col(SRC).as(ID)).distinct()
        val colored = proposals.join(losers, Seq(ID), "left_anti")
          .select(col(ID), col("_cand"))
        state = CheckpointPolicy.pin(
          state.join(colored, Seq(ID), "left")
            .select(col(ID), col("_p"),
              coalesce(col("_color"), col("_cand")).as("_color")))
      }
    }
    require(done, s"GraphColoring: uncolored vertices remain after " +
      s"$maxRounds speculative rounds; raise maxRounds")
    lastRounds = round - 1
    state.select(col(ID), col("_color").as("color"))
  }
}
