package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns}

/** Borůvka minimum spanning forest — the MST algorithm that is natively
  * data-parallel: every round EVERY component picks its lightest outgoing
  * edge simultaneously (one combinable min-struct aggregation), the
  * picked edges merge components (connected components over a
  * #components-sized merge graph), and the component count at least
  * halves, so the loop is bounded by log₂(V) rounds. Prim/Kruskal are
  * inherently sequential (one edge at a time through a priority queue /
  * sorted stream) — on a cluster Borůvka is the only one of the three
  * whose per-round work is a keyed join + aggregation over distributed
  * edges.
  *
  * Determinism: the per-component pick orders candidates by the total key
  * (weight, src, dst), so the forest is a pure function of the input even
  * when the MSF is not unique; contraction labels are min-component-ids
  * (the [[AlternatingConnectedComponents]] contract), so another engine
  * replays every round bit for bit.
  *
  * Scale shape: the edge relabel is two keyed joins against the component
  * map (both sides id-keyed — co-partitioned under AQE), the pick is one
  * map-side-combinable min per component, and the merge graph the
  * contraction CC runs on shrinks with the component count, not the edge
  * count — after round 1 it is tiny relative to E. Per-round state is
  * checkpoint-pinned, so lineage stays flat over the ≤ log₂(V) rounds.
  */
case class Boruvka(
    maxRounds: Int = 8) {
  import Columns._

  /** @param edges undirected weighted rows (`src`, `dst`, `weightCol`);
    *              reciprocal duplicates and parallel edges collapse to the
    *              canonical pair with the min weight, self-loops drop, and
    *              a NULL weight fails loudly.
    * @return forest rows (src, dst, weightCol, round) — the MSF, tagged
    *         with the round each edge was adopted.
    */
  def run(edges: DataFrame, weightCol: String = "weight"): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val guarded = when(col(weightCol).isNull,
      raise_error(lit(s"Boruvka: weight column '$weightCol' must be non-null")))
      .otherwise(col(weightCol))
    val canon = CheckpointPolicy.pin(edges
      .select(
        least(col(SRC), col(DST)).as(SRC),
        greatest(col(SRC), col(DST)).as(DST),
        guarded.as(weightCol))
      .filter(col(SRC) =!= col(DST))
      .groupBy(col(SRC), col(DST)).agg(min(col(weightCol)).as(weightCol)))

    var comp = CheckpointPolicy.pin(
      canon.select(col(SRC).as(ID)).union(canon.select(col(DST).as(ID)))
        .distinct()
        .select(col(ID), col(ID).as(COMPONENT)))

    var forest: DataFrame =
      canon.limit(0).withColumn("round", lit(0))
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val (live, liveCount) = CheckpointPolicy.pinObserved(
        canon
          .join(comp.select(col(ID).as(SRC), col(COMPONENT).as("_ca")), SRC)
          .join(comp.select(col(ID).as(DST), col(COMPONENT).as("_cb")), DST)
          .filter(col("_ca") =!= col("_cb")),
        s"boruvka round $round")(count(lit(1)))
      if (liveCount.getLong(0) == 0) done = true
      else {
        val cand = struct(
          col(weightCol), col(SRC), col(DST), col("_ca"), col("_cb")).as("_cand")
        val both = live.select(col("_ca").as("_c"), cand)
          .unionAll(live.select(col("_cb").as("_c"), cand))
        val sel = CheckpointPolicy.pin(both
          .groupBy(col("_c")).agg(min(col("_cand")).as("_m"))
          .select(
            col(s"_m.$SRC").as(SRC), col(s"_m.$DST").as(DST),
            col(s"_m.$weightCol").as(weightCol),
            col("_m._ca").as("_ca"), col("_m._cb").as("_cb"))
          .distinct())
        forest = forest.unionAll(
          sel.select(col(SRC), col(DST), col(weightCol))
            .withColumn("round", lit(round)))
        // the contraction consumes the labels as final component ids:
        // unconverged labels would silently corrupt the forest
        val cc = AlternatingConnectedComponents.minLabels(sel, "_ca", "_cb")
          .select(col(ID).as("_oc"), col(COMPONENT).as("_nc"))
        comp = CheckpointPolicy.pin(
          comp.join(cc, col(COMPONENT) === col("_oc"), "left")
            .select(col(ID),
              coalesce(col("_nc"), col(COMPONENT)).as(COMPONENT)))
      }
    }
    require(done, s"Boruvka: components still merging after $maxRounds " +
      "rounds; raise maxRounds (the bound is log2(|V|))")
    CheckpointPolicy.pin(forest)
  }
}
