package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Harmonic closeness centrality from a landmark set.
  *
  * Exact all-pairs closeness is O(V·E) and unrunnable at 100 TB; the
  * standard scale substitute (Eppstein–Wang style) measures centrality
  * against a fixed landmark sample: H(v) = Σ_{l ∈ L, v≠l, reachable}
  * 1/d(v, l). The BFS itself is [[ShortestPaths]]'s relational
  * join+min-aggregate — one shuffle per round, skew-splittable by AQE —
  * so the only new work here is the final per-vertex fold.
  *
  * Determinism: 1/d sums are float-order-sensitive, so the score is the
  * exact integer Σ (scale div d) with scale = lcm(1..24) = 5,354,228,880
  * — exact for every hop distance ≤ 24 (floor beyond that, documented),
  * and the sum of |L| such terms stays far under 2^63 for any landmark
  * set smaller than ~1.7e9. Bit-identical across engines, partitionings
  * and retries.
  */
object Closeness {

  /** lcm(1..24): `HarmonicScale div d` is exactly `scale/d` for d ≤ 24. */
  val HarmonicScale: Long = 5354228880L

  /** Output (id, n_reached, h_scaled): per vertex, the number of
    * landmarks at positive finite distance and the scaled harmonic sum
    * Σ (scale div d). Vertices reaching no landmark are omitted.
    */
  def harmonic(
      g: Graph, landmarks: Seq[Long], maxIterations: Int = 15,
      scale: Long = HarmonicScale): DataFrame = {
    import Columns._
    ShortestPaths(landmarks, maxIterations).run(g)
      .select(col(ID), explode(col("distances")).as(Seq("landmark", "dist")))
      .filter(col("dist") > 0)
      .groupBy(col(ID))
      .agg(
        count(lit(1)).as("n_reached"),
        sum(expr(s"$scale div dist")).as("h_scaled"))
  }
}
