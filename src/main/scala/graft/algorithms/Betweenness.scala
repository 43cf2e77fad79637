package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Landmark (sampled) betweenness centrality — Brandes' dependency
  * accumulation (Brandes 2001, "A faster algorithm for betweenness
  * centrality") run from a fixed landmark set instead of every vertex,
  * the standard scale substitute (Bader et al. 2007 style sampling):
  * exact betweenness is O(V·E) and unrunnable at 100 TB, while the
  * landmark sum converges to a scaled estimate as the sample grows.
  *
  * Per landmark l the forward sweep is an unweighted BFS that also
  * counts shortest paths: level k+1 holds σ_l(v) = Σ σ_l(u) over
  * level-k in-neighbors u (one keyed join + one map-side-combinable sum
  * per level — the [[BreadthFirstSearch.distances]] shape with an extra
  * aggregate). The backward sweep replays the levels deepest-first:
  * δ_l(u) = Σ_{w: successor} σ_l(u)/σ_l(w) · (1 + δ_l(w)), again one
  * join + one sum per level. Output bc(v) = Σ_l δ_l(v) — the raw
  * directional dependency sum (on an undirected graph full-Brandes
  * betweenness is this sum over ALL vertices as landmarks; divide by 2
  * for the unordered-pair convention, or rescale by |V|/|L| for the
  * sampled estimate).
  *
  * All σ are exact integers (ANSI mode: a path-count overflow past i64
  * throws loudly rather than corrupting); δ is double arithmetic with
  * a fixed join/sum shape that a SQL oracle replays level by level.
  *
  * Scale shape: state is one (landmark, vertex) keyed row per reached
  * pair per level — |L|·|V| at worst — and every step is an equi-join
  * plus a combinable aggregation; no windows, no per-vertex reducers,
  * frontiers pinned per level exactly as the other iterative operators.
  */
object Betweenness {
  import Columns._

  /** Output (id, bc): the summed Brandes dependency of every vertex
    * reached at depth >= 1 from any landmark (landmarks score from the
    * OTHER landmarks' sweeps only — δ_l(l) is excluded, as in Brandes).
    * Vertices reached by no landmark are omitted. */
  def landmark(
      g: Graph, landmarks: Seq[Long], maxDepth: Int = 8): DataFrame = {
    require(landmarks.nonEmpty, "need at least one landmark")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val edges = CheckpointPolicy.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(col(SRC), col(DST)).distinct())

    // ---- forward: per-level (landmark, id, sigma) ----------------------
    var frontier = CheckpointPolicy.pin(
      landmarks.toDF("landmark")
        .select(col("landmark"), col("landmark").as(ID), lit(1L).as("sigma")))
    var visited = frontier.select(col("landmark"), col(ID))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 0
    var exhausted = false
    while (depth < maxDepth && !exhausted) {
      depth += 1
      val nxt = CheckpointPolicy.pin(
        frontier.join(edges, frontier(ID) === edges(SRC))
          .select(col("landmark"), edges(DST).as(ID), col("sigma"))
          .groupBy(col("landmark"), col(ID))
          .agg(sum(col("sigma")).as("sigma"))
          .join(visited, Seq("landmark", ID), "left_anti"))
      if (nxt.isEmpty) exhausted = true
      else {
        levels += nxt
        visited = CheckpointPolicy.pin(
          visited.unionByName(nxt.select(col("landmark"), col(ID))))
        frontier = nxt
      }
    }

    // ---- backward: δ per level, deepest first --------------------------
    // lower = (landmark, id, sigma, delta) of level k+1
    var lower = CheckpointPolicy.pin(levels.last.withColumn("delta", lit(0.0)))
    val deps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (levels.size - 1 >= 1) deps += lower.select(col("landmark"), col(ID), col("delta"))
    var k = levels.size - 2
    while (k >= 0) {
      val u = levels(k).select(
        col("landmark"), col(ID).as("_u"), col("sigma").as("_su"))
      val w = lower.select(
        col("landmark").as("_lw"), col(ID).as("_w"),
        col("sigma").as("_sw"), col("delta").as("_dw"))
      val dep = u.join(edges, col("_u") === col(SRC))
        .join(w, col("landmark") === col("_lw") && col(DST) === col("_w"))
        .groupBy(col("landmark"), col("_u"))
        .agg(sum(col("_su").cast("double") / col("_sw") * (lit(1.0) + col("_dw")))
          .as("_dep"))
      val cur = CheckpointPolicy.pin(
        levels(k)
          .join(dep.select(col("landmark"), col("_u").as(ID), col("_dep")),
            Seq("landmark", ID), "left")
          .select(col("landmark"), col(ID), col("sigma"),
            coalesce(col("_dep"), lit(0.0)).as("delta")))
      if (k >= 1) deps += cur.select(col("landmark"), col(ID), col("delta"))
      lower = cur
      k -= 1
    }

    if (deps.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as(ID), lit(0.0).as("bc")).limit(0)
    deps.reduce(_.unionByName(_))
      .groupBy(col(ID))
      .agg(sum(col("delta")).as("bc"))
  }
}
