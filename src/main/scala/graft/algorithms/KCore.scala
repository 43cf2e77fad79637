package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}

/** k-core decomposition by iterative peeling — the standard
  * subgraph-density primitive (community cores, spam/fraud filtering,
  * graph sparsification before expensive analytics). The k-core is the
  * maximal subgraph in which every vertex has degree >= k; peeling
  * repeatedly deletes vertices of degree < k (each deletion can expose
  * new ones) until a fixpoint.
  *
  * Scale shape: each round is one combinable degree aggregation + two
  * semi-joins keyed on the endpoints — no windows, no per-vertex
  * reducer. The edge set only shrinks, so round cost is monotonically
  * non-increasing; frames are checkpointed per round (lineage O(1) in
  * round count). Convergence is checked by the edge count, a scalar the
  * round computes anyway. Real graphs converge in a handful of rounds
  * (each round removes a whole "shell layer", not one vertex).
  */
object KCore {
  import Columns._

  /** Vertices of the k-core with their core degrees: (id, degree).
    * Works on the canonicalized undirected simple graph (self-loops
    * dropped, edges deduped). Returns empty when the k-core is empty. */
  def run(g: Graph, k: Int,
      maxIterations: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var edges = CheckpointPolicy.pin(GraphUtil.orderEdges(g.edges))
    var nEdges = edges.count()
    var i = 0
    var done = nEdges == 0L
    while (!done && i < maxIterations) {
      val deg = degreesOf(edges)
      val keep = deg.filter(col(DEGREE) >= k).select(col(ID))
      val pruned = CheckpointPolicy.pin(edges
        .join(keep.withColumnRenamed(ID, SRC), Seq(SRC), "left_semi")
        .join(keep.withColumnRenamed(ID, DST), Seq(DST), "left_semi"))
      val n = pruned.count()
      done = n == nEdges
      nEdges = n
      edges = pruned
      i += 1
    }
    // surviving vertices still below k (possible only if maxIterations
    // hit before the fixpoint) are NOT filtered here: reaching the cap
    // without converging fails loudly instead of mislabeling
    require(done || nEdges == 0L,
      s"k-core peeling did not converge within $maxIterations rounds")
    degreesOf(edges)
  }

  private def degreesOf(edges: DataFrame): DataFrame =
    edges.select(col(SRC).as(ID))
      .unionAll(edges.select(col(DST).as(ID)))
      .groupBy(col(ID)).agg(count(lit(1)).as(DEGREE))
}
