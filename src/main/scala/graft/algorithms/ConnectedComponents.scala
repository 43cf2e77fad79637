package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel

/** Min-id label propagation via Pregel
  * (reference: algorithms/connected_components.py:18-36).
  *
  * On an undirected graph this computes connected components. On a directed
  * graph the reference only propagates src->dst (its docstring claims SCC,
  * which forward min-propagation is not); we keep the reference behavior.
  */
final case class ConnectedComponents(
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    saltBuckets: Int = 0) {
  import Columns._

  def run(g: Graph): DataFrame =
    Pregel(
      initialState = col(ID),
      aggExpr = min(col(MSG)),
      msgToSrc = if (g.directed) None else Some(col(STATE)),
      msgToDst = Some(col(STATE)),
      updateExpr = Some(least(col(MSG), col(STATE))),
      maxIterations = maxIterations,
      checkpoint = checkpoint,
      // min is self-decomposable so salting is VALID here; it is off by
      // default because Spark's hash aggregate already partial-combines
      // map-side (see Pregel.saltBuckets) and the extra exchange measured
      // ~6x per-superstep overhead at sf0.1. Turn on for extreme hubs
      // combined with very high map-task counts.
      saltBuckets = saltBuckets)
      .run(g)
      .select(col(ID), col(STATE).as(COMPONENT))
}

/** Alternating large-star/small-star connected components
  * (Kiveris et al., "Connected Components in MapReduce and Beyond";
  * reference: algorithms/connected_components.py:39-92).
  *
  * Converges in O(log^2 n) rounds and, unlike the Pregel variant, each round
  * is a bounded set of joins/windows over the *edge* list — this is the
  * scale path for huge graphs.
  *
  * Two hardening changes vs the reference:
  *  - per-round `localCheckpoint` (the reference's edge plan grows per round);
  *  - convergence is detected with a (count, xor-of-hashes) fingerprint of
  *    the edge set instead of `sum(dst)` alone (collision-prone, and a long
  *    sum overflows under ANSI mode; xor over a distinct set is exact,
  *    order-independent and constant-size).
  */
final case class AlternatingConnectedComponents(
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    requireConvergence: Boolean = false) {
  import Columns._

  private val MIN_NBR = "min_nbr"

  /** add reversed edges so src->dst and dst->src are both present */
  private def symmetricEdges(edges: DataFrame): DataFrame =
    edges.union(edges.select(col(DST).as(SRC), col(SRC).as(DST)))

  /** minimum over {src} ∪ neighbours(src), per src (connected_components.py:50-53) */
  private def minimumNeighbour(edges: DataFrame): DataFrame =
    edges.withColumn(MIN_NBR,
      least(col(SRC), min(col(DST)).over(Window.partitionBy(SRC))))

  /** connect the minimum neighbour to all neighbours > src */
  private def largeStar(edges: DataFrame): DataFrame = {
    val e = minimumNeighbour(symmetricEdges(edges))
    e.where(col(DST) > col(SRC))
      .select(col(DST).as(SRC), col(MIN_NBR).as(DST))
  }

  /** ensure src > dst for all edges */
  private def orientEdges(edges: DataFrame): DataFrame =
    edges.select(
      greatest(col(SRC), col(DST)).as(SRC),
      least(col(SRC), col(DST)).as(DST))

  /** connect the minimum neighbour to all neighbours <= src, incl. src */
  private def smallStar(edges: DataFrame): DataFrame = {
    val e = minimumNeighbour(orientEdges(edges))
    e.select(col(DST).as(SRC), col(MIN_NBR).as(DST))
      .union(e.select(col(SRC), col(MIN_NBR).as(DST)))
  }

  def run(g: Graph): DataFrame = {
    var edges = g.edges.select(col(SRC), col(DST))
    var prev: (Long, Long) = (-1L, 0L)
    var converged = false
    var i = 0
    while (i < maxIterations && !converged) {
      i += 1
      // the fingerprint is observed on the pinning pass itself
      val (pinned, fp) = checkpoint.pinObserved(smallStar(largeStar(edges)).distinct(),
        s"star cc round $i", count(lit(1)), bit_xor(xxhash64(col(SRC), col(DST))))
      edges = pinned
      val cur = (fp.getLong(0), if (fp.isNullAt(1)) 0L else fp.getLong(1))
      converged = cur == prev
      prev = cur
    }
    // Callers that consume the labels as *final* component ids (e.g. Boruvka's
    // contraction) must not receive a silently-unconverged labelling: the
    // star rounds only guarantee correct components at the fixpoint.
    if (requireConvergence && !converged)
      throw new IllegalStateException(
        s"AlternatingConnectedComponents: edge set still changing after " +
          s"$maxIterations rounds; raise maxIterations (bound is O(log^2 |V|))")
    edges.select(col(SRC).as(ID), col(DST).as(COMPONENT))
  }
}
