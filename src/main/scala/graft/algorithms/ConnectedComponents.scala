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
    maxIterations: Int = 10) {
  import Columns._

  def run(g: Graph): DataFrame =
    Pregel(
      initialState = col(ID),
      aggExpr = min(col(MSG)),
      msgToSrc = if (g.directed) None else Some(col(STATE)),
      msgToDst = Some(col(STATE)),
      updateExpr = Some(least(col(MSG), col(STATE))),
      maxIterations = maxIterations)
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
  *  - per-round pin (the reference's edge plan grows per round);
  *  - convergence is detected with a (count, xor-of-hashes) fingerprint of
  *    the edge set instead of `sum(dst)` alone (collision-prone, and a long
  *    sum overflows under ANSI mode; xor over a distinct set is exact,
  *    order-independent and constant-size).
  *
  * The labels are exact or the run throws: when `maxIterations` rounds
  * end with the edge set still changing, an IllegalStateException names
  * the cap. `requireConvergence = false` returns the truncated labels
  * instead, for callers that want a partial labelling on purpose.
  */
final case class AlternatingConnectedComponents(
    maxIterations: Int = 10,
    requireConvergence: Boolean = true) {
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

  def run(g: Graph): DataFrame = runEdges(g.edges)

  /** The star rounds read only the (src, dst) columns of the edges. */
  private def runEdges(input: DataFrame): DataFrame = {
    var edges = input.select(col(SRC), col(DST))
    var prev: (Long, Long) = (-1L, 0L)
    var converged = false
    var i = 0
    while (i < maxIterations && !converged) {
      i += 1
      // the fingerprint is observed on the pinning pass itself
      val (pinned, fp) = CheckpointPolicy.pinObserved(smallStar(largeStar(edges)).distinct(),
        s"star cc round $i")(count(lit(1)), bit_xor(xxhash64(col(SRC), col(DST))))
      edges = pinned
      val cur = (fp.getLong(0), if (fp.isNullAt(1)) 0L else fp.getLong(1))
      converged = cur == prev
      prev = cur
    }
    // the star rounds only guarantee correct components at the fixpoint
    if (requireConvergence && !converged)
      throw new IllegalStateException(
        s"AlternatingConnectedComponents: edge set still changing after " +
          s"$maxIterations rounds; raise maxIterations (bound is O(log^2 |V|))")
    edges.select(col(SRC).as(ID), col(DST).as(COMPONENT))
  }
}

object AlternatingConnectedComponents {
  import Columns._

  /** Exact min-label WEAK components of an edge list: `(id, component)`
    * for the endpoints of `edges`, component = the least id of the
    * endpoint's connected set (edge direction ignored). Vertices that no
    * edge touches are absent, and so may be vertices whose only edge is
    * a self-loop: callers left-join their vertex set and coalesce a
    * missing component to the vertex's own id.
    *
    * The one place that chooses between two paths with the same labels:
    *  - the driver ([[UnionFind.minLabel]]) when both id columns are
    *    integral and there are at most [[UnionFind.DriverCap]] edges.
    *    The callers' graphs are usually small (a batch's label-merge
    *    graph, the subgraph a delete touched, a Borůvka contraction, a
    *    near-duplicate pair graph), and there the star rounds cost job
    *    overhead per round, not data — the per-superstep overhead
    *    GraphX (OSDI 2014) weighs against communication. Its probe
    *    `collect` is described `min-label cc driver probe`;
    *  - otherwise the star rounds over `edges.select(src, dst)` alone,
    *    described `star cc round i`.
    *
    * Both are exact or fail: the driver always reaches the fixpoint,
    * and the star rounds throw an IllegalStateException when 20 rounds
    * (O(log² |V|)) end with the edge set still changing. */
  def minLabels(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    CheckpointPolicy.described(edges, "min-label cc driver probe")(
      UnionFind.minLabel(edges, srcCol, dstCol))
      .getOrElse(AlternatingConnectedComponents(20)
        .runEdges(edges.select(col(srcCol).as(SRC), col(dstCol).as(DST))))
}
