package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel

/** Strongly connected components of a directed graph.
  *
  * The reference's ConnectedComponents docstring claims SCC for directed
  * graphs but implements only forward min-propagation
  * (connected_components.py:18-36 — SURVEY.md §2 A11); this is the real
  * thing, via iterated forward/backward min-label intersection
  * (FW-BW-MIN): with fwd(v) = min id over {v} ∪ ancestors(v) and
  * bwd(v) = min id over {v} ∪ descendants(v), a vertex v satisfies
  * fwd(v) = bwd(v) = m exactly when m reaches v and v reaches m — i.e. v
  * is in m's SCC. Each outer round resolves every SCC that is the
  * minimum of its own reachability closure (at least the one containing
  * the globally smallest id, usually many), freezes them, and recurses on
  * the residual graph.
  *
  * Correctness requires each min-propagation to reach its FIXED POINT: a
  * truncated propagation can leave two vertices of one SCC with different
  * labels that both pass the fwd=bwd test, silently splitting the
  * component. The inner Pregel therefore runs to convergence;
  * `propagationIterations` is a safety valve that FAILS LOUDLY when hit
  * (graphs with reachability depth beyond it), never a semantics knob.
  *
  * Cost: each round is two Pregel min-propagations over the shrinking
  * residual edge set; outer rounds are bounded by the "SCC level depth",
  * not the SCC count. All data movement is per-round joins/aggregations —
  * nothing driver-side but the convergence scalars.
  */
final case class StronglyConnectedComponents(
    maxIterations: Int = 10,
    propagationIterations: Int = 1000,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    saltBuckets: Int = 0) {
  import Columns._

  private def minReach(vertices: DataFrame, edges: DataFrame, forward: Boolean): DataFrame = {
    // batch-bounded driver fast path (the UnionFind cap-and-decline
    // device): on a small residual graph the distributed propagation is
    // pure per-superstep job overhead (g22 measured 526 jobs for a
    // 30-vertex graph). The driver runs the same synchronous rounds, so
    // labels, superstep count and the cap below agree on both paths;
    // over the cap the Pregel path runs.
    val res = UnionFind.minReach(vertices, edges, SRC, DST, forward, propagationIterations)
      .getOrElse(Pregel(
        initialState = col(ID),
        aggExpr = min(col(MSG)),
        msgToSrc = if (forward) None else Some(col(STATE)),
        msgToDst = if (forward) Some(col(STATE)) else None,
        updateExpr = Some(least(col(MSG), col(STATE))),
        maxIterations = propagationIterations,
        checkpoint = checkpoint,
        // min is self-decomposable — hub-salted two-level aggregation
        saltBuckets = saltBuckets)
        .runWithStatus(Graph(vertices, edges, directed = true)))
    if (!res.converged)
      throw new IllegalStateException(
        s"SCC min-label propagation did not reach a fixed point within " +
          s"propagationIterations=$propagationIterations supersteps; raise the " +
          "cap (graph reachability depth exceeds it) — truncated labels would " +
          "silently split components")
    res.state.select(col(ID), col(STATE))
  }

  def run(g: Graph): DataFrame = {
    require(g.directed, "SCC is defined for directed graphs; use ConnectedComponents for undirected")
    val (v0, n) = checkpoint.pinObserved(g.vertices.select(col(ID)), "scc vertices", count(lit(1)))
    var vertices = v0
    var remaining = n.getLong(0)
    // edge_id column is irrelevant here; keep endpoints only
    var edges = checkpoint.pin(g.edges.select(col(SRC), col(DST)))
    var result: Option[DataFrame] = None
    var i = 0
    while (i < maxIterations && remaining > 0) {
      // the two propagations are INDEPENDENT (each reads only the pinned
      // vertices/edges), so issue them as concurrent Spark job streams:
      // a single propagation's supersteps are latency-bound driver
      // round-trips over small per-superstep jobs that rarely saturate
      // the executors — interleaving fwd and bwd fills that slack.
      // Results are unchanged: each propagation is deterministic and
      // shares nothing mutable (Spark actions are thread-safe).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fwdF = Future(minReach(vertices, edges, forward = true))
      val bwdF = Future(minReach(vertices, edges, forward = false))
      val fwd = Await.result(fwdF, Duration.Inf).withColumnRenamed(STATE, "_fwd")
      val bwd = Await.result(bwdF, Duration.Inf).withColumnRenamed(STATE, "_bwd")
      i += 1
      // one pin holds both the resolved and the residual vertices; it
      // observes how many remain unresolved
      val (labelled, residual) = checkpoint.pinObserved(fwd.join(bwd, Seq(ID)),
        s"scc round $i", count(when(col("_fwd") =!= col("_bwd"), lit(1))))
      remaining = residual.getLong(0)
      val resolved = labelled.filter(col("_fwd") === col("_bwd"))
        .select(col(ID), col("_fwd").as(COMPONENT))
      result = Some(result.fold(resolved)(_.unionByName(resolved)))
      vertices = labelled.filter(col("_fwd") =!= col("_bwd")).select(col(ID))
      edges = checkpoint.pin(edges
        .join(vertices.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
        .join(vertices.select(col(ID).as(DST)), Seq(DST), "left_semi"))
    }
    // outer cap reached with unresolved vertices: label each as its own
    // singleton (conservative refinement, like the reference's iteration caps)
    val rest = vertices.select(col(ID), col(ID).as(COMPONENT))
    result.fold(rest)(_.unionByName(rest))
  }
}
