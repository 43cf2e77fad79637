package graft.algorithms

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pregel.PregelResult

/** Driver-side min-label connected components for BATCH-BOUNDED merge
  * graphs — the lifecycle maintenance device.
  *
  * The incremental faces (graph append/delete-repair, dedup cluster
  * advance/repair) all end in CC over a graph bounded by the BATCH, not
  * the corpus: a label-merge graph of ≤ 2·batch nodes, or an affected
  * subgraph. The distributed star rounds are the right algorithm at
  * corpus scale, but on a 50-node merge graph their cost is pure
  * per-round JOB OVERHEAD — 4+ driver round-trips per round, ~10 rounds
  * — which dominates every batch's latency. A union-find over a
  * collected edge list is exact, deterministic (min-label), and
  * microseconds at batch scale; memory is bounded by the explicit edge
  * cap, and callers FALL BACK to the distributed path when the cap is
  * exceeded or an id column is non-integral (None), so nothing
  * corpus-sized ever lands on the driver and no caller-typed id is
  * coerced into a different label ordering.
  *
  * Output (id, component): one row per edge ENDPOINT, component = the
  * minimum id of its connected set — identical, row for row, to the
  * min-label distributed CC over the same edges (spec-pinned in
  * AlgorithmsSpec; isolated vertices are the caller's left-join
  * coalesce, exactly as with the distributed path).
  */
object UnionFind {

  def minLabel(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int = 100000): Option[DataFrame] =
    collectIntegral(edges, srcCol, dstCol, maxEdges).map { rows =>
      val uf = new Forest
      rows.foreach { case (a, b) => uf.union(a, b) }
      val labels = uf.parent.keys.toSeq.sorted.map(v => (v, uf.find(v)))
      val spark = edges.sparkSession
      import spark.implicits._
      labels.toDF("id", "component")
    }

  /** Driver-side SPANNING SUBSET of a batch-bounded edge list: the rows
    * (in ascending (src, dst) order) whose edge merged two distinct
    * sets — a spanning forest of the input graph, ≤ #vertices − 1 rows.
    * The replacement-edge certificate splice of
    * [[graft.sources.GraphIO]] uses it to re-witness reconnected forest
    * pieces without adding every crossing pair (which could bloat the
    * certificate quadratically). Same cap-and-decline contract as
    * [[minLabel]] (the scaffolding is shared, so the two faces cannot
    * diverge): None over `maxEdges` rows or on non-integral key
    * columns — callers fall back to distributed Borůvka. Deterministic:
    * the scan order is the sorted edge list. */
  def spanningPairs(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int = 100000): Option[DataFrame] =
    collectIntegral(edges, srcCol, dstCol, maxEdges).map { rows =>
      val uf = new Forest
      val chosen = rows.sorted.filter { case (a, b) => uf.union(a, b) }
      val spark = edges.sparkSession
      import spark.implicits._
      chosen.toSeq.toDF(srcCol, dstCol)
    }

  /** Driver-side MIN-LABEL REACHABILITY propagation for batch-bounded
    * DIRECTED graphs — the SCC inner-propagation device. Computes
    * state(v) = min id over {v} ∪ ancestors(v) (`forward = true`, labels
    * flow src→dst) or over {v} ∪ descendants(v) (`forward = false`).
    *
    * It runs the SAME synchronous rounds as the distributed
    * [[graft.pregel.Pregel]] min-propagation: round 1 sends from every
    * vertex, each later round only from the vertices whose label changed
    * in the previous one, and every round reads the labels as they were
    * when it began. So the labels, the round count (`iterations`, the
    * superstep count of the distributed run) and `converged` (false when
    * `maxRounds` rounds ended with a label still changing) all match the
    * distributed path; callers enforce one cap contract on both.
    *
    * Same cap-and-decline contract as [[minLabel]]: None over `maxEdges`
    * edges (or vertices) or on non-integral ids — callers fall back to
    * the distributed path, so nothing corpus-sized ever lands on the
    * driver.
    *
    * Output state (id, state): one row per row of `vertices` (which must
    * cover every edge endpoint — the SCC loop's residual contract),
    * sorted by id for determinism.
    */
  def minReach(
      vertices: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String, forward: Boolean, maxRounds: Int,
      maxEdges: Int = 100000): Option[PregelResult] = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    if (!integral(vertices.schema("id").dataType)) return None
    collectIntegral(edges, srcCol, dstCol, maxEdges).flatMap { es =>
      val vrows = vertices.select(col("id").cast("long"))
        .limit(maxEdges + 1).collect()
      if (vrows.length > maxEdges) None
      else {
        val vs = vrows.map(_.getLong(0)).sorted
        val label = mutable.Map.empty[Long, Long]
        vs.foreach(v => label(v) = v)
        val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
        es.foreach { case (s, d) =>
          val (from, to) = if (forward) (s, d) else (d, s)
          adj.getOrElseUpdate(from, mutable.ArrayBuffer.empty) += to
        }
        var frontier: Iterable[Long] = vs
        var rounds = 0
        var converged = false
        while (rounds < maxRounds && !converged) {
          val lowered = mutable.Map.empty[Long, Long]
          frontier.foreach { u =>
            val lu = label(u)
            adj.get(u).foreach(_.foreach { w =>
              if (lu < lowered.getOrElse(w, label(w))) lowered(w) = lu
            })
          }
          lowered.foreach { case (w, l) => label(w) = l }
          frontier = lowered.keys
          converged = lowered.isEmpty
          rounds += 1
        }
        val spark = vertices.sparkSession
        import spark.implicits._
        Some(PregelResult(
          vs.toSeq.map(v => (v, label(v))).toDF("id", graft.core.Columns.STATE),
          converged, rounds))
      }
    }
  }

  /** The shared cap-and-decline collect: Some(edge pairs) only when both
    * key columns are integral (a string id would cast to null — NPE at
    * getLong — and a NUMERIC string would get numeric min-label ordering
    * while the distributed path orders by the column's own type) AND the
    * row count fits the cap; None sends the caller to the distributed
    * fallback. */
  private def collectIntegral(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxEdges: Int): Option[Array[(Long, Long)]] = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val fields = edges.schema
    if (!integral(fields(srcCol).dataType) || !integral(fields(dstCol).dataType))
      return None
    val rows = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .limit(maxEdges + 1).collect()
    if (rows.length > maxEdges) None
    else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Min-root union-find with path compression — the representative is
    * always the set's minimum id, so labels match the distributed
    * min-label CC. */
  private final class Forest {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) {
        val n = parent.getOrElse(c, c); parent(c) = r; c = n
      }
      r
    }
    /** true iff the edge merged two distinct sets */
    def union(a: Long, b: Long): Boolean = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) false
      else {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
        true
      }
    }
  }
}
