package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}

/** k-truss decomposition by iterative edge peeling — the edge-support
  * analog of [[KCore]] (ref: pyspark_graph's density toolkit exposes
  * triangle counts; the truss is the standard next step for cohesive
  * community extraction and spam-edge pruning). The k-truss is the
  * maximal subgraph in which every EDGE closes at least k-2 triangles;
  * peeling repeatedly deletes under-supported edges (each deletion can
  * drop neighbors' supports) until a fixpoint.
  *
  * Scale shape: each round is one wedge self-join keyed on the shared
  * endpoint + one closing-edge equi-join (the q08 triangle-listing plan,
  * never a cartesian), then a map-side-combinable support aggregation
  * and a two-column left-semi prune. The edge set only shrinks, so round
  * cost is monotonically non-increasing, and frames are checkpointed per
  * round (lineage O(1) in round count).
  *
  * Wedges are enumerated with DEGREE-ORDERED orientation (each edge
  * points from its (degree, id)-smaller endpoint; every triangle is
  * found once, at its orientation-minimal vertex) — the same device as
  * [[TriangleCount]], bounding the wedge join at Σ d⁺(v)² = O(E^1.5)
  * where id-ordered enumeration is unbounded on dense graphs. On the
  * 10x-replicated orders graph (1.2M edges, avg degree ~160) the
  * orientation cuts the per-round wedge join from 3.4 BILLION rows to
  * 50M — the difference between an unrunnable round and a ~minute one.
  */
object KTruss {
  import Columns._

  /** Edges of the k-truss with their in-truss supports:
    * (src, dst, support). Works on the canonicalized undirected simple
    * graph (self-loops dropped, edges deduped, src < dst). Returns empty
    * when the k-truss is empty.
    *
    * Peeling is INCREMENTAL after the first full support pass: a round
    * that drops edge set D only re-counts the triangles destroyed by D
    * (enumerated from each dropped edge's smaller-degree endpoint —
    * |D| x min-degree work, not a fresh O(E^1.5) wedge join) and
    * decrements the surviving edges of those triangles. When D is a
    * large fraction of the survivors (early rounds of an aggressive
    * peel) a full re-count over the smaller survivor set is cheaper
    * than enumerating D's triangles, so the round falls back to
    * [[supports]] — the crossover is drop > 1/4 of the survivors.
    * Convergence returns the round's ALREADY-COMPUTED support frame;
    * nothing is recomputed after the fixpoint. */
  def run(g: Graph, k: Int,
      maxIterations: Int = 100): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangles per edge), got $k")
    var edges = CheckpointPolicy.pin(GraphUtil.orderEdges(g.edges).select(col(SRC), col(DST)))
    var nEdges = edges.count()
    if (nEdges == 0L) return supports(edges)
    var sup = CheckpointPolicy.pin(supports(edges))
    var result: DataFrame = null
    var i = 0
    while (result == null && i < maxIterations) {
      // the filtered support frame IS next round's edge set AND the
      // final answer on convergence — pin it once, reuse for both
      val keep = CheckpointPolicy.pin(sup.filter(col("support") >= k - 2))
      val nKeep = keep.count()
      if (nKeep == nEdges || nKeep == 0L) result = keep
      else {
        val keepEdges = keep.select(col(SRC), col(DST))
        sup = CheckpointPolicy.pin(
          if ((nEdges - nKeep) * 4L > nKeep) supports(keepEdges)
          else decrementedSupports(
            keep, edges.join(keepEdges, Seq(SRC, DST), "left_anti"), edges))
        edges = keepEdges
        nEdges = nKeep
        i += 1
      }
    }
    require(result != null,
      s"k-truss peeling did not converge within $maxIterations rounds")
    result
  }

  /** Supports of the surviving edges after dropping `dropped` from
    * `oldEdges`, maintained incrementally: every triangle of `oldEdges`
    * containing at least one dropped edge is destroyed, and each of its
    * SURVIVING edges loses exactly one support. Destroyed triangles are
    * enumerated per dropped edge from its smaller-(degree, id) endpoint
    * (the standard edge-triangle-listing bound: |D| x min-degree rows,
    * instead of hub-degree), deduplicated as sorted vertex triples
    * (a triangle with 2-3 dropped edges is found once per dropped edge),
    * and the decrement is one map-side-combinable count per edge.
    * `keep` is the (src, dst, support) frame of surviving edges with
    * their OLD supports. */
  private def decrementedSupports(
      keep: DataFrame, dropped: DataFrame, oldEdges: DataFrame): DataFrame = {
    val deg = oldEdges.select(col(SRC).as(ID))
      .unionAll(oldEdges.select(col(DST).as(ID)))
      .groupBy(col(ID)).agg(count(lit(1)).as("_deg"))
    val srcFirst = struct(col("_ds"), col(SRC)) < struct(col("_dd"), col(DST))
    val probes = dropped
      .join(deg.select(col(ID).as(SRC), col("_deg").as("_ds")), Seq(SRC))
      .join(deg.select(col(ID).as(DST), col("_deg").as("_dd")), Seq(DST))
      .select(
        when(srcFirst, col(SRC)).otherwise(col(DST)).as("_p"),
        when(srcFirst, col(DST)).otherwise(col(SRC)).as("_o"))
    val adj = oldEdges.select(col(SRC).as("_p"), col(DST).as("_w"))
      .unionAll(oldEdges.select(col(DST).as("_p"), col(SRC).as("_w")))
    val destroyed = probes.join(adj, Seq("_p"))
      .filter(col("_w") =!= col("_o"))
      .join(oldEdges.select(col(SRC).as("_cs"), col(DST).as("_cd")),
        least(col("_o"), col("_w")) === col("_cs") &&
          greatest(col("_o"), col("_w")) === col("_cd"), "left_semi")
      .select(array_sort(array(col("_p"), col("_o"), col("_w"))).as("_t"))
      .distinct()
    val dec = destroyed
      .select(explode(array(
        struct(col("_t").getItem(0).as(SRC), col("_t").getItem(1).as(DST)),
        struct(col("_t").getItem(0).as(SRC), col("_t").getItem(2).as(DST)),
        struct(col("_t").getItem(1).as(SRC), col("_t").getItem(2).as(DST)))).as("_e"))
      .select(col("_e").getField(SRC).as(SRC), col("_e").getField(DST).as(DST))
      .groupBy(col(SRC), col(DST)).agg(count(lit(1)).as("_dec"))
    keep.join(dec, Seq(SRC, DST), "left")
      .select(col(SRC), col(DST),
        (col("support") - coalesce(col("_dec"), lit(0L))).as("support"))
  }

  /** Per-edge triangle support over a canonical (src < dst, deduped)
    * edge set, via degree-ordered wedge enumeration. Edges closing zero
    * triangles are absent — exactly the edges the first peel would drop
    * for any k >= 3. */
  private[graft] def supports(edges: DataFrame): DataFrame = {
    val deg = edges.select(col(SRC).as(ID))
      .unionAll(edges.select(col(DST).as(ID)))
      .groupBy(col(ID)).agg(count(lit(1)).as("_deg"))
    val srcFirst = struct(col("_ds"), col(SRC)) < struct(col("_dd"), col(DST))
    val oriented = edges
      .join(deg.select(col(ID).as(SRC), col("_deg").as("_ds")), Seq(SRC))
      .join(deg.select(col(ID).as(DST), col("_deg").as("_dd")), Seq(DST))
      .select(
        when(srcFirst, col(SRC)).otherwise(col(DST)).as("u"),
        when(srcFirst, col(DST)).otherwise(col(SRC)).as("v"))
    // wedges at the orientation-minimal vertex; heads deduped as an
    // unordered pair by id, closure checked against the CANONICAL edge set
    val o1 = oriented.select(col("u"), col("v").as("a"))
    val o2 = oriented.select(col("u").as("u2"), col("v").as("b"))
    val tri = o1.join(o2, col("u") === col("u2") && col("a") < col("b"))
      .join(edges,
        least(col("a"), col("b")) === col(SRC) &&
          greatest(col("a"), col("b")) === col(DST), "left_semi")
      .select(col("u"), col("a"), col("b"))
    tri.select(least(col("u"), col("a")).as(SRC), greatest(col("u"), col("a")).as(DST))
      .unionAll(tri.select(least(col("u"), col("b")).as(SRC),
        greatest(col("u"), col("b")).as(DST)))
      .unionAll(tri.select(least(col("a"), col("b")).as(SRC),
        greatest(col("a"), col("b")).as(DST)))
      .groupBy(col(SRC), col(DST))
      .agg(count(lit(1)).as("support"))
  }
}
