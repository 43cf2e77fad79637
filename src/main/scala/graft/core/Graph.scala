package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property graph as two DataFrames (vertices + edges) with derived views.
  *
  * Re-expression of the reference's pyspark_graph/graph.py:20-133, with two
  * deliberate changes for 100 TB soundness:
  *
  *  - Surrogate ids are assigned with `xxhash64(old id)` instead of
  *    `monotonically_increasing_id()` (graph.py:56,63). The reference's ids
  *    are partition-dependent and can change under task retry / lineage
  *    recomputation; a content hash is deterministic, requires no shuffle
  *    and no driver coordination, and keeps edge re-keying join-free
  *    (membership is enforced with cheap semi joins instead of two wide
  *    inner joins).
  *  - The class is immutable: `withVertexColumn` returns a new Graph
  *    (the reference mutates in place, graph.py:124-133).
  *
  * A `Graph(vertices, edges, directed)` is assumed indexed (LONG `id`,
  * `src`, `dst`, `edge_id`); build one from raw frames with `Graph.index`.
  */
final case class Graph(vertices: DataFrame, edges: DataFrame, directed: Boolean = true) {
  import Columns._

  private def spark = vertices.sparkSession

  /** Adjacency-list view `id -> set(neighbour ids)` (graph.py:82-93).
    * Undirected graphs union reversed edges first; isolated vertices are
    * kept with an empty array. Memoized like the reference's
    * `cached_property` (plan only — [[persistAdjacency]] pins the data).
    */
  def adjacency: DataFrame = pinnedAdjacency.getOrElse(adjacencyPlan)

  /** Opt-in data persistence for [[adjacency]]: pin it once
    * ([[CheckpointPolicy.pin]]) so every consumer (degrees, similarity banding +
    * verify joins, label propagation) reads the same blocks instead of
    * re-running the edge-union + collect_set aggregate per use. Same
    * contract as [[localCheckpointed]]; idempotent. Returns `this` so it
    * chains at call sites.
    */
  def persistAdjacency(): Graph = {
    if (pinnedAdjacency.isEmpty)
      pinnedAdjacency = Some(CheckpointPolicy.pin(adjacencyPlan))
    this
  }

  @transient private var pinnedAdjacency: Option[DataFrame] = None

  private lazy val adjacencyPlan: DataFrame = {
    val fwd = edges.select(col(SRC), col(DST))
    val connected =
      if (directed) fwd
      else fwd.union(edges.select(col(DST).as(SRC), col(SRC).as(DST)))
    val grouped = connected
      .groupBy(col(SRC).as(ID))
      .agg(collect_set(col(DST)).as(ADJ))
    val isolated = vertices
      .select(col(ID), array().cast("array<bigint>").as(ADJ))
      .join(grouped, Seq(ID), "left_anti")
    grouped.unionByName(isolated)
  }

  /** graph.py:96-97 */
  def outDegrees: DataFrame =
    edges.groupBy(col(SRC).as(ID)).agg(count(lit(1)).as(OUT_DEGREE))

  /** graph.py:100-101 */
  def inDegrees: DataFrame =
    edges.groupBy(col(DST).as(ID)).agg(count(lit(1)).as(IN_DEGREE))

  /** graph.py:104-108. Faithful to the reference: the directed branch is
    * out-degrees (isolated vertices absent); the undirected branch counts
    * distinct neighbours and includes isolated vertices.
    */
  def degrees: DataFrame =
    if (directed) outDegrees.withColumnRenamed(OUT_DEGREE, DEGREE)
    else adjacency.select(col(ID), size(col(ADJ)).cast("long").as(DEGREE))

  /** Edge rows widened with prefixed src- and dst-vertex attributes
    * (graph.py:110-122).
    */
  def triplets(srcVertexPrefix: String, dstVertexPrefix: String): DataFrame = {
    val srcV = vertices.toDF(vertices.columns.map(srcVertexPrefix + _).toIndexedSeq: _*)
    val dstV = vertices.toDF(vertices.columns.map(dstVertexPrefix + _).toIndexedSeq: _*)
    edges
      .join(srcV, edges(SRC) === srcV(srcVertexPrefix + ID))
      .join(dstV, edges(DST) === dstV(dstVertexPrefix + ID))
  }

  /** graph.py:124-133, made immutable. */
  def withVertexColumn(name: String, value: Column): Graph =
    copy(vertices = vertices.withColumn(name, value))

  /** Edges plus their reversals, deduplicated — the undirected-traversal
    * simulation used by BFS (bfs.py:34-36).
    */
  def symmetricEdges: DataFrame =
    edges
      .union(edges.withColumns(Map(SRC -> col(DST), DST -> col(SRC))))
      .distinct()

  /** Truncate lineage and materialize both frames ([[CheckpointPolicy.pin]])
    * — call before iterative algorithms so the (nondeterministic-plan)
    * inputs are pinned and every superstep re-reads materialized blocks
    * instead of re-running the scan.
    */
  def localCheckpointed(): Graph =
    copy(vertices = CheckpointPolicy.pin(vertices), edges = CheckpointPolicy.pin(edges))

  /** Exact out-degree distribution summary — one row:
    * (n_vertices, n_edges, n_sources, max/avg/median out-degree). Feeds
    * skew planning (salt factors, hub thresholds); all-exact aggregates so
    * it is cross-engine comparable.
    */
  def degreeStats: DataFrame = {
    val d = outDegrees
    val counts = d.agg(
      count(lit(1)).as("n_sources"),
      max(col(OUT_DEGREE)).as("max_out_degree"),
      avg(col(OUT_DEGREE)).as("avg_out_degree"),
      expr(s"percentile($OUT_DEGREE, 0.5)").as("median_out_degree"))
    counts
      .crossJoin(vertices.agg(count(lit(1)).as("n_vertices")))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .select(
        col("n_vertices"), col("n_edges"), col("n_sources"),
        col("max_out_degree"), col("avg_out_degree"), col("median_out_degree"))
  }

  /** Sketch-based twin of [[degreeStats]] for the 100 TB path: HyperLogLog
    * distinct counts and a t-digest percentile replace the exact
    * aggregates, so the whole summary is one combinable pass with O(1)
    * state per partition — no exact-median sort, no count-distinct expand.
    */
  def approxDegreeStats(relativeSD: Double = 0.05): DataFrame = {
    val d = edges.groupBy(col(SRC)).agg(count(lit(1)).as(OUT_DEGREE))
    d.agg(
      approx_count_distinct(col(SRC), relativeSD).as("approx_sources"),
      max(col(OUT_DEGREE)).as("max_out_degree"),
      avg(col(OUT_DEGREE)).as("avg_out_degree"),
      percentile_approx(col(OUT_DEGREE), lit(0.5), lit(10000))
        .as("approx_median_out_degree"),
      percentile_approx(col(OUT_DEGREE), lit(0.99), lit(10000))
        .as("approx_p99_out_degree"))
  }

  /** Vertices whose out-degree reaches `minDegree` — the hub set to salt
    * or handle separately on power-law graphs.
    */
  def hubVertices(minDegree: Long): DataFrame =
    outDegrees.filter(col(OUT_DEGREE) >= minDegree)

  /** Induced subgraph: keep vertices satisfying `vertexPredicate` and
    * edges satisfying `edgePredicate` whose BOTH endpoints survive
    * (semi joins against the kept vertex set, so no vertex attributes are
    * dragged through the edge table).
    */
  def subgraph(
      vertexPredicate: Column = lit(true),
      edgePredicate: Column = lit(true)): Graph = {
    val v = vertices.filter(vertexPredicate)
    val keep = v.select(col(ID))
    val e = edges.filter(edgePredicate)
      .join(keep.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
      .join(keep.select(col(ID).as(DST)), Seq(DST), "left_semi")
    copy(vertices = v, edges = e)
  }

  /** Edge-induced filter keeping all vertices (GraphX `filterEdges`). */
  def filterEdges(edgePredicate: Column): Graph =
    copy(edges = edges.filter(edgePredicate))
}

object Graph {
  import Columns._

  /** Build an indexed graph from raw frames (graph.py:42-66):
    * dedup both frames, replace user ids of any type with surrogate LONG
    * ids, keep the originals as `old_id`/`old_src`/`old_dst`, re-key edges,
    * drop edges whose endpoints are missing from the vertex table (the
    * reference's inner-join semantics), and assign each edge a LONG
    * `edge_id`.
    */
  /** `checkCollisions = true` adds one aggregate over the vertex table
    * asserting the surrogate ids are collision-free — xxhash64 has 64-bit
    * birthday bounds (~50% chance of SOME collision near 5e9 vertices,
    * ~3e-4 at 100M), so jobs near billions of vertices should pay the one
    * extra pass. Off by default: below ~1e8 vertices the risk is
    * negligible and the check costs a full scan. `surrogate` overrides the
    * id scheme (must be deterministic and consistent between the vertex
    * and edge key columns).
    */
  def index(vertices: DataFrame, edges: DataFrame, directed: Boolean = true,
      checkCollisions: Boolean = false,
      surrogate: Column => Column = surrogateId): Graph = {
    require(!vertices.columns.contains(OLD_ID),
      s"vertices dataframe already contains a column $OLD_ID")
    require(!edges.columns.contains(OLD_SRC),
      s"edges dataframe already contains a column $OLD_SRC")
    require(!edges.columns.contains(OLD_DST),
      s"edges dataframe already contains a column $OLD_DST")

    val v = keyVertices(vertices, surrogate)

    // inner-join drop semantics (graph.py:60-63) without carrying vertex
    // attributes through a wide join
    val e = keyEdges(edges, surrogate)
      .join(v.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
      .join(v.select(col(ID).as(DST)), Seq(DST), "left_semi")

    if (checkCollisions) {
      val r = v.agg(
        count_distinct(col(ID)).as("ids"),
        count_distinct(col(OLD_ID)).as("olds")).head()
      require(r.getLong(0) == r.getLong(1),
        s"surrogate-id collision: ${r.getLong(1)} distinct source ids hashed " +
          s"to ${r.getLong(0)} distinct surrogate ids; re-key with a wider " +
          "scheme (e.g. pre-salt the id column)")
    }

    Graph(v, e, directed)
  }

  /** The vertex half of [[index]]'s keying, shared with the persisted
    * append lifecycle ([[graft.sources.GraphIO.appendVertices]]): dedup,
    * stash the user id as `old_id`, assign the surrogate. Deterministic —
    * keying a batch in a later session yields the ids [[index]] would.
    */
  private[graft] def keyVertices(
      vertices: DataFrame,
      surrogate: Column => Column = surrogateId): DataFrame =
    vertices.distinct()
      .withColumnRenamed(ID, OLD_ID)
      .withColumn(ID, surrogate(col(OLD_ID)))

  /** The edge half of [[index]]'s keying (BEFORE the endpoint
    * membership semi-joins), shared with
    * [[graft.sources.GraphIO.appendEdges]]: dedup exact rows, stash user
    * endpoints, surrogate-key `src`/`dst`, and assign the content
    * `edge_id` (a hash of ALL pre-keying columns, so an exact duplicate
    * row delivered later maps to the same id — the append lifecycle's
    * idempotency key). Column order must match the original raw frame's
    * for the edge_id to replay.
    */
  private[graft] def keyEdges(
      edges: DataFrame,
      surrogate: Column => Column = surrogateId): DataFrame = {
    val renamed = edges.distinct()
      .withColumnsRenamed(Map(SRC -> OLD_SRC, DST -> OLD_DST))
    val attrCols = renamed.columns.toIndexedSeq
    renamed
      .withColumn(SRC, surrogate(col(OLD_SRC)))
      .withColumn(DST, surrogate(col(OLD_DST)))
      .select(
        (xxhash64(attrCols.map(col): _*)).as(EDGE_ID) +:
          col(SRC) +: col(DST) +: attrCols.map(col): _*)
  }

  /** Deterministic surrogate id: content hash of the original id.
    * Unlike `monotonically_increasing_id()` it is stable across
    * recomputation, retries and sessions, and lets edges be re-keyed
    * without joining through the vertex table.
    */
  private def surrogateId(oldId: Column): Column =
    xxhash64(oldId.cast("string"))
}
