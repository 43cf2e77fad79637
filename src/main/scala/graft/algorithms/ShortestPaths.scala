package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Landmark shortest paths (BFS distance from every vertex to each landmark).
  *
  * The reference ships only pseudocode for this operator
  * (algorithms/shortest_paths.py:7-26 — English strings where expressions
  * belong); this is a fresh design with GraphFrames `shortestPaths`
  * semantics: for each vertex, the map of landmark-id -> hop distance along
  * edge direction (both directions when the graph is undirected).
  *
  * Rather than a map-valued Pregel state (which would need a custom
  * map-merge aggregate), distances are kept *relational* — one
  * `(id, landmark, dist)` row per known pair — so each round is a plain
  * join + min-aggregate that Catalyst/AQE can optimize and skew-split.
  * Distances only ever decrease and rows only accrue, so a
  * (count, sum(dist)) fingerprint detects the fixed point exactly.
  *
  * `weightCol` switches the relaxation from hop counting to min-plus
  * over that LONG edge column (Bellman-Ford): same join + min-aggregate
  * round, the +1 becomes +weight, and `maxIterations` bounds the path
  * length as usual (negative cycles cannot spin forever). Weights are
  * CHECKED non-null and non-negative on the pinned edge frame — a NULL
  * weight would otherwise relax to a NULL distance that `min` silently
  * ignores (the edge would vanish without a trace), and a negative one
  * would break the min-plus shortest-path invariant.
  */
final case class ShortestPaths(
    landmarks: Seq[Long],
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    weightCol: Option[String] = None) {
  import Columns._

  private val LANDMARK = "landmark"
  private val DIST = "dist"
  val DISTANCES = "distances"

  def run(g: Graph): DataFrame = {
    require(landmarks.nonEmpty, "landmarks must not be empty")
    val spark = g.vertices.sparkSession
    import spark.implicits._

    val lm = landmarks.toDF(LANDMARK)
    val edges = checkpoint.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(Seq(col(SRC), col(DST)) ++ weightCol.map { c =>
          when(col(c).isNull || col(c) < 0,
            raise_error(concat(lit(s"ShortestPaths: weight column '$c' must be " +
              "non-null and non-negative, got "),
              coalesce(col(c).cast("string"), lit("NULL")))))
            .otherwise(col(c)).as(c)
        }: _*))
    val step = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1))

    // seed: each landmark is at distance 0 from itself
    var dist = checkpoint.pin(g.vertices
      .join(broadcast(lm), col(ID) === col(LANDMARK), "left_semi")
      .select(col(ID), col(ID).as(LANDMARK),
        (if (weightCol.isDefined) lit(0L) else lit(0)).as(DIST)))

    var prev = (-1L, 0L)
    var converged = false
    var i = 0
    while (i < maxIterations && !converged) {
      // a vertex v with edge v->w inherits w's distances + 1
      val relaxed = edges
        .join(dist, edges(DST) === dist(ID))
        .select(edges(SRC).as(ID), col(LANDMARK), (col(DIST) + step).as(DIST))
      val (pinned, fp) = checkpoint.pinObserved(dist.unionByName(relaxed)
        .groupBy(col(ID), col(LANDMARK))
        .agg(min(col(DIST)).as(DIST)),
        s"shortest paths round ${i + 1}", count(lit(1)), sum(col(DIST)))
      dist = pinned
      val cur = (fp.getLong(0), if (fp.isNullAt(1)) 0L else fp.getLong(1))
      converged = cur == prev // monotone: same (count, sum) => no change
      prev = cur
      i += 1
    }

    // pack into a per-vertex map, sorted for deterministic map ordering
    val packed = dist
      .groupBy(col(ID))
      .agg(map_from_entries(array_sort(collect_list(struct(col(LANDMARK), col(DIST)))))
        .as(DISTANCES))
    g.vertices.select(col(ID))
      .join(packed, Seq(ID), "left")
      .select(col(ID),
        coalesce(col(DISTANCES), map_from_entries(array().cast(
          s"array<struct<landmark:bigint,dist:${if (weightCol.isDefined) "bigint" else "int"}>>")))
          .as(DISTANCES))
  }
}
