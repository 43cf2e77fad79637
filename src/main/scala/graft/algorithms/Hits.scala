package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** HITS (hubs and authorities) by power iteration — the classic
  * link-analysis companion to PageRank (not in the reference's surface;
  * added as a north-star operator). A good HUB points at good
  * authorities; a good AUTHORITY is pointed at by good hubs:
  * per round `auth(v) = Σ hub(u) over in-edges`, then
  * `hub(u) = Σ auth(v) over out-edges`, each vector L2-normalized so the
  * iteration converges to the principal singular pair of the adjacency
  * matrix.
  *
  * Scale: identical shape to [[PageRank]] — the edge list is projected
  * and checkpointed once, each half-round is one keyed join + one
  * map-side-combinable aggregation (shuffled by recipient only), and the
  * L2 norms are single-row scalar aggregates (bounded driver state, like
  * PageRank's dangling mass). Vertices with no in-edges hold authority 0
  * and no out-edges hold hub 0 — they cost nothing per round.
  */
final case class Hits(
    maxIterations: Int = 5,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local) {
  import Columns._

  /** Output: (id, hub, authority), both scores L2-normalized. */
  def run(g: Graph): DataFrame = {
    // distinct endpoint pairs: symmetricEdges dedups (src, dst, edge_id),
    // so a reciprocal directed pair would survive as two rows and double
    // its contribution to the sums
    val edges = checkpoint.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(col(SRC), col(DST)).distinct())
    val verts = g.vertices.select(col(ID))

    var hub = checkpoint.pin(verts.select(col(ID), lit(1.0).as("hub")))
    var auth: DataFrame = verts.select(col(ID), lit(0.0).as("authority"))
    var i = 0
    while (i < maxIterations) {
      // authority step: gather hub scores along in-edges; the pin
      // observes the squared L2 norm in the same pass. The normalized
      // frame stays a lazy narrow join over the pinned gather.
      val (aRaw, aSq) = checkpoint.pinObserved(hub.join(edges, hub(ID) === edges(SRC))
        .groupBy(col(DST).as(ID))
        .agg(sum(col("hub")).as("_a")),
        s"hits round ${i + 1} authority", CheckpointPolicy.exactSum(col("_a") * col("_a")))
      val aNorm = math.sqrt(aSq.getDouble(0))
      require(aNorm > 0.0, "HITS needs at least one edge")
      auth = verts.join(aRaw, Seq(ID), "left")
        .select(col(ID),
          (coalesce(col("_a"), lit(0.0)) / lit(aNorm)).as("authority"))

      // hub step: gather authority scores along out-edges (same shape)
      val (hRaw, hSq) = checkpoint.pinObserved(auth.join(edges, auth(ID) === edges(DST))
        .groupBy(col(SRC).as(ID))
        .agg(sum(col("authority")).as("_h")),
        s"hits round ${i + 1} hub", CheckpointPolicy.exactSum(col("_h") * col("_h")))
      val hNorm = math.sqrt(hSq.getDouble(0))
      require(hNorm > 0.0, "HITS needs at least one edge")
      hub = verts.join(hRaw, Seq(ID), "left")
        .select(col(ID),
          (coalesce(col("_h"), lit(0.0)) / lit(hNorm)).as("hub"))
      i += 1
    }
    hub.join(auth, Seq(ID))
  }
}
