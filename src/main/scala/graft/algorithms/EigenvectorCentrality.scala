package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Eigenvector centrality by power iteration — the principal eigenvector
  * of the adjacency matrix, the classic "important because your neighbors
  * are important" score (PageRank without teleport or degree
  * normalization; HITS' hub==authority fixpoint on a symmetric matrix).
  * Not in the reference's surface; added as a north-star operator
  * alongside PageRank/HITS/Katz (`/root/reference/README.md:24-38` lists
  * no centrality family at all).
  *
  * Per round `x ← A·x`, then L2-normalize so the iteration converges to
  * the dominant eigenvector. On an undirected graph A is symmetric and
  * the limit is the true eigenvector centrality; on a directed graph this
  * computes the right-eigenvector (in-link) variant.
  *
  * Scale: identical shape to [[Hits]] — the edge list is projected and
  * checkpointed once, each round is one keyed join + one
  * map-side-combinable sum shuffled by recipient only, and the L2 norm is
  * a single-row scalar aggregate (bounded driver state). Vertices with no
  * in-edges hold score 0 and cost nothing per round.
  */
final case class EigenvectorCentrality(
    maxIterations: Int = 5,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local) {
  import Columns._

  /** Output: (id, score), L2-normalized. */
  def run(g: Graph): DataFrame = {
    // distinct endpoint pairs: symmetricEdges dedups (src, dst, edge_id),
    // so a reciprocal directed pair would survive as two rows and double
    // its contribution to the sums
    val edges = checkpoint.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(col(SRC), col(DST)).distinct())
    val verts = g.vertices.select(col(ID))

    var x = checkpoint.pin(verts.select(col(ID), lit(1.0).as("score")))
    var i = 0
    while (i < maxIterations) {
      // the pin observes the squared L2 norm in the same pass; the
      // normalized vector stays a lazy narrow join over the pinned gather
      val (raw, sq) = checkpoint.pinObserved(x.join(edges, x(ID) === edges(SRC))
        .groupBy(col(DST).as(ID))
        .agg(sum(col("score")).as("_s")),
        s"eigenvector round ${i + 1}", CheckpointPolicy.exactSum(col("_s") * col("_s")))
      val nrm = math.sqrt(sq.getDouble(0))
      require(nrm > 0.0,
        "eigenvector centrality needs at least one edge reachable from a nonzero score")
      x = verts.join(raw, Seq(ID), "left")
        .select(col(ID),
          (coalesce(col("_s"), lit(0.0)) / lit(nrm)).as("score"))
      i += 1
    }
    x
  }
}
