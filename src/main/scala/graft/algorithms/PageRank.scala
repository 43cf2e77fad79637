package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** PageRank by power iteration — the standard companion to the
  * reference's Pregel family (not in the reference's own surface; added
  * as a north-star operator).
  *
  * Per round every vertex sends rank/out-degree along its out-edges and
  * updates to `(1-d)/N + d * sum(inbound)`; dangling vertices (no
  * out-edges) redistribute their rank uniformly via a scalar aggregate
  * rather than N messages — the classic dangling-mass correction, which
  * keeps the iteration one join + one aggregation regardless of how many
  * sinks exist.
  *
  * Scale: the edge list is projected to (src, dst, out-degree share) and
  * checkpointed once; each round shuffles messages by recipient only.
  * Rank mass is conserved (sums to 1) up to float rounding every round.
  * A round is one pinned pass ([[CheckpointPolicy.pinObserved]]) that
  * also yields its dangling mass and tolerance delta. The routes are
  * pinned keyed on `src` and the rank frame on `id`, so the contribution
  * join and the update join need no exchange and the message `groupBy`
  * is a round's one shuffle: two Spark jobs under AQE. A 10-round run on
  * a 105k-edge, 5k-vertex graph ran 24 jobs, the caller's collect
  * included.
  */
/** @param weightCol edge-weight column for weighted PageRank: a vertex
  *        distributes rank proportionally to edge weight (share =
  *        w / Σw over its out-edges) instead of uniformly — the standard
  *        variant for co-occurrence / interaction graphs where edge
  *        multiplicity carries signal. Zero-weight edges drop (a vertex
  *        whose edges are all zero-weight is dangling); NULL or negative
  *        weights fail loudly. Use integer-typed weights where results
  *        must replay cross-engine: the weight sum then stays exact and
  *        the share is one correctly-rounded division, so constant
  *        weights degenerate BIT FOR BIT to the uniform variant. */
final case class PageRank(
    damping: Double = 0.85,
    maxIterations: Int = 10,
    tolerance: Option[Double] = None,
    weightCol: Option[String] = None) {
  import Columns._

  val RANK = "rank"
  private val DANGLING = "_dangling"
  private val PREV = "_prev"

  /** Rounds the last run/runFrom actually executed — the observable the
    * warm-start story is measured by (a warm restart after a small
    * append should re-converge in a small fraction of the cold count;
    * BASELINE.md records it). Diagnostic only, set after each run. */
  @volatile private[graft] var lastIterations: Int = 0

  /** (src, dst, 1/out-degree(src)) routing table — fixed for the whole
    * iteration. Over a BUCKETED edge table
    * ([[graft.sources.GraphIO.writeBucketed]], directed graphs — an
    * undirected graph unions reversed edges and loses the layout) this
    * plans ZERO exchanges: the out-degree window reuses the write-time
    * bucketing, so the only shuffle left
    * per [[run]] round is the inherent message groupBy(dst)
    * (GraphIOSpec asserts both properties). That is the
    * write-once-shuffle-then-iterate story: on a 100 TB edge set the
    * bucketing shuffle is paid once at write time, not once per job.
    * Such routes are a stored read, so their keyed pin returns them
    * unpinned ([[CheckpointPolicy]]): each round re-reads the bucketed
    * layout instead of a copy of the table in executor blocks. */
  def routes(g: Graph): DataFrame = weightCol match {
    case None =>
      // undirected: symmetricEdges dedups (src, dst, edge_id), so a
      // reciprocal directed pair would survive as two (src, dst) rows and
      // double-count in the degree and the contribution sum — dedup the
      // endpoint pairs. The directed branch keeps the caller's edge rows
      // (and, over a bucketed table, its exchange-free plan) untouched.
      val edges = if (g.directed) g.edges.select(col(SRC), col(DST))
        else g.symmetricEdges.select(col(SRC), col(DST)).distinct()
      // the out-degree as a window over src: one exchange, whose output
      // is already the src-keyed layout the routes are pinned in
      edges.select(col(SRC), col(DST),
        (lit(1.0) / count(lit(1)).over(Window.partitionBy(col(SRC)))).as("_share"))
    case Some(c) =>
      val guarded = when(col(c).isNull || col(c) < 0,
        raise_error(concat(lit(s"PageRank: weight column '$c' must be " +
          "non-null and non-negative, got "),
          coalesce(col(c).cast("string"), lit("NULL")))))
        .otherwise(col(c))
      // undirected: dedup ENDPOINT pairs, not (src, dst, w) triples — a
      // reciprocal directed input pair carrying different weights would
      // otherwise survive as parallel edges and double-count in both the
      // weight sum and the contribution (ADVICE r8). Merge rule: MAX
      // weight per directed (src, dst) after symmetrization, so both
      // orientations of an undirected edge see the same weight and equal
      // reciprocal weights degenerate bit for bit to the old behavior.
      val base = if (g.directed)
        g.edges.select(col(SRC), col(DST), guarded.as("_w"))
      else g.symmetricEdges.select(col(SRC), col(DST), guarded.as("_w"))
        .groupBy(col(SRC), col(DST)).agg(max(col("_w")).as("_w"))
      val we = base.filter(col("_w") > 0)
      val sums = we.groupBy(col(SRC)).agg(sum(col("_w")).as("_sw"))
      we.join(sums, Seq(SRC))
        .select(col(SRC), col(DST), (col("_w") / col("_sw")).as("_share"))
  }

  def run(g: Graph): DataFrame = {
    val routes = CheckpointPolicy.pin(this.routes(g), Some(SRC))
    // one pass pins the dangling flags and counts the vertices and the
    // dangling ones: the uniform start's dangling mass is nd / n
    val (flags, counts) = CheckpointPolicy.pinObserved(
      danglingFlags(g, routes), "pagerank dangling flags", Some(ID))(
      count(lit(1)), count(when(col(DANGLING), lit(1))))
    val n = counts.getLong(0).toDouble
    iterate(routes, n, flags.withColumn(RANK, lit(1.0 / n)), counts.getLong(1) / n,
      uniformTeleport(n))
  }

  /** WARM-START power iteration from a prior rank vector — the
    * maintained-analytic face ([[graft.sources.GraphIO.refreshRanks]]):
    * after an append perturbs the graph, re-converging from the stored
    * ranks costs rounds ∝ the perturbation instead of a full cold
    * start. `initial` is (id, rank); vertices missing from it (newly
    * appended) seed at the uniform mass 1/N, then the whole vector is
    * renormalized to sum 1 — the PageRank fixpoint is the unique
    * stationary distribution of the damped walk, so the starting point
    * changes the ROUND COUNT, never the answer (within `tolerance`;
    * GraphAppendSpec pins warm ≡ cold). Rows in `initial` for vertices
    * no longer in the graph are ignored. */
  def runFrom(g: Graph, initial: DataFrame): DataFrame = {
    val routes = CheckpointPolicy.pin(this.routes(g), Some(SRC))
    val (flags, counts) = CheckpointPolicy.pinObserved(
      danglingFlags(g, routes), "pagerank dangling flags", Some(ID))(count(lit(1)))
    val n = counts.getLong(0).toDouble
    val seeded = CheckpointPolicy.pin(flags
      .join(initial.select(col(ID), col(RANK).cast("double").as("_r0")), Seq(ID), "left")
      .select(col(ID), col(DANGLING), coalesce(col("_r0"), lit(1.0 / n)).as(RANK)), Some(ID))
    val mass = seeded.agg(sum(col(RANK)), coalesce(sum(when(col(DANGLING), col(RANK))), lit(0.0)))
      .head()
    val tot = mass.getDouble(0)
    require(tot > 0.0 && !tot.isNaN,
      s"runFrom needs an initial vector with positive total mass, got $tot")
    iterate(routes, n, seeded.withColumn(RANK, col(RANK) / lit(tot)), mass.getDouble(1) / tot,
      uniformTeleport(n))
  }

  /** teleport + the dangling mass spread uniformly over the n vertices */
  private def uniformTeleport(n: Double)(dMass: Double): Column =
    lit((1.0 - damping) / n + damping * dMass / n)

  /** (id, `_dangling`) for every vertex: true when it has no out-edge in
    * `routes`. Loop-invariant, so it rides along in the rank frame and
    * each round's dangling mass is observed on that round's pin. */
  private def danglingFlags(g: Graph, routes: DataFrame): DataFrame =
    g.vertices.select(col(ID))
      .join(routes.select(col(SRC).as(ID)).distinct().withColumn("_out", lit(true)), Seq(ID), "left")
      .select(col(ID), col("_out").isNull.as(DANGLING))

  /** The power iteration shared by every variant. `rank0` carries
    * (id, `_dangling`, any per-vertex inputs of `base`, rank);
    * `base(dMass)` is the per-vertex term a round adds to the damped
    * inbound sum, given the dangling mass of the rank it reads.
    *
    * Each round is ONE pinned pass: the pin observes the new rank's
    * dangling mass (the next round's scalar) and, through the carried
    * previous rank, the max per-vertex change that `tolerance` tests. */
  private def iterate(
      routes: DataFrame, n: Double, rank0: DataFrame, dMass0: Double,
      base: Double => Column): DataFrame = {
    val carried = rank0.columns.filter(_ != RANK).map(col).toSeq
    var rank = rank0
    var dMass = dMass0
    var i = 0
    var done = false
    while (i < maxIterations && !done) {
      // shuffled hash joins that build the vertex-sized sides
      val contrib = rank.hint("shuffle_hash")
        .join(routes, col(ID) === col(SRC))
        .groupBy(col(DST).as(ID))
        .agg(sum(col(RANK) * col("_share")).as("_in"))
        .hint("shuffle_hash")
      val next = rank.select(carried :+ col(RANK).as(PREV): _*)
        .join(contrib, Seq(ID), "left")
        .select(carried ++ Seq(
          (base(dMass) + lit(damping) * coalesce(col("_in"), lit(0.0))).as(RANK),
          col(PREV)): _*)
      i += 1
      // the dangling mass sums ranks in units of the uniform share 1/n,
      // so the exact sum's fixed 1e-18 resolution is relative to a
      // typical rank at any graph size
      val (pinned, observed) = CheckpointPolicy.pinObserved(next, s"pagerank round $i", Some(ID))(
        CheckpointPolicy.exactSum(when(col(DANGLING), col(RANK) * lit(n))),
        coalesce(max(abs(col(RANK) - col(PREV))), lit(0.0)))
      dMass = observed.getDouble(0) / n
      done = tolerance.exists(observed.getDouble(1) < _)
      rank = pinned.drop(PREV)
    }
    lastIterations = i
    rank.select(col(ID), col(RANK))
  }

  /** Personalized PageRank: teleport (and dangling) mass returns to a
    * seed distribution instead of uniformly to all vertices — "importance
    * relative to THESE nodes", the standard recommendation / local-graph
    * relevance primitive. `reset` is (id, weight >= 0); weights are
    * normalized to sum 1, vertices absent from `reset` get weight 0 (and
    * can hold rank only through inbound links).
    *
    * Per round: rank := w * ((1-d) + d * danglingMass) + d * inbound —
    * the same one-join one-aggregation shape as [[run]] with the scalar
    * teleport replaced by the per-vertex `w` column. The seed vector is
    * joined once and checkpointed; rounds add no extra shuffle over the
    * uniform variant. Rank mass is conserved (sums to 1). */
  def runPersonalized(g: Graph, reset: DataFrame): DataFrame = {
    val routes = CheckpointPolicy.pin(this.routes(g), Some(SRC))

    val totRow = reset.agg(sum(col("weight").cast("double"))).head()
    require(!totRow.isNullAt(0) && totRow.getDouble(0) > 0.0,
      "personalized PageRank needs a reset set with positive total weight")
    val tot = totRow.getDouble(0)
    // the seed vector, normalized, beside the dangling flags; the pin
    // also counts the vertices for the dangling mass's scaling
    val (w, counts) = CheckpointPolicy.pinObserved(
      danglingFlags(g, routes)
        .join(reset.select(col(ID),
          (col("weight").cast("double") / tot).as("_w")), Seq(ID), "left")
        .select(col(ID), col(DANGLING), coalesce(col("_w"), lit(0.0)).as("_w")),
      "pagerank seed vector", Some(ID))(
      count(lit(1)), CheckpointPolicy.exactSum(when(col(DANGLING), col("_w"))))
    // scalar multiplier on the seed vector: teleport + returned dangling
    // mass, one driver double so every engine replays it
    iterate(routes, counts.getLong(0).toDouble, w.withColumn(RANK, col("_w")), counts.getDouble(1),
      dMass => col("_w") * lit((1.0 - damping) + damping * dMass))
  }
}
