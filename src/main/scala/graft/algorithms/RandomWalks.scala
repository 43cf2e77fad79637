package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Deterministic uniform random walks — the training-data generator for
  * graph embeddings (DeepWalk / node2vec with p = q = 1): one fixed-length
  * walk per start vertex, each step choosing a uniform pseudo-random
  * neighbor. The choice is a PURE HASH of (walker, step, neighbor) — no
  * RNG state — so walks are reproducible across engines, retries and
  * partitionings, and any engine can replay them (the DuckDB oracle
  * does, bit for bit).
  *
  * Step semantics: from vertex v at step k, walker w moves to the
  * neighbor u of v minimizing (hash(w, k, u), u) — a uniform choice
  * among neighbors because the hash is uniform, with the (…, u)
  * tiebreak making equal-hash collisions deterministic too. Walkers at a
  * sink (no out-edges) stop; their walk simply has fewer rows.
  *
  * Scale shape: each step is one keyed join (frontier ⋈ edges on the
  * current vertex) + one map-side-combinable min aggregation — no
  * windows, no single reducer per vertex. A mega-hub's fan-out is spread
  * across its edge partitions and combined map-side, the same shape as a
  * degree count. Frontiers are checkpointed per step (lineage O(1) in
  * walk length, as Pregel).
  *
  * Hash-overflow discipline (same as the samplers): walker and neighbor
  * ids are reduced mod 2^31 before the Knuth multiply so every product
  * stays far inside i64 under ANSI mode.
  */
object RandomWalks {
  import Columns._

  /** Portable per-(walker, step, neighbor) hash, uniform on [0, 2^32). */
  def stepHash(walker: Column, step: Int, neighbor: Column): Column =
    pmod(
      pmod(pmod(walker, lit(2147483648L)) * lit(1000003L)
          + lit(step.toLong * 8191L)
          + pmod(neighbor, lit(2147483648L)),
        lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))

  /** [[stepHash]] with a REPLICA index folded in — the device that turns
    * the uniform argmin choice into an exact integer-weighted one (see
    * [[biasedWalks]]): replica 0 reduces to `stepHash(walker, step,
    * neighbor)` bit for bit, so unit weights degenerate to the uniform
    * walk exactly. */
  def biasedStepHash(walker: Column, step: Int, neighbor: Column, rep: Column): Column =
    pmod(
      pmod(pmod(walker, lit(2147483648L)) * lit(1000003L)
          + lit(step.toLong * 8191L)
          + pmod(neighbor, lit(2147483648L))
          + rep * lit(60493L),
        lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))

  /** One `steps`-step walk from every vertex of `starts` (a one-column
    * frame of ids). Output (walker, step, vertex): step 0 is the start
    * vertex; a walk that hits a sink before `steps` ends early. */
  def uniformWalks(g: Graph, starts: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val edges = CheckpointPolicy.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(col(SRC), col(DST)))
    var frontier = CheckpointPolicy.pin(
      starts.select(col(starts.columns.head).as("walker"))
        .withColumn("vertex", col("walker")))
    val out = Seq.newBuilder[DataFrame]
    out += frontier.withColumn("step", lit(0))
    var k = 1
    while (k <= steps && !frontier.isEmpty) {
      val h = stepHash(col("walker"), k, col(DST))
      val next = frontier.join(edges, frontier("vertex") === edges(SRC))
        .groupBy(col("walker"))
        .agg(min(struct(h.as("_h"), col(DST).as("_d"))).as("_m"))
        .select(col("walker"), col("_m").getField("_d").as("vertex"))
      frontier = CheckpointPolicy.pin(next)
      out += frontier.withColumn("step", lit(k))
      k += 1
    }
    out.result().reduce(_.unionByName(_))
      .select(col("walker"), col("step"), col("vertex"))
  }

  /** node2vec-biased walks (Grover & Leskovec, KDD 2016): from vertex v
    * with previous vertex t, a candidate neighbor u is a *return*
    * (u = t, search bias 1/p), *common* (t ~ u, bias 1) or *outward*
    * (bias 1/q) move. Weights here are the three biases scaled to
    * INTEGERS `wReturn : wCommon : wOutward` (e.g. p = 1/2, q = 2 →
    * 2 : 1 : 1/2 → 4 : 2 : 1), which keeps the whole walk in exact
    * integer arithmetic — reproducible across engines, replayable by the
    * DuckDB oracle.
    *
    * Exact weighted choice without RNG state or transcendentals: each
    * candidate u is expanded into `w_u` replicas, every replica draws the
    * pure hash [[biasedStepHash]](walker, step, u, replica), and the
    * walker moves to the candidate owning the MINIMUM replica hash. All
    * ΣW replica hashes are identically-distributed uniforms, so u wins
    * with probability w_u / ΣW — exactly the node2vec transition law.
    * With unit weights every candidate has one replica (index 0, whose
    * hash IS [[stepHash]]), so p = q = 1 degenerates BIT FOR BIT to
    * [[uniformWalks]] (AlgorithmsSpec pins it).
    *
    * The first transition has no previous vertex and is uniform, as in
    * node2vec. Scale shape per step: one keyed join (frontier ⋈ edges),
    * ONE extra equi-join against the canonical edge set to classify
    * candidates (the (prev, u) lookup), a ≤ max-weight row expansion, and
    * a map-side-combinable min — no windows, no per-vertex reducers;
    * mega-hub fan-out spreads across edge partitions exactly as
    * [[uniformWalks]].
    */
  def biasedWalks(g: Graph, starts: DataFrame, steps: Int,
      wReturn: Int = 1, wCommon: Int = 1, wOutward: Int = 1): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(wReturn >= 1 && wCommon >= 1 && wOutward >= 1,
      "bias weights are positive integers (scale 1/p : 1 : 1/q up)")
    // distinct endpoint pairs: symmetricEdges dedups (src, dst, edge_id),
    // so a reciprocal directed pair would survive as two rows and double
    // that candidate's weight in the replica expansion
    val edges = CheckpointPolicy.pin(
      (if (g.directed) g.edges else g.symmetricEdges)
        .select(col(SRC), col(DST)).distinct())
    val frontier = CheckpointPolicy.pin(
      starts.select(col(starts.columns.head).as("walker"))
        .withColumn("vertex", col("walker")))
    val out = Seq.newBuilder[DataFrame]
    out += frontier.select(col("walker"), lit(0).as("step"), col("vertex"))

    // step 1: uniform (no previous vertex) — exactly uniformWalks' step 1
    val h1 = stepHash(col("walker"), 1, col(DST))
    var cur = CheckpointPolicy.pin(
      frontier.join(edges, frontier("vertex") === edges(SRC))
        .groupBy(col("walker"), col("vertex"))
        .agg(min(struct(h1.as("_h"), col(DST).as("_d"))).as("_m"))
        .select(col("walker"), col("vertex").as("prev"),
          col("_m").getField("_d").as("vertex")))
    out += cur.select(col("walker"), lit(1).as("step"), col("vertex"))

    var k = 2
    while (k <= steps && !cur.isEmpty) {
      val cand = cur.join(edges, cur("vertex") === edges(SRC))
      val nbr = edges.select(col(SRC).as("_ts"), col(DST).as("_td"))
      val flagged = cand.join(nbr,
        cand("prev") === col("_ts") && cand(DST) === col("_td"), "left")
      val wgt = when(col(DST) === col("prev"), lit(wReturn.toLong))
        .when(col("_td").isNotNull, lit(wCommon.toLong))
        .otherwise(lit(wOutward.toLong))
      val next = flagged
        .select(col("walker"), col("vertex"), col(DST),
          explode(sequence(lit(0L), wgt - lit(1L))).as("_j"))
        .groupBy(col("walker"), col("vertex"))
        .agg(min(struct(
          biasedStepHash(col("walker"), k, col(DST), col("_j")).as("_h"),
          col(DST).as("_d"), col("_j").as("_r"))).as("_m"))
        .select(col("walker"), col("vertex").as("prev"),
          col("_m").getField("_d").as("vertex"))
      cur = CheckpointPolicy.pin(next)
      out += cur.select(col("walker"), lit(k).as("step"), col("vertex"))
      k += 1
    }
    out.result().reduce(_.unionByName(_))
      .select(col("walker"), col("step"), col("vertex"))
  }
}
