package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}
import graft.algorithms._
import graft.datalog.{DatalogQuery, EdgeRule, VertexRule}
import graft.pregel.Pregel

/** Graph-operator queries over graphs derived from the TPC-H-ish testdata,
  * each paired (where SQL-expressible) with a DuckDB oracle.
  *
  * Graphs used:
  *  - supplier–part graph: `(l_suppkey, l_partkey % 97)` from lineitem —
  *    dense, triangle-rich (id-space overlap makes it non-bipartite);
  *  - orders graph: `(o_custkey, o_orderkey % 211)` — mid-size, used for
  *    degree views;
  *  - region stars: nation -> (1000 + regionkey) — analytic components;
  *  - nation chain: k -> k+1 (or reversed) — analytic paths/distances;
  *  - customer hierarchy: (custkey+10000) -> nationkey -> (1000+regionkey).
  *
  * Queries whose outputs must hash-match SQL construct the graph through
  * the already-indexed path (real keys as LONG ids, the reference's
  * `indexed=True`, graph.py:39-40); `Graph.index`'s surrogate-id path is
  * exercised by the id-invariant triangle count and by the unit specs.
  */
object GraphQueries {
  import Columns._
  import Tables._

  /** Direct construction from already-LONG ids (reference indexed=True). */
  private def indexedGraph(vertices: DataFrame, edges: DataFrame, directed: Boolean): Graph =
    Graph(
      vertices,
      edges.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed)

  private def vertsOf(edges: DataFrame): DataFrame =
    edges.select(col(SRC).as(ID)).union(edges.select(col(DST).as(ID))).distinct()

  /** Lifecycle-store isolation (VERDICT r14): the lifecycle queries
    * (g58/g59/g60/g62) persist catalog tables mid-query. With ONE fixed
    * store name, bench repeat N>1 additionally measured
    * overwrite-over-existing-tables, so a host burst on a repeat was
    * uninterpretable against the other repeats. Every invocation now
    * gets a FRESH name, and [[dropStore]] pins the (small) result and
    * drops the family's tables before returning — each repeat measures
    * exactly what the first pass measured, and no warehouse debris
    * outlives the query. */
  private val storeSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshStoreName(prefix: String, d: String): String =
    s"${prefix}_${d.hashCode & 0x7fffffff}_${storeSeq.incrementAndGet()}"
  private def dropStore(s: SparkSession, name: String, result: DataFrame): DataFrame = {
    val pinned = CheckpointPolicy.pin(result) // eager: materialize before the drop
    graft.sources.GraphIO.family.drop(s, name)
    pinned
  }

  // ---- graph builders -----------------------------------------------------

  private def suppPartEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_suppkey").as(SRC), pmod(col("l_partkey"), lit(97)).as(DST))
      .distinct()

  private def ordersEdges(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(col("o_custkey").as(SRC), pmod(col("o_orderkey"), lit(211)).as(DST))
      .distinct()

  private def starGraph(s: SparkSession, d: String): Graph = {
    val e = nation(s, d).select(
      col("n_nationkey").cast("long").as(SRC),
      (col("n_regionkey").cast("long") + 1000L).as(DST))
    indexedGraph(vertsOf(e), e, directed = false)
  }

  /** nation chain 0 -> 1 -> ... -> 24 */
  private def chainGraph(s: SparkSession, d: String): Graph = {
    val n = nation(s, d).select(col("n_nationkey").cast("long").as(ID))
    val e = n.filter(col(ID) < 24).select(col(ID).as(SRC), (col(ID) + 1L).as(DST))
    indexedGraph(n, e, directed = true)
  }

  /** orders-derived 41-vertex path 0—1—…—40 (`o_orderkey % 40` chained to
    * its successor): diameter 40, so the effective diameter sits far past
    * the exact harmonic face's 16-round lcm envelope — the fixture the
    * DEEP face (bucketed lcm weights) exists for. */
  private def deepPathGraph(s: SparkSession, d: String): Graph = {
    val e = orders(s, d).select(
        pmod(col("o_orderkey"), lit(40)).cast("long").as(SRC),
        (pmod(col("o_orderkey"), lit(40)).cast("long") + 1L).as(DST))
      .distinct()
    indexedGraph(vertsOf(e), e, directed = false)
  }

  /** customer -> nation -> region two-level hierarchy, vertex attr `weight` = id */
  private def hierarchyGraph(s: SparkSession, d: String): Graph = {
    val e = customer(s, d).select(
        (col("c_custkey") + 10000L).as(SRC),
        col("c_nationkey").cast("long").as(DST))
      .union(nation(s, d).select(
        col("n_nationkey").cast("long"),
        col("n_regionkey").cast("long") + 1000L))
      .distinct()
    val v = vertsOf(e).withColumn("weight", col(ID))
    indexedGraph(v, e, directed = true)
  }

  // ---- queries ------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q08_triangles" -> ((s, d) => {
      import s.implicits._
      val e = suppPartEdges(s, d)
      // full surrogate-id indexing path; triangle count is id-invariant
      val g = Graph.index(
        vertsOf(e).withColumnRenamed(ID, "id"),
        e, directed = false)
      Seq(TriangleCount().run(g)).toDF("n_triangles")
    }),

    "g01_degrees" -> ((s, d) => {
      val e = ordersEdges(s, d)
      indexedGraph(vertsOf(e), e, directed = true)
        .outDegrees
    }),

    "g02_degrees_undirected" -> ((s, d) => {
      val e = ordersEdges(s, d)
      val v = customer(s, d).select(col("c_custkey").as(ID))
        .union(e.select(col(SRC))).union(e.select(col(DST))).distinct()
      indexedGraph(v, e, directed = false).degrees
    }),

    "g03_cc_pregel" -> ((s, d) =>
      ConnectedComponents(maxIterations = 10).run(starGraph(s, d))),

    "g04_cc_alternating" -> ((s, d) => {
      val g = starGraph(s, d)
      val cc = AlternatingConnectedComponents(maxIterations = 10).run(g)
      // AltCC labels only vertices present in the edge list; vertices that
      // never appear (isolated) — and possibly representatives — label
      // themselves
      g.vertices.select(col(ID))
        .join(cc, Seq(ID), "left")
        .select(col(ID), coalesce(col(COMPONENT), col(ID)).as(COMPONENT))
    }),

    "g05_bfs_chain" -> ((s, d) =>
      BreadthFirstSearch(
        startExpr = col(ID) === 0L,
        endExpr = col(ID) === 8L,
        maxIterations = 10)
        .run(chainGraph(s, d))
        .select(col(START), col(END), size(col(EDGES)).cast("long").as("path_len"))),

    "g25_bfs_distances" -> ((s, d) =>
      // distance-only BFS (scale default): multi-source from all customer
      // vertices over the customer->nation->hub DAG; dist = hops from the
      // nearest customer
      BreadthFirstSearch.distances(
        hierarchyGraph(s, d), startExpr = col(ID) >= 10000L)),

    "g33_harmonic_closeness" -> ((s, d) => {
      // landmark harmonic centrality on the supplier-part graph: exact
      // integer Σ (lcm(1..24) div d) over 10 fixed landmarks — no float
      // sum, so DuckDB replays the BFS and the fold bit for bit
      val e = suppPartEdges(s, d)
      Closeness.harmonic(
        indexedGraph(vertsOf(e), e, directed = false),
        landmarks = (1L to 10L))
    }),

    "g42_pseudo_diameter" -> ((s, d) => {
      // double-sweep pseudo-diameter of the undirected orders graph:
      // two BFS sweeps (min-id seed -> farthest u -> farthest from u),
      // both argmax picks id-tiebroken, so DuckDB replays the sweeps
      // with two recursive walks
      val e = ordersEdges(s, d)
      BreadthFirstSearch.pseudoDiameter(
        indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g41_louvain" -> ((s, d) => {
      // Louvain phase-1 community refinement on the orders graph: 4
      // semi-synchronous modularity-greedy rounds (parity-alternating
      // movers), all scores exact integers scaled by 2m, so DuckDB
      // replays every round bit for bit
      val e = ordersEdges(s, d)
      Louvain.refine(indexedGraph(vertsOf(e), e, directed = false), rounds = 4)
    }),

    "g55_svdpp" -> ((s, d) => {
      // the FULL SVD++-style predictor over the g52/g53 implicit
      // ratings: bias baseline + rank-1 factors trained on the bias
      // residuals + the implicit-feedback item-factor sum, one exact
      // integer prediction per rating row. Every half-step, the
      // residual frame, the per-user implicit sum and the final
      // prediction are integral-division arithmetic on i64, so DuckDB
      // replays the entire model bit for bit — the reference's one ❌
      // aspiration row (SVDPlusPlus) closed as one predictor.
      // interaction counts SATURATE at 20 (implicit-feedback clipping,
      // the Hu/Koren/Volinsky confidence-cap convention): the model's
      // i64 headroom is a function of the rating bound, so clipping
      // makes the predictor safe at any corpus scale — unbounded counts
      // overflowed the residual solver at the 100x stress corpus
      val ratings = orders(s, d)
        .groupBy(col("o_custkey").as("user"),
          (pmod(col("o_orderkey"), lit(211)) + 1000000L).as("item"))
        .agg(least(count(lit(1)), lit(20L)).as("rating"))
      Als.svdppExact(ratings, biasRounds = 2, iterations = 2,
        lambdaBias = 5L, lambdaFactor = 1L, scale = 10000L, residUnit = 100L)
        .withColumnRenamed("user", "usr")
        .withColumnRenamed("item", "itm")
    }),

    "g56_harmonic_anf" -> ((s, d) => {
      // per-vertex harmonic centrality estimated from the same
      // HyperBall rounds as g54 — the statistic the algorithm is named
      // for: H(v) = Σ_r (|B(v,r)|-|B(v,r-1)|)/r, with the division
      // replaced by exact integer lcm(1..5)/r weights on INTEGER
      // MICRO-UNIT deltas, e_micro = K div s_sum with K one exact
      // integer literal shared by both faces — NO floating point
      // anywhere (the r10 red row was round(x,6)-on-double; the r11
      // red row was an engine-folded double alpha constant: only the
      // all-integer pipeline removes the last-ulp trap).
      val hg = hierarchyGraph(s, d)
      val g = Graph(hg.vertices, hg.edges, directed = false)
      HyperBall.harmonicCentrality(g, p = 4, rounds = 5)
    }),

    "g61_harmonic_anf_sum" -> ((s, d) => {
      // diagnostic twin of g56: the identical integer harmonic pipeline
      // collapsed to one total row (the g54 single-aggregate shape).
      // g61 green + g56 red would localize any residual driver
      // sensitivity to representation/join shape rather than values.
      val hg = hierarchyGraph(s, d)
      val g = Graph(hg.vertices, hg.edges, directed = false)
      HyperBall.harmonicCentrality(g, p = 4, rounds = 5)
        .agg(sum(col("h_lcm_micro")).cast("long").as("h_total"),
          count(lit(1)).as("n_vertices"))
    }),

    "g63_harmonic_deep" -> ((s, d) => {
      // the DEEP harmonic face (VERDICT r13 item 2): rounds = 20 on a
      // path of diameter 40, so the greedy bucket partition actually
      // splits (buckets (1..16, L=720720) and (17..20, L=58140)) and
      // the per-bucket floor divisions both execute — the one r13
      // algorithm face that had a spec but no cross-engine hash gate.
      // Same all-integer pipeline as g56; the oracle replays the bucket
      // partition from the same bucketRounds function, so the two faces
      // cannot silently desync.
      val g = deepPathGraph(s, d)
      HyperBall.harmonicCentralityDeep(g, p = 4, rounds = 20)
    }),

    "g54_hyperball_anf" -> ((s, d) => {
      // HyperBall / ANF on the undirected customer->nation->hub
      // hierarchy: per-vertex portable-HLL ball counters (p=4, the d20
      // register device) grown 5 register-max rounds, the neighbourhood
      // function as an exact decimal sum of the 6-decimal per-vertex
      // estimates, and the 90% effective diameter from all-decimal
      // threshold arithmetic — registers, harmonic sums, estimates and
      // the final flag all replay bit for bit in the unrolled oracle.
      // Complements g42's double-sweep LOWER bound with the
      // scale-standard estimator of the whole distance distribution.
      val hg = hierarchyGraph(s, d)
      val g = Graph(hg.vertices, hg.edges, directed = false)
      val nf = HyperBall.neighbourhoodFunction(g, p = 4, rounds = 5)
      val eff = HyperBall.effectiveDiameter(nf)
      nf.crossJoin(broadcast(eff.select(col("effective_diameter"))))
        .select(col("round"), col("nf"), col("effective_diameter"))
    }),

    "g57_degree_sketch" -> ((s, d) =>
      // per-vertex distinct-out-neighbor HLL sketch on the customer ->
      // order-bucket graph (p=4, the d20 register device keyed by
      // vertex) — the batch face of GraphStream's streaming degree
      // metric (StreamingSpec pins stream ≡ batch on the same
      // transform). One map-side-combinable aggregation, no
      // distinct-neighbors pre-shuffle: the 100 TB live-degree path.
      graft.streaming.GraphStream.neighborSketch(ordersEdges(s, d), p = 4)),

    "g58_graph_append" -> ((s, d) => {
      // the persisted-graph append lifecycle END TO END under the value
      // gate: index 90% of the customer->order-bucket edges, store them
      // bucketed WITH the maintained degree + component tables, fold the
      // remaining 10% in through appendVertices/appendEdges (some batch
      // edges re-deliver stored ones — the anti-join must drop them),
      // and read the maintained degrees back joined to the original id
      // space. Oracle = plain degree counts over the DISTINCT union,
      // because append ≡ whole-rebuild is the lifecycle's contract
      // (components ride along surrogate-labelled — equivalence
      // spec-pinned in GraphAppendSpec; degrees are the portable face).
      val all = orders(s, d).select(
        col("o_custkey").cast("long").as("src"),
        (pmod(col("o_orderkey"), lit(211)) + lit(1000000L)).cast("long").as("dst"),
        pmod(col("o_orderkey"), lit(10L)).as("_slice"))
      def vertsOfE(e: DataFrame): DataFrame =
        e.select(col("src").as("id")).union(e.select(col("dst"))).distinct()
      val e90 = all.filter(col("_slice") =!= 0L).drop("_slice")
      val e10 = all.filter(col("_slice") === 0L).drop("_slice")
      val name = freshStoreName("g58ap", d)
      graft.sources.GraphIO.writeBucketed(
        Graph.index(vertsOfE(e90), e90, directed = true), name, buckets = 8)
      graft.sources.GraphIO.buildComponents(s, name)
      graft.sources.GraphIO.appendVertices(s, name, vertsOfE(e10))
      graft.sources.GraphIO.appendEdges(s, name, e10)
      val v = s.table(s"${name}_vertices")
      dropStore(s, name, graft.sources.GraphIO.readDegrees(s, name)
        .join(v.select(col("id"), col("old_id")), Seq("id"))
        .select(col("old_id"), col("out_degree"), col("in_degree")))
    }),

    "g59_graph_delete" -> ((s, d) => {
      // the DELETION face under the value gate — g58's mirror: index the
      // FULL customer->order-bucket edge set, store it bucketed with the
      // maintained degree table, physically delete the 10% slice through
      // deleteEdges (plus rows that never existed — must no-op), and
      // read the maintained degrees back. Oracle = plain degree counts
      // over the REMAINING distinct edges: delete ≡ rebuild-without is
      // the contract, and the degree table got there by exact integer
      // DECREMENT, never a re-scan.
      val all = orders(s, d).select(
        col("o_custkey").cast("long").as("src"),
        (pmod(col("o_orderkey"), lit(211)) + lit(1000000L)).cast("long").as("dst"),
        pmod(col("o_orderkey"), lit(10L)).as("_slice"))
      def vertsOfE(e: DataFrame): DataFrame =
        e.select(col("src").as("id")).union(e.select(col("dst"))).distinct()
      val eAll = all.drop("_slice")
      val e10 = all.filter(col("_slice") === 0L).drop("_slice")
        // phantom rows that must no-op: DETERMINISTIC construction over
        // a provably disjoint dst range — stored dst is always in
        // [1000000, 1000210] at ANY scale factor, so dst >= 2e9 can
        // never name a stored edge (the previous limit(5)-with-reversal
        // device was nondeterministic AND collided with real edges once
        // custkeys reach the dst range at large SF)
        .unionByName(s.range(1, 6)
          .select(col("id").as("src"), (col("id") + lit(2000000000L)).as("dst")))
      val name = freshStoreName("g59del", d)
      graft.sources.GraphIO.writeBucketed(
        Graph.index(vertsOfE(eAll), eAll, directed = true), name, buckets = 8)
      graft.sources.GraphIO.deleteEdges(s, name, e10)
      val v = s.table(s"${name}_vertices")
      dropStore(s, name, graft.sources.GraphIO.readDegrees(s, name)
        .join(v.select(col("id"), col("old_id")), Seq("id"))
        .select(col("old_id"), col("out_degree"), col("in_degree")))
    }),

    "g62_forest_guard" -> ((s, d) => {
      // the spanning-forest delete guard END TO END under the value
      // gate (VERDICT r12 item 2): a customer–nation–region graph with
      // built-in redundancy (each customer is a cust–nation–region
      // TRIANGLE with its nation's region), components + forest
      // maintained, then two delete waves — customers ≡0 (mod 3) lose
      // the nation edge, ≡0 (mod 5) the region edge. Most deletes hit
      // redundant (often non-forest — repair SKIPPED) edges and change
      // no label; a ≡0 (mod 15) customer loses both and must end up
      // isolated, which forces the cut path. Output is hash-free: each
      // member with its component's MIN ORIGINAL id — region groups
      // keep their min nation key, stranded customers label themselves.
      // Oracle = that closed form; delete ≡ rebuild-without is the
      // contract (forest validity itself is GraphAppendSpec-pinned).
      // odd customers only: halves every lifecycle phase while both
      // delete waves (mod 3 / mod 5 on the key) stay non-empty
      val cust = customer(s, d)
        .filter(pmod(col("c_custkey"), lit(2L)) === 1L)
        .select(
          (col("c_custkey").cast("long") + 10000L).as("cid"),
          col("c_nationkey").cast("long").as("nk"))
      val nat = nation(s, d).select(
        col("n_nationkey").cast("long").as("nk"),
        (col("n_regionkey").cast("long") + 1000L).as("rk"))
      val e1 = cust.select(col("cid").as("src"), col("nk").as("dst"))
      val e2 = cust.join(nat, Seq("nk"))
        .select(col("cid").as("src"), col("rk").as("dst"))
      val e3 = nat.select(col("nk").as("src"), col("rk").as("dst"))
      val rawE = e1.unionByName(e2).unionByName(e3)
      val rawV = rawE.select(col("src").as("id"))
        .union(rawE.select(col("dst"))).distinct()
      val name = freshStoreName("g62fg", d)
      graft.sources.GraphIO.writeBucketed(
        Graph.index(rawV, rawE, directed = false), name, buckets = 8)
      graft.sources.GraphIO.buildComponents(s, name)
      graft.sources.GraphIO.buildForest(s, name)
      // one delete call for both waves: the batch mixes non-forest rows
      // (skipped repair if none cut) with certain cuts (the mod-15
      // stranding), and a single bounded repair + certificate re-span
      // covers the union — two calls would pay the affected-mass repair
      // twice for the same end state
      graft.sources.GraphIO.deleteEdges(s, name,
        e1.filter(pmod(col("src") - 10000L, lit(3L)) === 0L)
          .unionByName(e2.filter(pmod(col("src") - 10000L, lit(5L)) === 0L)))
      val v = s.table(s"${name}_vertices")
      val m = graft.sources.GraphIO.readComponents(s, name)
        .join(v.select(col("id"), col("old_id")), Seq("id"))
      val reps = m.groupBy(col("component"))
        .agg(min(col("old_id")).as("component_rep"))
      dropStore(s, name, m.join(reps, Seq("component"))
        .select(col("old_id").as("member_id"), col("component_rep")))
    }),

    "g64_refresh_labels" -> ((s, d) => {
      // the r15 SCOPED-refresh face under the value gate: g62's
      // lifecycle (cust–nation–region triangles, components + forest
      // maintained, two delete waves) EXTENDED by a re-bridging append
      // — the mod-15 customers the waves stranded get their nation edge
      // back, a component-crossing append that merges their singletons
      // into the region group and witnesses itself in the certificate —
      // and closed by refreshLabels: the labels-only rebuild must agree
      // with both the maintained labels it replaces (repair/merge ≡
      // rebuild, spec-pinned) and the closed form, while leaving the
      // maintained certificate untouched. With everyone re-attached the
      // closed form loses g62's stranded CASE: every member labels at
      // its region group's min nation key.
      val cust = customer(s, d)
        .filter(pmod(col("c_custkey"), lit(2L)) === 1L)
        .select(
          (col("c_custkey").cast("long") + 10000L).as("cid"),
          col("c_nationkey").cast("long").as("nk"))
      val nat = nation(s, d).select(
        col("n_nationkey").cast("long").as("nk"),
        (col("n_regionkey").cast("long") + 1000L).as("rk"))
      val e1 = cust.select(col("cid").as("src"), col("nk").as("dst"))
      val e2 = cust.join(nat, Seq("nk"))
        .select(col("cid").as("src"), col("rk").as("dst"))
      val e3 = nat.select(col("nk").as("src"), col("rk").as("dst"))
      val rawE = e1.unionByName(e2).unionByName(e3)
      val rawV = rawE.select(col("src").as("id"))
        .union(rawE.select(col("dst"))).distinct()
      val name = freshStoreName("g64rl", d)
      graft.sources.GraphIO.writeBucketed(
        Graph.index(rawV, rawE, directed = false), name, buckets = 8)
      graft.sources.GraphIO.buildComponents(s, name)
      graft.sources.GraphIO.buildForest(s, name)
      graft.sources.GraphIO.deleteEdges(s, name,
        e1.filter(pmod(col("src") - 10000L, lit(3L)) === 0L)
          .unionByName(e2.filter(pmod(col("src") - 10000L, lit(5L)) === 0L)))
      graft.sources.GraphIO.appendEdges(s, name,
        e1.filter(pmod(col("src") - 10000L, lit(15L)) === 0L))
      graft.sources.GraphIO.refreshLabels(s, name)
      val v = s.table(s"${name}_vertices")
      val m = graft.sources.GraphIO.readComponents(s, name)
        .join(v.select(col("id"), col("old_id")), Seq("id"))
      val reps = m.groupBy(col("component"))
        .agg(min(col("old_id")).as("component_rep"))
      dropStore(s, name, m.join(reps, Seq("component"))
        .select(col("old_id").as("member_id"), col("component_rep")))
    }),

    "g53_bias_baseline" -> ((s, d) => {
      // the bias-baseline predictor (r-hat = mu + b_u + b_i), the
      // standard stage BEFORE factor models: two alternating shrunk-
      // residual rounds in exact 1e4-scaled integers over the same
      // implicit ratings as g52. Spark `div` and DuckDB `//` both
      // truncate toward zero (negative residuals included), so the
      // oracle replays mu and all four half-steps exactly.
      val ratings = orders(s, d)
        .groupBy(col("o_custkey").as("user"),
          (pmod(col("o_orderkey"), lit(211)) + 1000000L).as("item"))
        .agg(count(lit(1)).as("rating"))
      Als.biasBaselineExact(ratings, rounds = 2, lambda = 5L, scale = 10000L)
    }),

    "g52_als_factorization" -> ((s, d) => {
      // ALS matrix factorization on the bipartite customer x order-
      // bucket interaction graph (rating = interaction count — the
      // implicit-feedback convention), in the exact scaled-integer
      // rank-1 face: factors are 1e4-scaled i64, each half-step one
      // keyed join + combinable integer sums + one integral division,
      // so DuckDB replays both alternations bit for bit. The rank-k
      // float solver (Als.fit, per-row Cholesky normal equations) is
      // spec-verified instead — float iteration has no bit-exact SQL
      // twin (AlsSpec documents why).
      val ratings = orders(s, d)
        .groupBy(col("o_custkey").as("user"),
          (pmod(col("o_orderkey"), lit(211)) + 1000000L).as("item"))
        .agg(count(lit(1)).as("rating"))
      Als.fitRank1Exact(ratings, iterations = 2, lambda = 1L, scale = 10000L)
    }),

    "g51_louvain_fit" -> ((s, d) => {
      // the MULTI-LEVEL Louvain driver (g41 runs one flat refine): 4
      // level-0 rounds, contraction into the weighted community
      // supergraph, 4 weighted rounds, composite mapping back to
      // original vertices. minGain = -inf pins the fixed two-level
      // shape so the oracle can unroll it; the adaptive
      // stop-on-modularity-stall face is spec-tested on the barbell
      // fixture (AlgorithmsSpec)
      val e = ordersEdges(s, d)
      Louvain.fit(indexedGraph(vertsOf(e), e, directed = false),
        maxLevels = 2, roundsPerLevel = 4,
        minGain = Double.NegativeInfinity)
    }),

    "g43_eigenvector" -> ((s, d) => {
      // eigenvector centrality on the undirected orders graph: 3 power-
      // iteration rounds (x <- A x, L2-normalized), oracle-checked like
      // g28 via an unrolled CTE with round(...,9) absorbing
      // summation-order ulps
      val e = ordersEdges(s, d)
      EigenvectorCentrality(maxIterations = 3)
        .run(indexedGraph(vertsOf(e), e, directed = false))
        .select(col(ID), round(col("score"), 9).as("score"))
    }),

    "g50_feature_propagation" -> ((s, d) => {
      // 2-hop GNN-style mean aggregation (the GCN/GraphSAGE smoothing
      // primitive that turns a graph into per-node training features):
      // h0 = degree, h1 = mean of neighbour h0, h2 = mean of neighbour
      // h1 — each hop ONE keyed join + one combinable sum, features
      // kept exact as 1e6-scaled i64 (integer div), so any engine
      // replays both hops bit for bit and deep stacks never accumulate
      // float drift. Per-hop cost is one shuffle of the edge list —
      // the scan-bound shape GNN pre-processing needs at 100 TB
      val e = lineitem(s, d)
        .select(col("l_suppkey").as(SRC),
          (pmod(col("l_partkey"), lit(97)) + 1000000L).as(DST))
        .distinct()
      val sym = e.unionAll(e.select(col(DST).as(SRC), col(SRC).as(DST)))
      val deg = sym.groupBy(col(SRC).as(ID)).agg(count(lit(1)).as("degree"))
      val h1 = sym
        .join(deg.select(col(ID).as(DST), col("degree").as("_hd")), Seq(DST))
        .groupBy(col(SRC).as(ID)).agg(sum(col("_hd")).as("_s1"))
        .join(deg, Seq(ID))
        .select(col(ID), col("degree"),
          expr("(1000000 * _s1) div degree").as("h1"))
      sym
        .join(h1.select(col(ID).as(DST), col("h1").as("_h1d")), Seq(DST))
        .groupBy(col(SRC).as(ID)).agg(sum(col("_h1d")).as("_s2"))
        .join(h1, Seq(ID))
        .select(col(ID), col("degree"), col("h1"),
          expr("_s2 div degree").as("h2"))
    }),

    "g49_speculative_coloring" -> ((s, d) => {
      // speculative coloring of the dense BIPARTITE orders graph (part
      // buckets offset by 1e6, the g37 device) — the hub shape JP (g48)
      // stalls on: every uncolored vertex proposes the mex of its
      // colored neighbours each round, conflicts resolve to the higher
      // (priority, id) endpoint. Drains in 6 / 2 rounds at the gate SFs
      // and 2 at 10x (the denser the faster — more colored evidence per
      // round); the oracle unrolls 10 (identity past the fixpoint), so
      // maxRounds = 11 pins the Spark-side bound to <= 10 coloring
      // rounds — the oracle can never be outrun at a new SF (ADVICE r8).
      // WITHOUT the offset, bucket ids collide with customer ids and
      // the leftover hub set is a near-clique — χ ≈ |hubs| — which no
      // parallel coloring drains fast; coloring targets bounded-χ
      // graphs, and the probe records that finding
      val e = orders(s, d)
        .select(col("o_custkey").as(SRC),
          (pmod(col("o_orderkey"), lit(211)) + 1000000L).as(DST))
        .distinct()
      GraphColoring(maxRounds = 11)
        .runSpeculative(indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g48_coloring" -> ((s, d) => {
      // Jones-Plassmann coloring of the customer hierarchy plus a
      // 25-nation ring (the odd cycle forces a third color). The tree-
      // plus-ring shape drains in 8 rounds at both gate SFs (dense
      // bipartite graphs stall JP on hub-ordering chains — a hub can't
      // win until its higher-priority neighbors are colored — so the
      // sparse hierarchy is the right demo); the oracle unrolls 12
      // (identity past the fixpoint)
      val cst = customer(s, d)
      val nat = nation(s, d)
      val e = cst.select((col("c_custkey") + 10000L).as(SRC),
          col("c_nationkey").cast("long").as(DST))
        .union(nat.select(col("n_nationkey").cast("long"),
          (col("n_regionkey") + 1000L).cast("long")))
        .union(nat.select(col("n_nationkey").cast("long"),
          pmod(col("n_nationkey") + 1, lit(25)).cast("long")))
      GraphColoring(maxRounds = 12)
        .run(indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g47_weighted_pagerank" -> ((s, d) => {
      // weighted PageRank on the orders graph with edge weight = order
      // multiplicity per (customer, bucket): rank distributes
      // proportionally to interaction count. Integer weights keep the
      // weight sums exact, so the share is one correctly-rounded
      // division and the unrolled oracle replays every round; round(,9)
      // absorbs summation-order ulps as in g21
      val e = orders(s, d)
        .groupBy(col("o_custkey").as(SRC),
          pmod(col("o_orderkey"), lit(211)).as(DST))
        .agg(count(lit(1)).as("weight"))
      PageRank(maxIterations = 3, weightCol = Some("weight"))
        .run(indexedGraph(vertsOf(e), e, directed = true))
        .select(col(ID), round(col("rank"), 9).as("rank"))
    }),

    "g46_butterflies" -> ((s, d) =>
      // butterfly (2x2 biclique) census of the bipartite supplier-part
      // graph. Suppliers are the centers: the same count arrives from
      // either side, but supplier degree is capped at 97 buckets while
      // bucket degree grows with supplier count, so center-side wedge
      // work is Σ deg(supplier)² — the cheap orientation (g36's
      // degree-ordering principle, bipartite edition)
      Butterflies.metrics(
        lineitem(s, d).select(col("l_suppkey").as("center"),
          pmod(col("l_partkey"), lit(97)).as("item")),
        "center", "item")),

    "g45_boruvka_msf" -> ((s, d) => {
      // Borůvka minimum spanning forest of the weighted bipartite
      // supplier-part graph (weight = min l_quantity per edge, the g37
      // device). Each round every component adopts its lightest
      // outgoing edge ((w, src, dst)-tiebroken, so the forest is
      // deterministic even where the MSF is not unique) and adopted
      // edges contract via min-id connected components; the oracle
      // replays each round with a per-round recursive-closure CTE
      val e = lineitem(s, d)
        .groupBy(col("l_suppkey").as(SRC),
          (pmod(col("l_partkey"), lit(97)) + 1000000L).as(DST))
        .agg(min(col("l_quantity")).cast("long").as("weight"))
      Boruvka(maxRounds = 6).run(e)
    }),

    "g44_link_prediction" -> ((s, d) => {
      // item-item co-purchase link prediction: customers are wedge
      // centers, part buckets the items; common-neighbor, integer-exact
      // resource-allocation, and Jaccard scores for the top-100 pairs.
      // Candidates come only from the per-customer equi-self-join with
      // the hub cap (60) bounding fan-out — no cartesian anywhere
      val e = lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("center"),
          pmod(col("l_partkey"), lit(211)).as("item"))
      LinkPrediction.coOccurrenceScores(
        e, "center", "item", maxCenterDegree = 60, topK = 100)
    }),

    "g40_betweenness" -> ((s, d) => {
      // landmark (sampled-Brandes) betweenness on the supplier-part
      // graph: forward sigma-counting BFS + backward dependency
      // accumulation from 10 fixed landmarks, both replayed level by
      // level in DuckDB (sigma exact integers; delta double sums with
      // round-6 absorbing summation-order ulps)
      val e = suppPartEdges(s, d)
      Betweenness.landmark(
        indexedGraph(vertsOf(e), e, directed = false),
        landmarks = (1L to 10L), maxDepth = 6)
        .select(col(ID), round(col("bc"), 6).as("bc"))
    }),

    "g34_modularity" -> ((s, d) => {
      // modularity scoring of a vertex partition on the supplier-part
      // graph (community = id mod 7 — a fixed analytic labelling, so the
      // oracle needs no iterative replay): per-community m_in / deg_sum
      // exact integers + one fixed-order float contribution
      val e = suppPartEdges(s, d)
      val g = indexedGraph(vertsOf(e), e, directed = false)
      Modularity.perCommunity(g,
        g.vertices.select(col(ID), pmod(col(ID), lit(7L)).as("community")))
    }),

    "g35_assortativity" -> ((s, d) => {
      // degree assortativity of the supplier-part graph: exact integer
      // moment sums + one fixed-order double formula
      val e = suppPartEdges(s, d)
      Assortativity.degreeAssortativity(
        indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g07_jaccard" -> ((s, d) =>
      JaccardSimilarity().run(starGraph(s, d))),

    "g13_overlap" -> ((s, d) =>
      OverlapCoefficient().run(starGraph(s, d))),

    "g24_approx_jaccard" -> ((s, d) => {
      // LSH scale path for neighbourhood similarity: candidates from
      // MinHash banding, exact verify — oracle-comparable because every
      // pair at s >= 0.8 is caught with certainty (this dataset's
      // qualifying pairs all sit at s >= 0.97, where 16 bands of r=4 miss
      // with probability (1-0.97^4)^16 ~ 1e-15); 64 hashes halve the
      // signature/banding cost of the default profile
      val e = suppPartEdges(s, d)
      Similarity.approxJaccard(
        indexedGraph(vertsOf(e), e, directed = false), threshold = 0.8,
        numHashes = 64, bands = 16)
    }),

    "g08_wl_hash" -> ((s, d) => {
      import s.implicits._
      // sha-256 labels (not the sha1 default): DuckDB 1.x ships sha256 but
      // not sha1, and a cross-engine hash makes the whole 3-iteration WL
      // relabeling + canonical digest oracle-checkable end to end
      Seq(WLKernel(hashFunc = c => sha2(c, 256), maxIterations = 3)
        .run(starGraph(s, d))).toDF("wl_hash")
    }),

    "g09_katz" -> ((s, d) =>
      KatzIndex(beta = 0.5, maxIterations = 4).run(chainGraph(s, d))),

    "g10_datalog" -> ((s, d) =>
      DatalogQuery(
        projection = Seq(col("a"), col("b"), col("c")),
        premises = Seq(
          VertexRule("a", condition = col(ID) >= 10000L),
          EdgeRule("a", "b"),
          EdgeRule("b", "c")),
        negatedPremises = Seq(EdgeRule("a", "c")))
        .apply(hierarchyGraph(s, d))),

    "g11_aggregate_messages" -> ((s, d) =>
      AggregateMessages(
        agg = sum(col(MSG)),
        toDst = Some(AggregateMessages.srcCol("weight")))
        .run(hierarchyGraph(s, d))),

    "g12_shortest_paths" -> ((s, d) => {
      // reversed chain: k -> k-1, so every vertex reaches landmark 0
      val n = nation(s, d).select(col("n_nationkey").cast("long").as(ID))
      val e = n.filter(col(ID) > 0).select(col(ID).as(SRC), (col(ID) - 1L).as(DST))
      val g = indexedGraph(n, e, directed = true)
      ShortestPaths(landmarks = Seq(0L), maxIterations = 30)
        .run(g)
        .select(col(ID), explode(col("distances")).as(Seq("landmark", "dist")))
    }),

    "g14_adjacency" -> ((s, d) =>
      // adjacency-list view (graph.py:82-93); the array is flattened to a
      // sorted comma-joined string because the driver's pandas compare
      // cannot sort/hash array cells
      starGraph(s, d).adjacency
        .select(col(ID),
          array_join(array_sort(col(ADJ)).cast("array<string>"), ",").as(ADJ))),

    "g15_triplets" -> ((s, d) =>
      // triplet view (graph.py:110-122) on the customer->nation->region
      // hierarchy; edge_id (engine-internal hash) projected out
      hierarchyGraph(s, d)
        .triplets("s_", "d_")
        .select(col(SRC), col(DST), col("s_weight"), col("d_weight"))),

    "g16_in_degrees" -> ((s, d) => {
      val e = ordersEdges(s, d)
      indexedGraph(vertsOf(e), e, directed = true).inDegrees
    }),

    "g17_pregel_max" -> ((s, d) =>
      // direct Pregel use: max-id propagation over the undirected star
      // graph — every vertex converges to its component's hub id (1000+r)
      Pregel(
        initialState = col(ID),
        aggExpr = max(col(MSG)),
        msgToSrc = Some(col(STATE)),
        msgToDst = Some(col(STATE)),
        updateExpr = Some(greatest(col(MSG), col(STATE))),
        maxIterations = 10)
        .run(starGraph(s, d))
        .select(col(ID), col(STATE).as("max_reach"))),

    "g18_motif_path2" -> ((s, d) =>
      // matchStructure (util.py:28-32) directly: length-2 paths a->b->c
      // on the nation chain
      GraphUtil.matchStructure(
        chainGraph(s, d).edges, Seq("a" -> "b", "b" -> "c"))),

    "g19_degree_stats" -> ((s, d) => {
      val e = ordersEdges(s, d)
      indexedGraph(vertsOf(e), e, directed = true).degreeStats
    }),

    "g20_hubs" -> ((s, d) => {
      val e = ordersEdges(s, d)
      indexedGraph(vertsOf(e), e, directed = true).hubVertices(12L)
    }),

    "g26_tagged_hubs" -> ((s, d) => {
      // withVertexColumn (graph.py's vertex-attribute extension point)
      // routed through the oracle: tag every vertex with a derived
      // attribute on the Graph's vertex frame, then join the tag into the
      // hub listing so the oracle checks the attribute VALUES per vertex,
      // not just the column's existence (the last §2 component whose
      // correctness rested on a unit spec alone)
      val e = ordersEdges(s, d)
      val g = indexedGraph(vertsOf(e), e, directed = true)
        .withVertexColumn("id_tag", pmod(col(ID), lit(7L)))
      g.hubVertices(12L)
        .join(g.vertices.select(col(ID), col("id_tag")), Seq(ID))
    }),

    "g23_triangles_per_vertex" -> ((s, d) => {
      // local-clustering numerator on the supplier-part graph, real ids so
      // the oracle can reproduce values
      val e = suppPartEdges(s, d)
      TriangleCount.perVertex(indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g22_scc" -> ((s, d) => {
      // nation ring 0->1->...->24->0 plus a tail ring->star: the ring is
      // one SCC labelled by its min id, star hubs are singletons
      val n = nation(s, d).select(col("n_nationkey").cast("long").as(ID))
      val ring = n.select(col(ID).as(SRC),
          (pmod(col(ID) + 1L, lit(25L))).as(DST))
      val tail = nation(s, d).select(
        col("n_nationkey").cast("long").as(SRC),
        (col("n_regionkey").cast("long") + 1000L).as(DST))
      val e = ring.unionByName(tail)
      val v = vertsOf(e)
      // inner min-label propagation runs to its fixed point (the ring's
      // diameter 24 is well under the loud-failure safety cap)
      StronglyConnectedComponents()
        .run(indexedGraph(v, e, directed = true))
    }),

    "g21_pagerank" -> ((s, d) => {
      // oracle-checked: 5 fixed iterations of double arithmetic, mirrored
      // op-for-op by an unrolled CTE in DuckDB; round(...,9) absorbs the
      // last-ulp drift from differing summation orders (values ~1e-3,
      // accumulated sum error ~1e-16 — nine decimals is 6+ orders of
      // margin from any rounding boundary)
      val e = ordersEdges(s, d)
      PageRank(maxIterations = 5)
        .run(indexedGraph(vertsOf(e), e, directed = true))
        .select(col(ID), round(col("rank"), 9).as("rank"))
    }),

    "g60_ranks_lifecycle" -> ((s, d) => {
      // the maintained-ranks lifecycle under the value gate: store the
      // orders graph bucketed, buildRanks COLD (5 fixed rounds — g21's
      // exact arithmetic riding the unpinned bucketed-routes plan),
      // and read the persisted table back. Oracle = g21's unrolled CTE:
      // the storage round-trip and the zero-exchange plan shape must
      // not move a single value past the shared round(...,9)
      // summation-order absorber. (The WARM face — runFrom after an
      // append — is spec-pinned instead: its mass renormalization has
      // no bit-exact SQL twin.)
      val e = ordersEdges(s, d)
      val name = freshStoreName("g60rk", d)
      graft.sources.GraphIO.writeBucketed(
        indexedGraph(vertsOf(e), e, directed = true), name, buckets = 8)
      graft.sources.GraphIO.buildRanks(s, name, maxIterations = 5)
      dropStore(s, name, graft.sources.GraphIO.readRanks(s, name)
        .select(col(ID), round(col("rank"), 9).as("rank")))
    }),

    "g27_ppr" -> ((s, d) => {
      // personalized PageRank from the id%17==0 seed set: teleport and
      // dangling mass return to the seeds, so rank measures closeness to
      // THEM, not global importance. Oracle-checked like g21: 5 fixed
      // rounds mirrored op-for-op by an unrolled CTE, round(...,9)
      // absorbing last-ulp summation-order drift.
      val e = ordersEdges(s, d)
      val v = vertsOf(e)
      val seeds = v.filter(pmod(col(ID), lit(17L)) === 0L)
        .select(col(ID), lit(1.0).as("weight"))
      PageRank(maxIterations = 5)
        .runPersonalized(indexedGraph(v, e, directed = true), seeds)
        .select(col(ID), round(col("rank"), 9).as("rank"))
    }),

    "g28_hits" -> ((s, d) => {
      // HITS hubs/authorities, 3 power-iteration rounds with L2
      // normalization; oracle-checked like g21/g27 via an unrolled CTE
      // that mirrors every half-round (gather, scalar norm, divide)
      // op-for-op, round(...,9) absorbing summation-order drift.
      val e = ordersEdges(s, d)
      Hits(maxIterations = 3)
        .run(indexedGraph(vertsOf(e), e, directed = true))
        .select(col(ID), round(col("hub"), 9).as("hub"),
          round(col("authority"), 9).as("authority"))
    }),

    "g30_clustering_coeff" -> ((s, d) => {
      // local clustering coefficient on the supplier-part graph: exact
      // integer numerator/denominator, ONE correctly-rounded IEEE
      // division — bit-identical across engines with no rounding
      val e = suppPartEdges(s, d)
      TriangleCount.clusteringCoefficient(
        indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g31_kcore" -> ((s, d) => {
      // 15-core of the orders graph by iterative peeling (converges in
      // <=4 rounds here; the oracle unrolls 8 — extra rounds are no-ops
      // past the fixpoint, so convergence-based and unrolled agree)
      val e = ordersEdges(s, d)
      KCore.run(indexedGraph(vertsOf(e), e, directed = false), k = 15)
    }),

    "g38_mis" -> ((s, d) => {
      // deterministic Luby maximal independent set on the orders graph:
      // per-round (vertex, round) sha256 priorities, winners beat every
      // undecided neighbor, neighbors of winners drop out. Converges in
      // 2-3 rounds here; the oracle unrolls 6 (identity once the
      // undecided set is empty)
      val e = ordersEdges(s, d)
      MaximalIndependentSet.run(indexedGraph(vertsOf(e), e, directed = false))
    }),

    "g37_weighted_sssp" -> ((s, d) => {
      // weighted single-source shortest paths (Bellman-Ford min-plus):
      // the supplier-part graph with weight = min l_quantity per edge
      // (exact integer), undirected, one landmark. The part-bucket side
      // is offset by 1e6 (the starGraph device) so supplier ids and
      // part buckets live in disjoint namespaces and the graph is
      // genuinely bipartite. Every relaxation round is the same join +
      // min-aggregate as g12 with +1 replaced by +weight; the oracle
      // unrolls the rounds (min-plus is monotone, so rounds past the
      // fixpoint are identity)
      val e = lineitem(s, d)
        .groupBy(col("l_suppkey").as(SRC),
          (pmod(col("l_partkey"), lit(97)) + 1000000L).as(DST))
        .agg(min(col("l_quantity")).cast("long").as("weight"))
      val g = indexedGraph(vertsOf(e), e, directed = false)
      ShortestPaths(landmarks = Seq(1L), maxIterations = 10,
          weightCol = Some("weight"))
        .run(g)
        .select(col(ID), explode(col("distances")).as(Seq("landmark", "dist")))
    }),

    "g36_ktruss" -> ((s, d) => {
      // 5-truss of the orders graph: every surviving edge closes >= 3
      // triangles within the truss. Edge-support peeling converges in
      // <=7 rounds at both gate SFs; the oracle unrolls 10 (rounds past
      // the fixpoint are identity, same argument as g31)
      val e = ordersEdges(s, d)
      KTruss.run(indexedGraph(vertsOf(e), e, directed = false), k = 5)
    }),

    "g29_walks" -> ((s, d) => {
      // deterministic uniform random walks (DeepWalk/node2vec p=q=1
      // training data): 4 steps from every id%13==0 vertex over the
      // UNDIRECTED orders graph. Each step is a pure hash choice, so
      // DuckDB replays every walk bit for bit with unrolled CTEs.
      val e = ordersEdges(s, d)
      val v = vertsOf(e)
      val g = indexedGraph(v, e, directed = false)
      RandomWalks.uniformWalks(g,
        v.filter(pmod(col(ID), lit(13L)) === 0L).select(col(ID)), steps = 4)
    }),

    "g39_node2vec_walks" -> ((s, d) => {
      // node2vec-biased walks (p = 1/2, q = 2 scaled to integer weights
      // 4 : 2 : 1 — return-biased, neighborhood-keeping): 4 steps from
      // every id%13==0 vertex over the UNDIRECTED orders graph. The
      // weighted choice is the replica-min pure-hash device
      // (RandomWalks.biasedWalks), so DuckDB replays every walk bit for
      // bit with unrolled CTEs; unit weights degenerate to g29 exactly.
      val e = ordersEdges(s, d)
      val v = vertsOf(e)
      val g = indexedGraph(v, e, directed = false)
      RandomWalks.biasedWalks(g,
        v.filter(pmod(col(ID), lit(13L)) === 0L).select(col(ID)), steps = 4,
        wReturn = 4, wCommon = 2, wOutward = 1)
    }),

    "g06_label_propagation" -> ((s, d) => {
      // oracle-checked: 5 fixed supersteps of deterministic-mode label
      // propagation, mirrored by an unrolled CTE (labelPropagationOracleSql)
      // that reproduces Pregel's exact message discipline — only vertices
      // changed in the previous superstep send, receivers without messages
      // keep state, mode ties break to the smallest label
      val e = suppPartEdges(s, d)
      LabelPropagation(maxIterations = 5)
        .run(indexedGraph(vertsOf(e), e, directed = false))
    }))

  private val suppPartEdgesSql =
    """SELECT DISTINCT l_suppkey AS src, l_partkey % 97 AS dst FROM lineitem"""

  private val ordersEdgesSql =
    """SELECT DISTINCT o_custkey AS src, o_orderkey % 211 AS dst FROM orders"""

  private val starEdgesSql =
    """SELECT CAST(n_nationkey AS BIGINT) AS src,
      | CAST(n_regionkey + 1000 AS BIGINT) AS dst FROM nation""".stripMargin

  private val hierarchyEdgesSql =
    """SELECT CAST(c_custkey + 10000 AS BIGINT) AS src,
      |  CAST(c_nationkey AS BIGINT) AS dst FROM customer
      |UNION
      |SELECT CAST(n_nationkey AS BIGINT),
      |  CAST(n_regionkey + 1000 AS BIGINT) FROM nation""".stripMargin

  /** Unrolled PageRank oracle: one (dangling, contrib, rank) CTE triple
    * per iteration, every double operation ordered exactly as
    * [[graft.algorithms.PageRank]] computes it — (1-d)/n teleport,
    * (d*dm)/n dangling share, share = 1.0/out_degree multiplied (not
    * divided) into the contribution sum.
    */
  private def pageRankOracleSql(iterations: Int): String = {
    val head =
      s"""WITH e AS ($ordersEdgesSql),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         |routes AS (SELECT e.src, e.dst, 1.0 / od.od AS share
         |           FROM e JOIN od ON e.src = od.src),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""d$k AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM pr${k - 1}
         |        WHERE id NOT IN (SELECT src FROM od)),
         |c$k AS (SELECT r.dst AS id, sum(p.rank * r.share) AS contrib
         |        FROM pr${k - 1} p JOIN routes r ON p.id = r.src GROUP BY r.dst),
         |pr$k AS (SELECT v.id,
         |          ((1.0 - 0.85) / (SELECT n FROM nn)
         |            + (0.85 * (SELECT dm FROM d$k)) / (SELECT n FROM nn))
         |           + 0.85 * coalesce(c.contrib, 0.0) AS rank
         |         FROM v LEFT JOIN c$k c ON v.id = c.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, round(rank, 9) AS rank FROM pr$iterations"
  }

  /** Unrolled personalized-PageRank oracle: same machinery as
    * [[pageRankOracleSql]] with the uniform teleport replaced by the
    * normalized seed vector `w` (id%17==0, equal weights). The scalar
    * round factor ((1-d) + d*danglingMass) is forced to DOUBLE arithmetic
    * (leading CAST) so it reproduces the Scala driver's doubles bit for
    * bit; only the aggregation sums can drift, absorbed by round(...,9).
    */
  private def personalizedPageRankOracleSql(iterations: Int): String = {
    val head =
      s"""WITH e AS ($ordersEdgesSql),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
         |routes AS (SELECT e.src, e.dst, 1.0 / od.od AS share
         |           FROM e JOIN od ON e.src = od.src),
         |sw AS (SELECT id, CASE WHEN id % 17 = 0
         |         THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS w0
         |       FROM v),
         |wt AS (SELECT sum(w0) AS t FROM sw),
         |w AS (SELECT id, w0 / (SELECT t FROM wt) AS w FROM sw),
         |pr0 AS (SELECT id, w AS rank FROM w)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""d$k AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM pr${k - 1}
         |        WHERE id NOT IN (SELECT src FROM od)),
         |c$k AS (SELECT r.dst AS id, sum(p.rank * r.share) AS contrib
         |        FROM pr${k - 1} p JOIN routes r ON p.id = r.src GROUP BY r.dst),
         |pr$k AS (SELECT w.id,
         |          w.w * ((CAST(1.0 AS DOUBLE) - 0.85)
         |                  + 0.85 * (SELECT dm FROM d$k))
         |           + 0.85 * coalesce(c.contrib, 0.0) AS rank
         |         FROM w LEFT JOIN c$k c ON w.id = c.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, round(rank, 9) AS rank FROM pr$iterations"
  }

  /** Unrolled HITS oracle: per round, authority = Σ inbound hub then
    * L2-normalize, hub = Σ outbound authority then L2-normalize — the
    * scalar norms are subquery aggregates, mirroring the driver's
    * single-row scalar jobs. round(...,9) absorbs last-ulp
    * summation-order drift exactly as in [[pageRankOracleSql]]. */
  private def hitsOracleSql(iterations: Int): String = {
    val head =
      s"""WITH e AS ($ordersEdgesSql),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM v)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""ar$k AS (SELECT e.dst AS id, sum(h.hub) AS a
         |         FROM h${k - 1} h JOIN e ON h.id = e.src GROUP BY e.dst),
         |an$k AS (SELECT sqrt(sum(a * a)) AS nrm FROM ar$k),
         |a$k AS (SELECT v.id,
         |          coalesce(r.a, 0.0) / (SELECT nrm FROM an$k) AS authority
         |        FROM v LEFT JOIN ar$k r ON v.id = r.id),
         |hr$k AS (SELECT e.src AS id, sum(a.authority) AS h
         |         FROM a$k a JOIN e ON a.id = e.dst GROUP BY e.src),
         |hn$k AS (SELECT sqrt(sum(h * h)) AS nrm FROM hr$k),
         |h$k AS (SELECT v.id,
         |          coalesce(r.h, 0.0) / (SELECT nrm FROM hn$k) AS hub
         |        FROM v LEFT JOIN hr$k r ON v.id = r.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"""
         |SELECT h.id, round(h.hub, 9) AS hub,
         |       round(a.authority, 9) AS authority
         |FROM h$iterations h JOIN a$iterations a ON h.id = a.id""".stripMargin
  }

  /** Unrolled eigenvector-centrality oracle: undirected closure, then per
    * round score = Σ neighbor scores, L2-normalized via a scalar subquery
    * aggregate — the single-vector restriction of [[hitsOracleSql]].
    * round(...,9) absorbs last-ulp summation-order drift. */
  private def eigenvectorOracleSql(iterations: Int): String = {
    val head =
      s"""WITH e0 AS ($ordersEdgesSql),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS score FROM v)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (SELECT e.dst AS id, sum(x.score) AS s
         |        FROM x${k - 1} x JOIN e ON x.id = e.src GROUP BY e.dst),
         |n$k AS (SELECT sqrt(sum(s * s)) AS nrm FROM r$k),
         |x$k AS (SELECT v.id,
         |          coalesce(r.s, 0.0) / (SELECT nrm FROM n$k) AS score
         |        FROM v LEFT JOIN r$k r ON v.id = r.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, round(score, 9) AS score FROM x$iterations"
  }

  /** Unrolled random-walk oracle: symmetric (undirected) edge closure,
    * then per step k the walker moves to the neighbor minimizing
    * (stepHash(walker, k, dst), dst) — replayed exactly, since the hash
    * is pure integer arithmetic. One CTE pair per step. */
  private def walksOracleSql(steps: Int): String = {
    val head =
      s"""WITH e0 AS ($ordersEdgesSql),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |w0 AS (SELECT id AS walker, id AS vertex FROM v WHERE id % 13 = 0)""".stripMargin
    val iters = (1 to steps).map { k =>
      s"""s$k AS (SELECT w.walker, e.dst,
         |  ((((w.walker % 2147483648 + 2147483648) % 2147483648) * 1000003
         |    + ${k.toLong * 8191L}
         |    + ((e.dst % 2147483648 + 2147483648) % 2147483648))
         |   % 2147483648) * 2654435761 % 4294967296 AS h
         |  FROM w${k - 1} w JOIN e ON w.vertex = e.src),
         |w$k AS (SELECT walker, dst AS vertex FROM (
         |  SELECT walker, dst,
         |    row_number() OVER (PARTITION BY walker ORDER BY h, dst) AS rn
         |  FROM s$k) WHERE rn = 1)""".stripMargin
    }
    val union = (0 to steps)
      .map(k => s"SELECT walker, $k AS step, vertex FROM w$k")
      .mkString("\n", "\nUNION ALL ", "")
    (head +: iters).mkString(",\n") + union
  }

  /** Unrolled Louvain-refinement oracle: per round, community degree
    * totals, per-(vertex, neighbor-community) link counts, the exact
    * integer score 2m·l − k·(tot − [own]·k), argmax with
    * smallest-community tiebreak, and the parity-gated label update —
    * the bit-for-bit replay of [[graft.algorithms.Louvain.refine]].
    * The vertex universe derives from the RAW edge list (self-loop
    * endpoints included), mirroring the Spark side's vertsOf. */
  private def louvainOracleSql(rounds: Int): String = {
    val head =
      s"""WITH raw AS ($ordersEdgesSql),
         |canon AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |  FROM raw WHERE src <> dst),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM canon UNION ALL SELECT dst, src FROM canon),
         |deg AS MATERIALIZED (SELECT src AS id, count(*) AS k FROM sym GROUP BY src),
         |mm AS (SELECT count(*) AS m FROM canon),
         |v AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
         |c0 AS MATERIALIZED (SELECT id, id AS community FROM v)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""tot$r AS (SELECT c.community AS cu, sum(coalesce(d.k, 0)) AS tot
         |  FROM c${r - 1} c LEFT JOIN deg d ON d.id = c.id GROUP BY c.community),
         |l$r AS (SELECT e.src AS id, cd.community AS cu, count(*) AS l
         |  FROM sym e JOIN c${r - 1} cd ON cd.id = e.dst GROUP BY e.src, cd.community),
         |cand$r AS (SELECT id, cu, max(l) AS l FROM (
         |  SELECT id, cu, l FROM l$r
         |  UNION ALL SELECT id, community, 0 FROM c${r - 1}) GROUP BY id, cu),
         |sc$r AS (SELECT a.id, a.cu,
         |    2 * (SELECT m FROM mm) * a.l
         |    - coalesce(d.k, 0) * (coalesce(t.tot, 0)
         |        - CASE WHEN a.cu = cv.community THEN coalesce(d.k, 0)
         |               ELSE 0 END) AS score
         |  FROM cand$r a JOIN c${r - 1} cv ON cv.id = a.id
         |  LEFT JOIN deg d ON d.id = a.id
         |  LEFT JOIN tot$r t ON t.cu = a.cu),
         |b$r AS (SELECT id, cu FROM (
         |  SELECT id, cu,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cu) AS rn
         |  FROM sc$r) WHERE rn = 1),
         |c$r AS MATERIALIZED (SELECT c.id,
         |    CASE WHEN c.id % 2 = ${r % 2} THEN b.cu ELSE c.community END AS community
         |  FROM c${r - 1} c JOIN b$r b ON b.id = c.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, community FROM c$rounds"
  }

  /** Two-level Louvain-fit oracle: level-0 refine rounds (the
    * [[louvainOracleSql]] CTE chain), contraction into the weighted
    * community supergraph (intra mass as self-loops, counted twice in
    * the weighted degree), `r1` weighted refine rounds with the same
    * argmax/parity devices, and the composite original-vertex mapping.
    * Replays [[graft.algorithms.Louvain.fit]] with
    * `minGain = -infinity` (fixed two-level shape) bit for bit. */
  private def louvainFitOracleSql(r0: Int, r1: Int): String = {
    val head =
      s"""WITH raw AS ($ordersEdgesSql),
         |canon AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |  FROM raw WHERE src <> dst),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM canon UNION ALL SELECT dst, src FROM canon),
         |deg AS MATERIALIZED (SELECT src AS id, count(*) AS k FROM sym GROUP BY src),
         |mm AS (SELECT count(*) AS m FROM canon),
         |v AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
         |c0 AS MATERIALIZED (SELECT id, id AS community FROM v)""".stripMargin
    val iters0 = (1 to r0).map { r =>
      s"""tot$r AS (SELECT c.community AS cu, sum(coalesce(d.k, 0)) AS tot
         |  FROM c${r - 1} c LEFT JOIN deg d ON d.id = c.id GROUP BY c.community),
         |l$r AS (SELECT e.src AS id, cd.community AS cu, count(*) AS l
         |  FROM sym e JOIN c${r - 1} cd ON cd.id = e.dst GROUP BY e.src, cd.community),
         |cand$r AS (SELECT id, cu, max(l) AS l FROM (
         |  SELECT id, cu, l FROM l$r
         |  UNION ALL SELECT id, community, 0 FROM c${r - 1}) GROUP BY id, cu),
         |sc$r AS (SELECT a.id, a.cu,
         |    2 * (SELECT m FROM mm) * a.l
         |    - coalesce(d.k, 0) * (coalesce(t.tot, 0)
         |        - CASE WHEN a.cu = cv.community THEN coalesce(d.k, 0)
         |               ELSE 0 END) AS score
         |  FROM cand$r a JOIN c${r - 1} cv ON cv.id = a.id
         |  LEFT JOIN deg d ON d.id = a.id
         |  LEFT JOIN tot$r t ON t.cu = a.cu),
         |b$r AS (SELECT id, cu FROM (
         |  SELECT id, cu,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cu) AS rn
         |  FROM sc$r) WHERE rn = 1),
         |c$r AS MATERIALIZED (SELECT c.id,
         |    CASE WHEN c.id % 2 = ${r % 2} THEN b.cu ELSE c.community END AS community
         |  FROM c${r - 1} c JOIN b$r b ON b.id = c.id)""".stripMargin
    }
    val bridge =
      s"""cmap AS MATERIALIZED (SELECT id, community FROM c$r0),
         |wcanon AS MATERIALIZED (
         |  SELECT least(ma.community, mb.community) AS src,
         |         greatest(ma.community, mb.community) AS dst,
         |         count(*) AS w
         |  FROM canon e JOIN cmap ma ON ma.id = e.src
         |  JOIN cmap mb ON mb.id = e.dst
         |  GROUP BY 1, 2),
         |wns AS (SELECT src, dst, w FROM wcanon WHERE src <> dst),
         |wsym AS MATERIALIZED (SELECT src, dst, w FROM wns
         |  UNION ALL SELECT dst, src, w FROM wns),
         |wself AS (SELECT src AS id, w AS ws FROM wcanon WHERE src = dst),
         |wdeg AS MATERIALIZED (
         |  SELECT coalesce(a.id, b.id) AS id,
         |         coalesce(a.kd, 0) + 2 * coalesce(b.ws, 0) AS k
         |  FROM (SELECT src AS id, sum(w) AS kd FROM wsym GROUP BY src) a
         |  FULL JOIN wself b ON b.id = a.id),
         |wmm AS (SELECT sum(w) AS m FROM wcanon),
         |wv AS (SELECT DISTINCT community AS id FROM cmap),
         |w0 AS MATERIALIZED (SELECT id, id AS community FROM wv)""".stripMargin
    val iters1 = (1 to r1).map { r =>
      s"""wtot$r AS (SELECT c.community AS cu, sum(coalesce(d.k, 0)) AS tot
         |  FROM w${r - 1} c LEFT JOIN wdeg d ON d.id = c.id GROUP BY c.community),
         |wl$r AS (SELECT e.src AS id, cd.community AS cu, sum(e.w) AS l
         |  FROM wsym e JOIN w${r - 1} cd ON cd.id = e.dst GROUP BY e.src, cd.community),
         |wcand$r AS (SELECT id, cu, max(l) AS l FROM (
         |  SELECT id, cu, l FROM wl$r
         |  UNION ALL SELECT id, community, 0 FROM w${r - 1}) GROUP BY id, cu),
         |wsc$r AS (SELECT a.id, a.cu,
         |    2 * (SELECT m FROM wmm) * a.l
         |    - coalesce(d.k, 0) * (coalesce(t.tot, 0)
         |        - CASE WHEN a.cu = cv.community THEN coalesce(d.k, 0)
         |               ELSE 0 END) AS score
         |  FROM wcand$r a JOIN w${r - 1} cv ON cv.id = a.id
         |  LEFT JOIN wdeg d ON d.id = a.id
         |  LEFT JOIN wtot$r t ON t.cu = a.cu),
         |wb$r AS (SELECT id, cu FROM (
         |  SELECT id, cu,
         |    row_number() OVER (PARTITION BY id ORDER BY score DESC, cu) AS rn
         |  FROM wsc$r) WHERE rn = 1),
         |w$r AS MATERIALIZED (SELECT c.id,
         |    CASE WHEN c.id % 2 = ${r % 2} THEN b.cu ELSE c.community END AS community
         |  FROM w${r - 1} c JOIN wb$r b ON b.id = c.id)""".stripMargin
    }
    ((head +: iters0) ++ (bridge +: iters1)).mkString(",\n") +
      s"\nSELECT c.id, w.community FROM cmap c JOIN w$r1 w ON w.id = c.community"
  }

  /** Unrolled landmark-Brandes betweenness oracle: forward CTEs f0..fD
    * count shortest paths level by level (visited-set pruning via NOT
    * EXISTS, exactly [[graft.algorithms.Betweenness.landmark]]'s
    * anti-join), backward CTEs dD..d1 accumulate dependencies with the
    * same join+sum per level; the final fold unions every depth >= 1
    * level and sums per vertex. Unrolled levels past the BFS fixpoint
    * are empty frames on both engines. */
  private def betweennessOracleSql(depth: Int): String = {
    val head =
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS MATERIALIZED (
         |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM raw
         |  UNION SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM raw),
         |f0 AS (SELECT CAST(l AS BIGINT) AS l, CAST(l AS BIGINT) AS id,
         |              CAST(1 AS BIGINT) AS sigma
         |       FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS l)),
         |vis0 AS (SELECT l, id FROM f0)""".stripMargin
    val fwd = (1 to depth).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT f.l, e.dst AS id, sum(f.sigma) AS sigma
         |  FROM f${k - 1} f JOIN e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${k - 1} v
         |                    WHERE v.l = f.l AND v.id = e.dst)
         |  GROUP BY f.l, e.dst),
         |vis$k AS MATERIALIZED (
         |  SELECT l, id FROM vis${k - 1} UNION ALL SELECT l, id FROM f$k)""".stripMargin
    }
    val back = Seq(s"d$depth AS (SELECT l, id, sigma, 0.0 AS delta FROM f$depth)") ++
      (depth - 1 to 1 by -1).map { k =>
        s"""p$k AS (SELECT u.l, u.id, sum(CAST(u.sigma AS DOUBLE) / w.sigma
           |            * (1 + w.delta)) AS dep
           |  FROM f$k u JOIN e ON e.src = u.id
           |  JOIN d${k + 1} w ON w.l = u.l AND w.id = e.dst
           |  GROUP BY u.l, u.id),
           |d$k AS MATERIALIZED (
           |  SELECT f.l, f.id, f.sigma, coalesce(p.dep, 0.0) AS delta
           |  FROM f$k f LEFT JOIN p$k p ON p.l = f.l AND p.id = f.id)""".stripMargin
      }
    val union = (1 to depth)
      .map(k => s"SELECT l, id, delta FROM d$k")
      .mkString("\nSELECT id, round(sum(delta), 6) AS bc FROM (\n",
        "\nUNION ALL ", "\n) GROUP BY id")
    (Seq(head) ++ fwd ++ back).mkString(",\n") + union
  }

  /** Unrolled node2vec-biased-walk oracle: step 1 is g29's uniform step;
    * each later step carries the previous vertex, classifies every
    * candidate edge (return / common via a correlated EXISTS on the
    * symmetric edge set / outward), expands it into `weight` replicas
    * with `unnest(range(weight))`, and takes the (hash, dst, replica)
    * argmin — the exact replay of [[graft.algorithms.RandomWalks
    * .biasedWalks]]' integer-weighted replica-min choice. */
  private def biasedWalksOracleSql(
      steps: Int, wReturn: Int, wCommon: Int, wOutward: Int): String = {
    val head =
      s"""WITH e0 AS ($ordersEdgesSql),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |w0 AS (SELECT id AS walker, id AS vertex FROM v WHERE id % 13 = 0),
         |s1 AS (SELECT w.walker, w.vertex AS cur, e.dst,
         |  ((((w.walker % 2147483648 + 2147483648) % 2147483648) * 1000003
         |    + ${8191L}
         |    + ((e.dst % 2147483648 + 2147483648) % 2147483648))
         |   % 2147483648) * 2654435761 % 4294967296 AS h
         |  FROM w0 w JOIN e ON w.vertex = e.src),
         |w1 AS (SELECT walker, cur AS prev, dst AS vertex FROM (
         |  SELECT walker, cur, dst,
         |    row_number() OVER (PARTITION BY walker ORDER BY h, dst) AS rn
         |  FROM s1) WHERE rn = 1)""".stripMargin
    val iters = (2 to steps).map { k =>
      s"""s$k AS (SELECT walker, cur, dst, j,
         |  ((((walker % 2147483648 + 2147483648) % 2147483648) * 1000003
         |    + ${k.toLong * 8191L}
         |    + ((dst % 2147483648 + 2147483648) % 2147483648)
         |    + j * 60493)
         |   % 2147483648) * 2654435761 % 4294967296 AS h
         |  FROM (
         |    SELECT w.walker, w.vertex AS cur, e.dst,
         |      unnest(range(CASE
         |        WHEN e.dst = w.prev THEN $wReturn
         |        WHEN EXISTS (SELECT 1 FROM e x
         |                     WHERE x.src = w.prev AND x.dst = e.dst) THEN $wCommon
         |        ELSE $wOutward END)) AS j
         |    FROM w${k - 1} w JOIN e ON w.vertex = e.src)),
         |w$k AS (SELECT walker, cur AS prev, dst AS vertex FROM (
         |  SELECT walker, cur, dst,
         |    row_number() OVER (PARTITION BY walker ORDER BY h, dst, j) AS rn
         |  FROM s$k) WHERE rn = 1)""".stripMargin
    }
    val union = (0 to steps)
      .map(k => s"SELECT walker, $k AS step, vertex FROM w$k")
      .mkString("\n", "\nUNION ALL ", "")
    (head +: iters).mkString(",\n") + union
  }

  /** Unrolled k-core peeling oracle: per round, degrees over the
    * surviving canonical edges, keep >= k, prune edges to kept endpoints.
    * Rounds past the fixpoint are no-ops, so unrolling more rounds than
    * the peeling needs reproduces the convergence-based result. The
    * edge CTEs are MATERIALIZED: each round references its predecessor
    * three times, and DuckDB's default inlining would expand the chain
    * to 3^rounds base-table scans. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH raw AS ($ordersEdgesSql),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |       FROM raw WHERE src <> dst)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""d$r AS (SELECT v AS id, count(*) AS deg FROM (
         |  SELECT src AS v FROM e${r - 1} UNION ALL SELECT dst FROM e${r - 1})
         |  GROUP BY v),
         |k$r AS (SELECT id FROM d$r WHERE deg >= $k),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |        JOIN k$r a ON e.src = a.id JOIN k$r b ON e.dst = b.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"""
         |SELECT v AS id, count(*) AS degree FROM (
         |  SELECT src AS v FROM e$rounds UNION ALL SELECT dst FROM e$rounds)
         |GROUP BY v""".stripMargin
  }

  /** Unrolled deterministic-Luby MIS oracle over the undirected orders
    * graph: one (priority, neighbor-min, winners, dropouts) CTE block
    * per round, mirroring [[graft.algorithms.MaximalIndependentSet]] —
    * priorities are the 48-bit sha256 prefix of "id#round" (digit-
    * decoded so every intermediate stays exact), the winner test is a
    * lexicographic (priority, id) compare, and rounds past the empty
    * undecided set are identity. */
  /** Unrolled Borůvka oracle: per round, relabel edges by component,
    * pick each component's lightest edge via (w, src, dst)-ordered
    * row_number (the total-order twin of the Spark side's min-struct),
    * and contract with a per-round recursive reachability closure whose
    * min label replays [[AlternatingConnectedComponents]]' min-id
    * contract. Rounds past the fixpoint see an empty live set and are
    * identity, so any unroll >= the Spark side's effective rounds
    * agrees.
    */
  private def boruvkaOracleSql(rounds: Int): String = {
    val head =
      s"""WITH RECURSIVE ce AS MATERIALIZED (
         |  SELECT l_suppkey AS src, l_partkey % 97 + 1000000 AS dst,
         |         CAST(min(l_quantity) AS BIGINT) AS w
         |  FROM lineitem GROUP BY 1, 2),
         |cp0 AS MATERIALIZED (SELECT id, id AS comp FROM
         |  (SELECT src AS id FROM ce UNION SELECT dst FROM ce))""".stripMargin
    val iters = (1 to rounds).map { r =>
      val p = r - 1
      s"""lv$r AS MATERIALIZED (SELECT e.src, e.dst, e.w,
         |    a.comp AS ea, b.comp AS eb
         |  FROM ce e JOIN cp$p a ON e.src = a.id JOIN cp$p b ON e.dst = b.id
         |  WHERE a.comp <> b.comp),
         |bo$r AS (SELECT ea AS c, src, dst, w, ea, eb FROM lv$r
         |  UNION ALL SELECT eb AS c, src, dst, w, ea, eb FROM lv$r),
         |se$r AS MATERIALIZED (SELECT DISTINCT src, dst, w, ea, eb FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c ORDER BY w, src, dst) AS rn
         |  FROM bo$r) WHERE rn = 1),
         |mg$r AS (SELECT ea AS a, eb AS b FROM se$r
         |  UNION SELECT eb, ea FROM se$r),
         |wk$r(id, l) AS (SELECT a, a FROM mg$r
         |  UNION SELECT m.b, k.l FROM wk$r k JOIN mg$r m ON m.a = k.id),
         |cm$r AS (SELECT id, min(l) AS nc FROM wk$r GROUP BY id),
         |cp$r AS MATERIALIZED (SELECT c.id, coalesce(m.nc, c.comp) AS comp
         |  FROM cp$p c LEFT JOIN cm$r m ON c.comp = m.id)""".stripMargin
    }
    val unions = (1 to rounds)
      .map(r => s"SELECT src, dst, w AS weight, $r AS round FROM se$r")
      .mkString("\nUNION ALL\n")
    (head +: iters).mkString(",\n") + "\n" + unions
  }

  /** Weighted twin of [[pageRankOracleSql]]: share = w / Σw per source
    * (exact integer operands, one correctly-rounded division), dangling
    * = absent from the weight-sum table. */
  private def weightedPageRankOracleSql(iterations: Int): String = {
    val head =
      s"""WITH e AS (SELECT o_custkey AS src, o_orderkey % 211 AS dst,
         |            count(*) AS w FROM orders GROUP BY 1, 2),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY src),
         |routes AS (SELECT e.src, e.dst, e.w / sw.sw AS share
         |           FROM e JOIN sw ON e.src = sw.src),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
         |pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v)""".stripMargin
    val iters = (1 to iterations).map { k =>
      s"""d$k AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM pr${k - 1}
         |        WHERE id NOT IN (SELECT src FROM sw)),
         |c$k AS (SELECT r.dst AS id, sum(p.rank * r.share) AS contrib
         |        FROM pr${k - 1} p JOIN routes r ON p.id = r.src GROUP BY r.dst),
         |pr$k AS (SELECT v.id,
         |          ((1.0 - 0.85) / (SELECT n FROM nn)
         |            + (0.85 * (SELECT dm FROM d$k)) / (SELECT n FROM nn))
         |           + 0.85 * coalesce(c.contrib, 0.0) AS rank
         |         FROM v LEFT JOIN c$k c ON v.id = c.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, round(rank, 9) AS rank FROM pr$iterations"
  }

  /** Unrolled HyperBall oracle: the undirected customer hierarchy, p=4
    * portable-HLL registers per vertex (the d20 device on
    * CAST(id AS VARCHAR)), `rounds` register-max propagation rounds,
    * per-round per-vertex raw estimates, decimal NF sums, and the
    * all-decimal 90% effective-diameter pick. */
  private def hyperballOracleSql(rounds: Int): String = {
    val (head, iters) = hyperballCommonSql(rounds)
    val alpha = hyperballAlpha
    val nfs = (0 to rounds).map { k =>
      s"""nf$k AS (SELECT $k AS round,
         |  CAST(sum(CAST(est AS DECIMAL(26,6))) AS DECIMAL(32,6)) AS nf FROM (
         |  SELECT round($alpha
         |      / CAST(sp + (16 - nb) * 35184372088832 AS DOUBLE), 6) AS est
         |  FROM (SELECT id, sum(CAST(power(2, 45 - r) AS BIGINT)) AS sp,
         |        count(*) AS nb FROM st$k GROUP BY id)))""".stripMargin
    }
    val union = (0 to rounds).map(k => s"SELECT * FROM nf$k").mkString(" UNION ALL ")
    (Seq(head) ++ iters ++ nfs ++ Seq(
      s"""nfall AS ($union),
         |mx AS (SELECT max(nf) AS nf_max FROM nfall),
         |eff AS (SELECT CAST(min(round) AS INTEGER) AS ed
         |        FROM nfall, mx WHERE nf * 10 >= nf_max * 9)
         |SELECT n.round, n.nf, e.ed AS effective_diameter
         |FROM nfall n, eff e""".stripMargin)).mkString(",\n")
  }

  /** Per-vertex harmonic-centrality estimate from the same unrolled
    * HyperBall rounds — INTEGER MICRO-UNITS with no floating point
    * anywhere: the numerator is the ONE exact integer digit string
    * shared with the Spark face
    * ([[graft.algorithms.HyperBall.harmonicNumeratorMicro]]), the
    * per-round per-vertex estimate is HUGEINT integral division of two
    * exact positive integers (DuckDB `//` ≡ Spark `div` on positives),
    * and deltas are weighted by the exact integers lcm(1..R)/r in
    * integer decimals — no double constant for either engine to fold,
    * no rounding rule ever consulted. */
  private def hyperballHarmonicOracleSql(rounds: Int): String = {
    val (head, iters) = hyperballCommonSql(rounds)
    val lcm = (1 to rounds).foldLeft(1L) { (acc, r) =>
      @annotation.tailrec
      def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
      acc / gcd(acc, r) * r
    }
    val ests = hyperballEstCtes(rounds)
    // Long-format tail — ONLY constructs already driver-green elsewhere
    // (r10–r12 lesson: the red rows' residual was construct sensitivity,
    // not values; the old tail's chained `JOIN esK USING (id)` pivot and
    // DECIMAL(38,0) output were unique to this query among all oracles).
    // UNION ALL the per-round estimates into (round, id, e), delta-join
    // with an explicit ON round = round - 1 (the convention every green
    // iterative oracle uses), weight via CASE, and sum per id as BIGINT.
    // The delta×weight accumulation is HUGEINT — the exact twin of the
    // Spark face's DECIMAL(38,0) intermediates (ADVICE r13: the weighted
    // sum overflows i64 on web-scale balls); the OUTPUT stays BIGINT.
    val unions = (0 to rounds)
      .map(k => s"SELECT $k AS round, id, e FROM es$k")
      .mkString(" UNION ALL ")
    val cases = (1 to rounds).map(r => s"WHEN $r THEN ${lcm / r}").mkString(" ")
    (Seq(head) ++ iters ++ ests ++ Seq(
      s"""esall AS ($unions),
         |fin AS (SELECT a.id AS id,
         |    CAST(sum(CAST(a.e - b.e AS HUGEINT) * (CASE a.round $cases END))
         |      AS BIGINT) AS h_lcm_micro
         |  FROM esall a JOIN esall b
         |    ON b.id = a.id AND b.round = a.round - 1
         |  GROUP BY a.id)
         |SELECT id, h_lcm_micro FROM fin""".stripMargin)).mkString(",\n")
  }

  /** DEEP harmonic oracle (g63): the [[hyperballHarmonicOracleSql]]
    * integer pipeline on the 41-vertex orders path, with the lcm
    * weighting REPLAYED PER BUCKET exactly as
    * [[graft.algorithms.HyperBall.harmonicCentralityDeep]] computes it —
    * the bucket partition comes from the SAME
    * [[graft.algorithms.HyperBall.bucketRounds]] call both faces share,
    * so the greedy spans and the per-bucket L_b/r weights cannot
    * desync. Per bucket: a HUGEINT delta×weight sum (the overflow-safe
    * accumulation, ADVICE r13) and ONE floor division by L_b (`//` ≡
    * Spark `div` on positives); buckets then add. Long-format tail,
    * BIGINT output — only constructs already driver-green in g56. */
  private def hyperballDeepOracleSql(rounds: Int): String = {
    val (head, iters) = hyperballCommonSql(rounds,
      """SELECT DISTINCT CAST(o_orderkey % 40 AS BIGINT) AS src,
        |  CAST(o_orderkey % 40 + 1 AS BIGINT) AS dst FROM orders""".stripMargin)
    val unions = (0 to rounds)
      .map(k => s"SELECT $k AS round, id, e FROM es$k")
      .mkString(" UNION ALL ")
    // one HUGEINT sum + one floor division PER BUCKET, buckets added —
    // the exact twin of the Spark face's Σ_b (S_b div L_b)
    val bucketTerms = graft.algorithms.HyperBall.bucketRounds(rounds)
      .map { case (lo, hi, lb) =>
        val cases = (lo to hi).map(r => s"WHEN $r THEN ${lb / r}").mkString(" ")
        s"""(sum(CAST(a.e - b.e AS HUGEINT)
           |      * (CASE a.round $cases ELSE 0 END)) // $lb)""".stripMargin
      }
      .mkString("\n    + ")
    (Seq(head) ++ iters ++ hyperballEstCtes(rounds) ++ Seq(
      s"""esall AS ($unions),
         |fin AS (SELECT a.id AS id,
         |    CAST($bucketTerms AS BIGINT) AS h_micro
         |  FROM esall a JOIN esall b
         |    ON b.id = a.id AND b.round = a.round - 1
         |  GROUP BY a.id)
         |SELECT id, h_micro FROM fin""".stripMargin)).mkString(",\n")
  }

  /** The per-round integer micro-unit estimate CTEs shared by every
    * harmonic oracle: e_k = K // s_sum in HUGEINT over the round-k
    * registers (see [[hyperballHarmonicOracleSql]] for the exactness
    * argument). */
  private def hyperballEstCtes(rounds: Int): Seq[String] = {
    val knum = graft.algorithms.HyperBall.harmonicNumeratorMicro(4)
    (0 to rounds).map { k =>
      s"""es$k AS (SELECT id, CAST(CAST('$knum' AS HUGEINT)
         |      // CAST(sp + (16 - nb) * 35184372088832 AS HUGEINT)
         |      AS BIGINT) AS e
         |  FROM (SELECT id, sum(CAST(power(2, 45 - r) AS BIGINT)) AS sp,
         |        count(*) AS nb FROM st$k GROUP BY id))""".stripMargin
    }
  }

  /** g61 diagnostic twin of [[hyperballHarmonicOracleSql]]: the SAME
    * integer pipeline collapsed to ONE total row (the g54 single-
    * aggregate shape). If g61 is driver-green while g56 stays red, the
    * residual is representation/join-shape, not values — the bisect
    * round 12's verdict ordered. */
  private def hyperballHarmonicSumOracleSql(rounds: Int): String = {
    val body = hyperballHarmonicOracleSql(rounds)
    body.replace("SELECT id, h_lcm_micro FROM fin",
      "SELECT CAST(sum(h_lcm_micro) AS BIGINT) AS h_total," +
        " count(*) AS n_vertices FROM fin")
  }

  private val hyperballAlpha = "((0.7213/(1.0 + 1.079/16.0)) * 9007199254740992.0)"

  /** Shared prefix of the HyperBall oracles: graph, symmetrized edges,
    * p=4 initial registers, `rounds` register-max propagation rounds. */
  private def hyperballCommonSql(
      rounds: Int,
      ceSql: String = """SELECT DISTINCT * FROM (
        |  SELECT CAST(c_custkey + 10000 AS BIGINT) AS src,
        |         CAST(c_nationkey AS BIGINT) AS dst FROM customer
        |  UNION ALL SELECT CAST(n_nationkey AS BIGINT),
        |         CAST(n_regionkey + 1000 AS BIGINT) FROM nation)""".stripMargin)
      : (String, Seq[String]) = {
    def sha48(x: String) =
      s"""CAST(list_sum([(strpos('0123456789abcdef',
         |  substr(substr(sha256($x), 1, 12), j, 1)) - 1)
         |  * CAST(power(16, 12 - j) AS BIGINT)
         |  FOR j IN range(1, 13)]) AS BIGINT)""".stripMargin
    val head =
      s"""WITH ce AS ($ceSql),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce)),
         |v AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM ce UNION ALL SELECT dst FROM ce)),
         |st0 AS MATERIALIZED (SELECT id, h // 17592186044416 AS bucket,
         |  CASE WHEN h % 17592186044416 = 0 THEN 45
         |       ELSE 45 - length(bin(h % 17592186044416)) END AS r
         |  FROM (SELECT id, ${sha48("CAST(id AS VARCHAR)")} AS h FROM v))""".stripMargin
    val iters = (1 to rounds).map { k =>
      val pk = k - 1
      s"""st$k AS MATERIALIZED (SELECT id, bucket, max(r) AS r FROM (
         |  SELECT id, bucket, r FROM st$pk
         |  UNION ALL
         |  SELECT e.src AS id, s.bucket, s.r FROM sym e
         |  JOIN st$pk s ON s.id = e.dst) GROUP BY id, bucket)""".stripMargin
    }
    (head, iters)
  }

  /** Unrolled Jones–Plassmann oracle: per round — uncolored set, losers
    * (an uncolored neighbour with a higher (priority, id) wins), local
    * maxima, colored-neighbour color sets, and the mex over candidates
    * 0..|distinct colors| — the exact twin of the Spark side's
    * sequence+filter mex. Rounds past the fixpoint are identity. */
  private def coloringOracleSql(rounds: Int): String = {
    def sha48(x: String) =
      s"""CAST(list_sum([(strpos('0123456789abcdef',
         |  substr(substr(sha256($x), 1, 12), j, 1)) - 1)
         |  * CAST(power(16, 12 - j) AS BIGINT)
         |  FOR j IN range(1, 13)]) AS BIGINT)""".stripMargin
    val head =
      s"""WITH ce AS (SELECT CAST(c_custkey + 10000 AS BIGINT) AS src,
         |             CAST(c_nationkey AS BIGINT) AS dst FROM customer
         |  UNION ALL SELECT CAST(n_nationkey AS BIGINT),
         |             CAST(n_regionkey + 1000 AS BIGINT) FROM nation
         |  UNION ALL SELECT CAST(n_nationkey AS BIGINT),
         |             CAST((n_nationkey + 1) % 25 AS BIGINT) FROM nation),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM ce WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM ce WHERE src <> dst)),
         |v AS (SELECT DISTINCT src AS id FROM sym),
         |st0 AS MATERIALIZED (SELECT id,
         |  ${sha48("CAST(id AS VARCHAR)")} AS p,
         |  CAST(NULL AS INTEGER) AS color FROM v)""".stripMargin
    val iters = (1 to rounds).map { r =>
      val p = r - 1
      s"""un$r AS (SELECT id, p FROM st$p WHERE color IS NULL),
         |lo$r AS (SELECT DISTINCT a.id FROM un$r a JOIN sym e ON e.src = a.id
         |         JOIN un$r b ON b.id = e.dst WHERE (b.p, b.id) > (a.p, a.id)),
         |wi$r AS MATERIALIZED (SELECT id FROM un$r
         |        WHERE id NOT IN (SELECT id FROM lo$r)),
         |nc$r AS (SELECT w.id, st.color FROM wi$r w JOIN sym e ON e.src = w.id
         |         JOIN st$p st ON st.id = e.dst WHERE st.color IS NOT NULL),
         |du$r AS (SELECT id, count(DISTINCT color) AS c FROM nc$r GROUP BY id),
         |mx$r AS MATERIALIZED (
         |  SELECT u.id, CAST(min(u.k) AS INTEGER) AS new_color FROM (
         |    SELECT w.id, unnest(range(0, coalesce(d.c, 0) + 1)) AS k
         |    FROM wi$r w LEFT JOIN du$r d ON d.id = w.id) u
         |  LEFT JOIN nc$r n ON n.id = u.id AND n.color = u.k
         |  WHERE n.color IS NULL GROUP BY u.id),
         |st$r AS MATERIALIZED (SELECT s.id, s.p,
         |  coalesce(s.color, m.new_color) AS color
         |  FROM st$p s LEFT JOIN mx$r m ON m.id = s.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, color FROM st$rounds"
  }

  /** Unrolled speculative-coloring oracle over the orders graph: per
    * round every uncolored vertex proposes the mex of its colored
    * neighbours; proposals conflicting with a higher-(p, id) uncolored
    * neighbour's EQUAL proposal retry next round. Identity past the
    * fixpoint. */
  private def speculativeColoringOracleSql(rounds: Int): String = {
    def sha48(x: String) =
      s"""CAST(list_sum([(strpos('0123456789abcdef',
         |  substr(substr(sha256($x), 1, 12), j, 1)) - 1)
         |  * CAST(power(16, 12 - j) AS BIGINT)
         |  FOR j IN range(1, 13)]) AS BIGINT)""".stripMargin
    val head =
      s"""WITH ce AS (SELECT DISTINCT o_custkey AS src,
         |              o_orderkey % 211 + 1000000 AS dst FROM orders),
         |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM ce WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM ce WHERE src <> dst)),
         |v AS (SELECT DISTINCT src AS id FROM sym),
         |st0 AS MATERIALIZED (SELECT id,
         |  ${sha48("CAST(id AS VARCHAR)")} AS p,
         |  CAST(NULL AS INTEGER) AS color FROM v)""".stripMargin
    val iters = (1 to rounds).map { r =>
      val p = r - 1
      s"""un$r AS (SELECT id, p FROM st$p WHERE color IS NULL),
         |nc$r AS (SELECT u.id, st.color FROM un$r u JOIN sym e ON e.src = u.id
         |         JOIN st$p st ON st.id = e.dst WHERE st.color IS NOT NULL),
         |du$r AS (SELECT id, count(DISTINCT color) AS c FROM nc$r GROUP BY id),
         |pp$r AS MATERIALIZED (
         |  SELECT u.id, u.p, CAST(min(u.k) AS INTEGER) AS cand FROM (
         |    SELECT w.id, w.p, unnest(range(0, coalesce(d.c, 0) + 1)) AS k
         |    FROM un$r w LEFT JOIN du$r d ON d.id = w.id) u
         |  LEFT JOIN nc$r n ON n.id = u.id AND n.color = u.k
         |  WHERE n.color IS NULL GROUP BY u.id, u.p),
         |lo$r AS (SELECT DISTINCT a.id FROM pp$r a JOIN sym e ON e.src = a.id
         |         JOIN pp$r b ON b.id = e.dst
         |         WHERE b.cand = a.cand AND (b.p, b.id) > (a.p, a.id)),
         |st$r AS MATERIALIZED (SELECT s.id, s.p,
         |  coalesce(s.color, w.cand) AS color
         |  FROM st$p s LEFT JOIN
         |    (SELECT id, cand FROM pp$r
         |     WHERE id NOT IN (SELECT id FROM lo$r)) w ON w.id = s.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, color FROM st$rounds"
  }

  private def misOracleSql(rounds: Int): String = {
    def sha48(x: String) =
      s"""CAST(list_sum([(strpos('0123456789abcdef',
         |  substr(substr(sha256($x), 1, 12), j, 1)) - 1)
         |  * CAST(power(16, 12 - j) AS BIGINT)
         |  FOR j IN range(1, 13)]) AS BIGINT)""".stripMargin
    val head =
      s"""WITH raw AS ($ordersEdgesSql),
         |c AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst),
         |e AS MATERIALIZED (SELECT src, dst FROM c
         |     UNION ALL SELECT dst, src FROM c),
         |u0 AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw)""".stripMargin
    val iters = (1 to rounds).map { r =>
      val p = r - 1
      s"""pr$r AS MATERIALIZED (SELECT id, ${sha48(s"id || '#' || $r")} AS p FROM u$p),
         |nb$r AS (SELECT e.src AS id, min((np.p, np.id)) AS mn
         |         FROM e JOIN pr$r np ON e.dst = np.id
         |         JOIN u$p u ON e.src = u.id
         |         GROUP BY e.src),
         |w$r AS MATERIALIZED (SELECT pr$r.id FROM pr$r LEFT JOIN nb$r ON pr$r.id = nb$r.id
         |        WHERE nb$r.mn IS NULL OR (pr$r.p, pr$r.id) < nb$r.mn),
         |u$r AS MATERIALIZED (SELECT u.id FROM u$p u
         |        WHERE u.id NOT IN (SELECT id FROM w$r)
         |          AND u.id NOT IN (SELECT e.dst FROM e JOIN w$r w ON e.src = w.id))""".stripMargin
    }
    val unions = (1 to rounds)
      .map(r => s"SELECT id, $r AS round FROM w$r").mkString("\nUNION ALL\n")
    (head +: iters).mkString(",\n") + "\n" + unions
  }

  /** Unrolled Bellman-Ford oracle over the weighted undirected
    * supplier–part graph (weight = min l_quantity per edge, an exact
    * integer): one min-plus CTE per relaxation round, mirroring
    * [[graft.algorithms.ShortestPaths]] with `weightCol` set. Sound for
    * any fixed round count >= the Spark side's `maxIterations` because
    * min-plus rounds are monotone and identity past the fixpoint — and
    * when neither side has converged, both ran exactly the same rounds.
    */
  private def weightedSsspOracleSql(landmark: Long, rounds: Int): String = {
    val head =
      s"""WITH raw AS (SELECT l_suppkey AS src, l_partkey % 97 + 1000000 AS dst,
         |             CAST(min(l_quantity) AS BIGINT) AS w
         |             FROM lineitem GROUP BY 1, 2),
         |sym AS (SELECT src, dst, w FROM raw
         |        UNION ALL SELECT dst, src, w FROM raw),
         |d0 AS (SELECT CAST($landmark AS BIGINT) AS id,
         |              CAST($landmark AS BIGINT) AS landmark,
         |              CAST(0 AS BIGINT) AS dist)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT id, landmark, min(dist) AS dist FROM (
         |  SELECT id, landmark, dist FROM d${r - 1}
         |  UNION ALL
         |  SELECT e.src AS id, d.landmark, d.dist + e.w AS dist
         |  FROM sym e JOIN d${r - 1} d ON e.dst = d.id)
         |  GROUP BY id, landmark)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, landmark, dist FROM d$rounds"
  }

  /** Unrolled k-truss oracle: one (triangle list, per-edge support,
    * pruned edge set) CTE triple per peeling round over the canonical
    * (least, greatest)-oriented orders graph, mirroring
    * [[graft.algorithms.KTruss]] exactly — each triangle (x<y<z) is
    * enumerated once from its smallest-vertex wedge, contributes to all
    * three of its edges, and edges below k-2 support drop. The final
    * select recomputes supports inside the converged truss.
    */
  private def ktrussOracleSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH raw AS ($ordersEdgesSql),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |       FROM raw WHERE src <> dst)""".stripMargin
    def triSup(r: Int, in: String) =
      s"""t$r AS (SELECT w.c, w.a, w.b FROM (
         |    SELECT e1.src AS c, e1.dst AS a, e2.dst AS b
         |    FROM $in e1 JOIN $in e2 ON e1.src = e2.src AND e1.dst < e2.dst) w
         |  JOIN $in e ON w.a = e.src AND w.b = e.dst),
         |s$r AS (SELECT src, dst, count(*) AS support FROM (
         |    SELECT c AS src, a AS dst FROM t$r UNION ALL
         |    SELECT c, b FROM t$r UNION ALL
         |    SELECT a, b FROM t$r) GROUP BY src, dst)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""${triSup(r, s"e${r - 1}")},
         |e$r AS MATERIALIZED (SELECT src, dst FROM s$r WHERE support >= ${k - 2})""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s""",
         |${triSup(rounds + 1, s"e$rounds")}
         |SELECT src, dst, support FROM s${rounds + 1}""".stripMargin
  }

  /** Unrolled label-propagation oracle over the undirected supplier–part
    * graph, one CTE block per superstep, reproducing
    * [[graft.pregel.Pregel]]'s message discipline exactly: superstep k's
    * messages come ONLY from vertices whose label changed in superstep
    * k-1 (`s.ch`), each undirected edge delivers the changed endpoint's
    * label to the other end, a vertex with no inbound messages keeps its
    * label, and the modal label breaks ties toward the smallest value
    * (Spark's `mode(deterministic = true)`), here via
    * `row_number() ORDER BY c DESC, lbl ASC`. Unrolling a fixed count is
    * sound because a converged state (no vertex changed) emits no
    * messages, so further blocks are identity.
    */
  private def labelPropagationOracleSql(iterations: Int): String = {
    val head =
      s"""WITH raw AS ($suppPartEdgesSql),
         |v AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
         |s0 AS (SELECT id, id AS lbl, TRUE AS ch FROM v)""".stripMargin
    val iters = (1 to iterations).map { k =>
      val p = k - 1
      s"""m$k AS (
         |  SELECT e.src AS id, s.lbl FROM raw e JOIN s$p s ON e.dst = s.id AND s.ch
         |  UNION ALL
         |  SELECT e.dst AS id, s.lbl FROM raw e JOIN s$p s ON e.src = s.id AND s.ch),
         |t$k AS (SELECT id, lbl, count(*) AS c FROM m$k GROUP BY id, lbl),
         |b$k AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl ASC) AS rn
         |    FROM t$k) WHERE rn = 1),
         |s$k AS (SELECT s.id,
         |         coalesce(b.lbl, s.lbl) AS lbl,
         |         (b.id IS NOT NULL AND b.lbl <> s.lbl) AS ch
         |       FROM s$p s LEFT JOIN b$k b ON s.id = b.id)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, lbl AS label FROM s$iterations"
  }

  val oracle: Map[String, String] = Map(
    // full WL replay: degree labels -> 3 rounds of sha256(concat of
    // sorted neighbour labels) -> canonical digest of the sorted label
    // multiset. Degree on the undirected star graph is the DISTINCT
    // neighbour count (Graph.degrees mirrors graph.py:104-108), and the
    // WL message list is one entry per incident edge.
    "g08_wl_hash" ->
      """WITH e0 AS (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS src,
        |              CAST(n_regionkey AS BIGINT) + 1000 AS dst FROM nation),
        |ee AS (SELECT src AS a, dst AS b FROM e0
        |       UNION ALL SELECT dst AS a, src AS b FROM e0),
        |l0 AS (SELECT a AS id, CAST(count(DISTINCT b) AS VARCHAR) AS l
        |       FROM ee GROUP BY a),
        |l1 AS (SELECT ee.a AS id, sha256(string_agg(p.l, '' ORDER BY p.l)) AS l
        |       FROM ee JOIN l0 p ON p.id = ee.b GROUP BY ee.a),
        |l2 AS (SELECT ee.a AS id, sha256(string_agg(p.l, '' ORDER BY p.l)) AS l
        |       FROM ee JOIN l1 p ON p.id = ee.b GROUP BY ee.a),
        |l3 AS (SELECT ee.a AS id, sha256(string_agg(p.l, '' ORDER BY p.l)) AS l
        |       FROM ee JOIN l2 p ON p.id = ee.b GROUP BY ee.a)
        |SELECT sha256(string_agg(l, '' ORDER BY l)) AS wl_hash FROM l3""".stripMargin,
    "g21_pagerank" -> pageRankOracleSql(5),
    // the stored-rank lifecycle must round-trip g21's values exactly
    "g60_ranks_lifecycle" -> pageRankOracleSql(5),
    "g27_ppr" -> personalizedPageRankOracleSql(5),
    "g28_hits" -> hitsOracleSql(3),
    "g43_eigenvector" -> eigenvectorOracleSql(3),
    "g45_boruvka_msf" -> boruvkaOracleSql(5),
    "g47_weighted_pagerank" -> weightedPageRankOracleSql(3),
    "g48_coloring" -> coloringOracleSql(12),
    "g49_speculative_coloring" -> speculativeColoringOracleSql(10),
    "g50_feature_propagation" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS src,
        |             l_partkey % 97 + 1000000 AS dst FROM lineitem),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS id, count(*) AS degree FROM sym GROUP BY src),
        |h1 AS (SELECT s.src AS id, d0.degree,
        |         (1000000 * CAST(sum(dd.degree) AS BIGINT)) // d0.degree AS h1
        |       FROM sym s JOIN deg dd ON dd.id = s.dst
        |       JOIN deg d0 ON d0.id = s.src
        |       GROUP BY s.src, d0.degree)
        |SELECT s.src AS id, h0.degree, h0.h1,
        |  CAST(sum(hd.h1) AS BIGINT) // h0.degree AS h2
        |FROM sym s JOIN h1 hd ON hd.id = s.dst
        |JOIN h1 h0 ON h0.id = s.src
        |GROUP BY s.src, h0.degree, h0.h1""".stripMargin,
    "g46_butterflies" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS c, l_partkey % 97 AS i
        |           FROM lineitem),
        |p AS (SELECT e1.i AS a, e2.i AS b, count(*) AS cn
        |      FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.i < e2.i
        |      GROUP BY 1, 2)
        |SELECT count(*) AS n_item_pairs,
        |  CAST(sum(cn) AS BIGINT) AS n_wedges,
        |  CAST(sum(cn * (cn - 1) // 2) AS BIGINT) AS n_butterflies
        |FROM p""".stripMargin,
    "g44_link_prediction" ->
      """WITH e AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey % 211 AS i
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |cd AS (SELECT c, count(*) AS cdeg FROM e GROUP BY c HAVING count(*) <= 60),
        |id AS (SELECT i, count(*) AS ideg FROM e GROUP BY i),
        |w AS (SELECT e1.i AS item_a, e2.i AS item_b, cd.cdeg
        |      FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.i < e2.i
        |      JOIN cd ON cd.c = e1.c),
        |sc AS (SELECT item_a, item_b, count(*) AS cn,
        |         CAST(sum(1048576 // cdeg) AS BIGINT) AS ra_scaled
        |       FROM w GROUP BY item_a, item_b)
        |SELECT sc.item_a, sc.item_b, sc.cn, sc.ra_scaled,
        |  round(CAST(sc.cn AS DOUBLE) / (da.ideg + db.ideg - sc.cn), 6)
        |    AS jaccard
        |FROM sc JOIN id da ON da.i = sc.item_a JOIN id db ON db.i = sc.item_b
        |ORDER BY sc.cn DESC, sc.ra_scaled DESC, sc.item_a, sc.item_b
        |LIMIT 100""".stripMargin,
    "g29_walks" -> walksOracleSql(4),
    "g39_node2vec_walks" -> biasedWalksOracleSql(4, 4, 2, 1),
    "g40_betweenness" -> betweennessOracleSql(6),
    "g41_louvain" -> louvainOracleSql(4),
    "g51_louvain_fit" -> louvainFitOracleSql(4, 4),
    "g54_hyperball_anf" -> hyperballOracleSql(5),
    "g56_harmonic_anf" -> hyperballHarmonicOracleSql(5),
    "g61_harmonic_anf_sum" -> hyperballHarmonicSumOracleSql(5),
    "g63_harmonic_deep" -> hyperballDeepOracleSql(20),
    // closed-form components after the two delete waves: deleting a
    // customer's nation edge (≡0 mod 3) or region edge (≡0 mod 5) never
    // splits while the OTHER triangle edge survives (and the nation
    // always keeps its region edge), so the region groups persist with
    // their min nation key as rep; only a ≡0 (mod 15) customer loses
    // both edges and strands as its own component
    "g62_forest_guard" ->
      """WITH cust AS (SELECT CAST(c_custkey + 10000 AS BIGINT) AS cid,
        |         CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |         WHERE c_custkey % 2 = 1),
        |n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |        CAST(n_regionkey + 1000 AS BIGINT) AS rk FROM nation),
        |rep AS (SELECT rk, min(nk) AS rep FROM n GROUP BY rk)
        |SELECT m.id AS member_id, m.rep AS component_rep FROM (
        |  SELECT n.nk AS id, rep.rep FROM n JOIN rep ON n.rk = rep.rk
        |  UNION ALL SELECT rep.rk, rep.rep FROM rep
        |  UNION ALL SELECT c.cid,
        |    CASE WHEN (c.cid - 10000) % 15 = 0 THEN c.cid ELSE rep.rep END
        |  FROM cust c JOIN n ON c.nk = n.nk JOIN rep ON n.rk = rep.rk
        |) m""".stripMargin,
    // g64 = g62's lifecycle + a re-bridging append of the stranded
    // mod-15 customers + a labels-only refreshLabels: with everyone
    // re-attached the closed form is simply "every member labels at its
    // region group's min nation key" (nation keys are the smallest
    // original ids in each group: nk < 1000+rk < 10000+ck)
    "g64_refresh_labels" ->
      """WITH cust AS (SELECT CAST(c_custkey + 10000 AS BIGINT) AS cid,
        |         CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |         WHERE c_custkey % 2 = 1),
        |n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk,
        |        CAST(n_regionkey + 1000 AS BIGINT) AS rk FROM nation),
        |rep AS (SELECT rk, min(nk) AS rep FROM n GROUP BY rk)
        |SELECT m.id AS member_id, m.rep AS component_rep FROM (
        |  SELECT n.nk AS id, rep.rep FROM n JOIN rep ON n.rk = rep.rk
        |  UNION ALL SELECT rep.rk, rep.rep FROM rep
        |  UNION ALL SELECT c.cid, rep.rep
        |  FROM cust c JOIN n ON c.nk = n.nk JOIN rep ON n.rk = rep.rk
        |) m""".stripMargin,
    // append ≡ whole-rebuild, so the maintained degrees ARE the distinct
    // union's degree counts — exactly the lifecycle contract the Spark
    // side must earn through the bucketed store + append path
    "g58_graph_append" ->
      """WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |             CAST(o_orderkey % 211 + 1000000 AS BIGINT) AS dst
        |           FROM orders),
        |outd AS (SELECT src AS id, count(*) AS out_degree FROM e GROUP BY src),
        |ind  AS (SELECT dst AS id, count(*) AS in_degree FROM e GROUP BY dst)
        |SELECT COALESCE(outd.id, ind.id) AS old_id,
        |  CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
        |  CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
        |FROM outd FULL JOIN ind ON outd.id = ind.id""".stripMargin,
    // delete ≡ rebuild-without: the maintained degrees equal the counts
    // over (all distinct edges) EXCEPT (the deleted slice's distinct
    // edges) — note a pair produced by BOTH slices is one stored row and
    // deletion is by content, so EXCEPT is exactly the semantics
    "g59_graph_delete" ->
      """WITH a AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |             CAST(o_orderkey % 211 + 1000000 AS BIGINT) AS dst
        |           FROM orders),
        |d10 AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |          CAST(o_orderkey % 211 + 1000000 AS BIGINT) AS dst
        |        FROM orders WHERE o_orderkey % 10 = 0),
        |e AS (SELECT src, dst FROM a EXCEPT SELECT src, dst FROM d10),
        |outd AS (SELECT src AS id, count(*) AS out_degree FROM e GROUP BY src),
        |ind  AS (SELECT dst AS id, count(*) AS in_degree FROM e GROUP BY dst)
        |SELECT COALESCE(outd.id, ind.id) AS old_id,
        |  CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree,
        |  CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree
        |FROM outd FULL JOIN ind ON outd.id = ind.id""".stripMargin,
    // the d20 portable-HLL replay keyed by vertex: 48-bit sha256-prefix
    // hash of the stringified neighbour id -> top-4-bit bucket, 44-bit
    // suffix rank via unpadded binary-digit count, register max, exact
    // 2^45-scaled harmonic sum, one pinned multiply + division
    "g57_degree_sketch" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, o_orderkey % 211 AS dst
        |           FROM orders),
        |h0 AS (SELECT src AS id,
        |    CAST(list_sum([(strpos('0123456789abcdef', substr(h12, i, 1)) - 1)
        |                   * CAST(power(16, 12 - i) AS BIGINT)
        |                   FOR i IN range(1, 13)]) AS BIGINT) AS h
        |  FROM (SELECT src, substr(sha256(CAST(dst AS VARCHAR)), 1, 12) AS h12
        |        FROM e)),
        |rg AS (SELECT id, h // 17592186044416 AS bucket,
        |         max(CASE WHEN h % 17592186044416 = 0 THEN 45
        |              ELSE 45 - length(bin(h % 17592186044416)) END) AS r
        |       FROM h0 GROUP BY id, bucket),
        |agg AS (SELECT id,
        |         CAST(sum(CAST(power(2, 45 - r) AS BIGINT)) AS BIGINT) AS sp,
        |         count(*) AS nb
        |       FROM rg GROUP BY id),
        |est AS (SELECT id,
        |         CAST(16 - nb AS BIGINT) AS n_zero,
        |         CAST(sp + (16 - nb) * 35184372088832 AS BIGINT) AS s_sum
        |       FROM agg)
        |SELECT id, n_zero, s_sum,
        |  round(((0.7213/(1.0 + 1.079/16.0)) * 9007199254740992.0)
        |        / CAST(s_sum AS DOUBLE), 6) AS est_raw,
        |  (round(((0.7213/(1.0 + 1.079/16.0)) * 9007199254740992.0)
        |        / CAST(s_sum AS DOUBLE), 6) <= 40.0 AND n_zero > 0) AS lc_range
        |FROM est""".stripMargin,
    // bias rounds (g53 device) -> S-scaled residuals -> rank-1 ALS on
    // the residuals (g52 device, signed) -> per-user implicit factor
    // sum -> one exact-integer prediction per rating row
    "g55_svdpp" ->
      """WITH r AS (SELECT o_custkey AS usr,
        |    1000000 + o_orderkey % 211 AS itm, least(count(*), 20) AS r
        |  FROM orders GROUP BY 1, 2),
        |g AS (SELECT CAST((10000 * sum(r)) // count(*) AS BIGINT) AS mu FROM r),
        |bu1 AS (SELECT r.usr AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - 0) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r GROUP BY r.usr),
        |bi1 AS (SELECT r.itm AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - u.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bu1 u ON u.id = r.usr GROUP BY r.itm),
        |bu2 AS (SELECT r.usr AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - i.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bi1 i ON i.id = r.itm GROUP BY r.usr),
        |bi2 AS (SELECT r.itm AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - u.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bu2 u ON u.id = r.usr GROUP BY r.itm),
        |rr AS (SELECT r.usr, r.itm,
        |    (10000 * r.r - (SELECT mu FROM g) - u.b - i.b) // 100 AS r
        |  FROM r JOIN bu2 u ON u.id = r.usr JOIN bi2 i ON i.id = r.itm),
        |y0 AS (SELECT DISTINCT itm AS id, 10000 AS f FROM rr),
        |u1 AS (SELECT rr.usr AS id,
        |    CAST((10000 * sum(y.f * rr.r)) // (10000 + sum(y.f * y.f // 10000)) AS BIGINT) AS f
        |  FROM rr JOIN y0 y ON y.id = rr.itm GROUP BY rr.usr),
        |y1 AS (SELECT rr.itm AS id,
        |    CAST((10000 * sum(u.f * rr.r)) // (10000 + sum(u.f * u.f // 10000)) AS BIGINT) AS f
        |  FROM rr JOIN u1 u ON u.id = rr.usr GROUP BY rr.itm),
        |u2 AS (SELECT rr.usr AS id,
        |    CAST((10000 * sum(y.f * rr.r)) // (10000 + sum(y.f * y.f // 10000)) AS BIGINT) AS f
        |  FROM rr JOIN y1 y ON y.id = rr.itm GROUP BY rr.usr),
        |y2 AS (SELECT rr.itm AS id,
        |    CAST((10000 * sum(u.f * rr.r)) // (10000 + sum(u.f * u.f // 10000)) AS BIGINT) AS f
        |  FROM rr JOIN u2 u ON u.id = rr.usr GROUP BY rr.itm),
        |imp AS (SELECT r.usr AS usr,
        |    CAST(sum(q.f) // count(*) AS BIGINT) AS imp
        |  FROM r JOIN y2 q ON q.id = r.itm GROUP BY r.usr)
        |SELECT r.usr, r.itm, r.r AS rating,
        |  CAST((SELECT mu FROM g) + u.b + i.b
        |    + (((p.f + m.imp) * q.f // 10000) * 100) // 10000 AS BIGINT) AS r_hat
        |FROM r
        |JOIN bu2 u ON u.id = r.usr JOIN bi2 i ON i.id = r.itm
        |JOIN u2 p ON p.id = r.usr JOIN y2 q ON q.id = r.itm
        |JOIN imp m ON m.usr = r.usr""".stripMargin,
    // mu + two alternating shrunk-residual rounds, truncating integral
    // division on both engines
    "g53_bias_baseline" ->
      """WITH r AS (SELECT o_custkey AS usr,
        |    1000000 + o_orderkey % 211 AS itm, count(*) AS r
        |  FROM orders GROUP BY 1, 2),
        |g AS (SELECT CAST((10000 * sum(r)) // count(*) AS BIGINT) AS mu FROM r),
        |bu1 AS (SELECT r.usr AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - 0) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r GROUP BY r.usr),
        |bi1 AS (SELECT r.itm AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - u.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bu1 u ON u.id = r.usr GROUP BY r.itm),
        |bu2 AS (SELECT r.usr AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - i.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bi1 i ON i.id = r.itm GROUP BY r.usr),
        |bi2 AS (SELECT r.itm AS id,
        |    CAST(sum(10000 * r.r - (SELECT mu FROM g) - u.b) // (5 + count(*))
        |      AS BIGINT) AS b
        |  FROM r JOIN bu2 u ON u.id = r.usr GROUP BY r.itm)
        |SELECT id, 'user' AS side, b AS bias FROM bu2
        |UNION ALL SELECT id, 'item' AS side, b AS bias FROM bi2
        |UNION ALL SELECT -1 AS id, 'global' AS side, (SELECT mu FROM g) AS bias""".stripMargin,
    // two full user/item alternations of integer rank-1 ALS: same
    // per-row floor divisions inside the sums, same integral divide
    "g52_als_factorization" ->
      """WITH r AS (SELECT o_custkey AS usr,
        |    1000000 + o_orderkey % 211 AS itm, count(*) AS r
        |  FROM orders GROUP BY 1, 2),
        |y0 AS (SELECT DISTINCT itm AS id, 10000 AS f FROM r),
        |u1 AS (SELECT r.usr AS id,
        |    CAST((10000 * sum(y.f * r.r)) // (10000 + sum(y.f * y.f // 10000)) AS BIGINT) AS f
        |  FROM r JOIN y0 y ON y.id = r.itm GROUP BY r.usr),
        |y1 AS (SELECT r.itm AS id,
        |    CAST((10000 * sum(u.f * r.r)) // (10000 + sum(u.f * u.f // 10000)) AS BIGINT) AS f
        |  FROM r JOIN u1 u ON u.id = r.usr GROUP BY r.itm),
        |u2 AS (SELECT r.usr AS id,
        |    CAST((10000 * sum(y.f * r.r)) // (10000 + sum(y.f * y.f // 10000)) AS BIGINT) AS f
        |  FROM r JOIN y1 y ON y.id = r.itm GROUP BY r.usr),
        |y2 AS (SELECT r.itm AS id,
        |    CAST((10000 * sum(u.f * r.r)) // (10000 + sum(u.f * u.f // 10000)) AS BIGINT) AS f
        |  FROM r JOIN u2 u ON u.id = r.usr GROUP BY r.itm)
        |SELECT id, 'user' AS side, f AS factor FROM u2
        |UNION ALL SELECT id, 'item' AS side, f AS factor FROM y2""".stripMargin,
    // double-sweep replay: recursive walk from the min-id seed, id-
    // tiebroken farthest pick, second walk from it
    "g42_pseudo_diameter" ->
      s"""WITH RECURSIVE raw AS ($ordersEdgesSql),
         |e AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
         |v AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
         |s0 AS (SELECT min(id) AS id FROM v),
         |w1(id, dist) AS (
         |  SELECT id, 0 FROM s0
         |  UNION
         |  SELECT e.dst, w.dist + 1 FROM w1 w JOIN e ON e.src = w.id
         |  WHERE w.dist < 30),
         |m1 AS (SELECT id, min(dist) AS dist FROM w1 GROUP BY id),
         |u AS (SELECT id FROM m1 ORDER BY dist DESC, id LIMIT 1),
         |w2(id, dist) AS (
         |  SELECT id, 0 FROM u
         |  UNION
         |  SELECT e.dst, w.dist + 1 FROM w2 w JOIN e ON e.src = w.id
         |  WHERE w.dist < 30),
         |m2 AS (SELECT id, min(dist) AS dist FROM w2 GROUP BY id),
         |far AS (SELECT id, dist FROM m2 ORDER BY dist DESC, id LIMIT 1)
         |SELECT (SELECT id FROM s0) AS start_id, (SELECT id FROM u) AS u_id,
         |  far.id AS far_id, far.dist AS diameter_lb FROM far""".stripMargin,
    "g31_kcore" -> kcoreOracleSql(15, 8),
    "g36_ktruss" -> ktrussOracleSql(5, 10),
    "g37_weighted_sssp" -> weightedSsspOracleSql(1L, 10),
    "g38_mis" -> misOracleSql(6),
    "g30_clustering_coeff" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |        FROM e e1
         |        JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
         |        JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |tc AS (SELECT v AS id, count(*) AS t FROM (
         |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri) GROUP BY v),
         |deg AS (SELECT v AS id, count(*) AS degree FROM (
         |  SELECT src AS v FROM e UNION ALL SELECT dst FROM e) GROUP BY v)
         |SELECT d.id, d.degree,
         |  CASE WHEN d.degree >= 2
         |    THEN 2.0 * coalesce(tc.t, 0) / (d.degree * (d.degree - 1))
         |    ELSE 0.0 END AS clustering
         |FROM deg d LEFT JOIN tc ON d.id = tc.id""".stripMargin,
    "g06_label_propagation" -> labelPropagationOracleSql(5),
    "q08_triangles" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst)
         |SELECT count(*) AS n_triangles
         |FROM e e1
         |JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
         |JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst""".stripMargin,
    "g01_degrees" ->
      s"""WITH e AS ($ordersEdgesSql)
         |SELECT src AS id, count(*) AS out_degree FROM e GROUP BY src""".stripMargin,
    "g02_degrees_undirected" ->
      s"""WITH e AS ($ordersEdgesSql),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |v AS (SELECT c_custkey AS id FROM customer
         |      UNION SELECT src FROM e UNION SELECT dst FROM e)
         |SELECT v.id AS id, count(sym.dst) AS degree
         |FROM v LEFT JOIN sym ON v.id = sym.src GROUP BY v.id""".stripMargin,
    "g03_cc_pregel" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        | CAST((SELECT min(n2.n_nationkey) FROM nation n2
        |        WHERE n2.n_regionkey = n1.n_regionkey) AS BIGINT) AS component
        |FROM nation n1
        |UNION ALL
        |SELECT CAST(r_regionkey + 1000 AS BIGINT),
        | CAST((SELECT min(n_nationkey) FROM nation
        |        WHERE n_regionkey = r_regionkey) AS BIGINT)
        |FROM region""".stripMargin,
    "g04_cc_alternating" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        | CAST((SELECT min(n2.n_nationkey) FROM nation n2
        |        WHERE n2.n_regionkey = n1.n_regionkey) AS BIGINT) AS component
        |FROM nation n1
        |UNION ALL
        |SELECT CAST(r_regionkey + 1000 AS BIGINT),
        | CAST((SELECT min(n_nationkey) FROM nation
        |        WHERE n_regionkey = r_regionkey) AS BIGINT)
        |FROM region""".stripMargin,
    "g05_bfs_chain" ->
      """SELECT CAST(0 AS BIGINT) AS start, CAST(8 AS BIGINT) AS "end",
        | CAST(8 AS BIGINT) AS path_len
        |FROM nation WHERE n_nationkey = 0""".stripMargin,
    "g34_modularity" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst),
         |v AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
         |a AS (SELECT id, id % 7 AS community FROM v),
         |m AS (SELECT count(*) AS m FROM e),
         |mi AS (SELECT a1.community, count(*) AS m_in
         |       FROM e JOIN a a1 ON e.src = a1.id JOIN a a2 ON e.dst = a2.id
         |       WHERE a1.community = a2.community GROUP BY a1.community),
         |dg AS (SELECT a.community, count(*) AS deg_sum
         |       FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) x
         |       JOIN a ON x.id = a.id GROUP BY a.community)
         |SELECT ac.community,
         |  CAST(coalesce(mi.m_in, 0) AS BIGINT) AS m_in,
         |  CAST(coalesce(dg.deg_sum, 0) AS BIGINT) AS deg_sum,
         |  round(CAST(coalesce(mi.m_in, 0) AS DOUBLE) / m.m
         |    - (CAST(coalesce(dg.deg_sum, 0) AS DOUBLE) / (2 * m.m))
         |      * (CAST(coalesce(dg.deg_sum, 0) AS DOUBLE) / (2 * m.m)), 9)
         |    AS contribution
         |FROM (SELECT DISTINCT community FROM a) ac
         |CROSS JOIN m
         |LEFT JOIN mi ON mi.community = ac.community
         |LEFT JOIN dg ON dg.community = ac.community""".stripMargin,
    "g35_assortativity" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst),
         |deg AS (SELECT id, count(*) AS deg
         |        FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) x
         |        GROUP BY id),
         |p AS (SELECT src AS x, dst AS y FROM e
         |      UNION ALL SELECT dst, src FROM e),
         |sums AS (SELECT count(*) AS m2,
         |           CAST(sum(a.deg) AS BIGINT) AS s_x,
         |           CAST(sum(a.deg * a.deg) AS BIGINT) AS s_xx,
         |           CAST(sum(a.deg * b.deg) AS BIGINT) AS s_xy
         |         FROM p JOIN deg a ON p.x = a.id JOIN deg b ON p.y = b.id)
         |SELECT m2, s_x, s_xx, s_xy,
         |  round((CAST(m2 AS DOUBLE) * CAST(s_xy AS DOUBLE)
         |          - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))
         |      / (CAST(m2 AS DOUBLE) * CAST(s_xx AS DOUBLE)
         |          - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE)), 9) AS r
         |FROM sums""".stripMargin,
    "g07_jaccard" ->
      s"""WITH e AS ($starEdgesSql),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |adj AS (SELECT src AS id, list(DISTINCT dst) AS nbrs FROM sym GROUP BY src)
         |SELECT a.id AS vertex_a, b.id AS vertex_b,
         | CAST(len(list_intersect(a.nbrs, b.nbrs)) AS DOUBLE)
         |   / len(list_distinct(list_concat(a.nbrs, b.nbrs))) AS jaccard_similarity
         |FROM adj a JOIN adj b ON a.id <> b.id""".stripMargin,
    "g13_overlap" ->
      s"""WITH e AS ($starEdgesSql),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |adj AS (SELECT src AS id, list(DISTINCT dst) AS nbrs FROM sym GROUP BY src)
         |SELECT a.id AS vertex_a, b.id AS vertex_b,
         | CAST(len(list_intersect(a.nbrs, b.nbrs)) AS DOUBLE)
         |   / least(len(a.nbrs), len(b.nbrs)) AS overlap_coefficient
         |FROM adj a JOIN adj b ON a.id <> b.id""".stripMargin,
    "g25_bfs_distances" ->
      s"""WITH RECURSIVE e AS ($hierarchyEdgesSql),
         |walk AS (
         |  SELECT CAST(c_custkey + 10000 AS BIGINT) AS id, 0 AS dist
         |  FROM customer
         |  UNION ALL
         |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.id
         |  WHERE w.dist < 30)
         |SELECT id, CAST(min(dist) AS INTEGER) AS dist
         |FROM walk GROUP BY id""".stripMargin,
    "g24_approx_jaccard" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |sym AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
         |adj AS (SELECT src AS id, list(DISTINCT dst) AS nbrs FROM sym GROUP BY src)
         |SELECT * FROM (
         |  SELECT a.id AS vertex_a, b.id AS vertex_b,
         |   CAST(len(list_intersect(a.nbrs, b.nbrs)) AS DOUBLE)
         |     / len(list_distinct(list_concat(a.nbrs, b.nbrs))) AS jaccard_similarity
         |  FROM adj a JOIN adj b ON a.id < b.id)
         |WHERE jaccard_similarity >= 0.8""".stripMargin,
    "g09_katz" ->
      """WITH a1 AS (SELECT CAST(n_nationkey AS BIGINT) AS row,
        |                   CAST(n_nationkey + 1 AS BIGINT) AS col,
        |                   CAST(1.0 AS DOUBLE) AS val
        |            FROM nation WHERE n_nationkey < 24),
        |a2 AS (SELECT a.row, b.col, sum(a.val * b.val) AS val
        |       FROM a1 a JOIN a1 b ON a.col = b.row GROUP BY a.row, b.col),
        |a3 AS (SELECT a.row, b.col, sum(a.val * b.val) AS val
        |       FROM a2 a JOIN a1 b ON a.col = b.row GROUP BY a.row, b.col),
        |a4 AS (SELECT a.row, b.col, sum(a.val * b.val) AS val
        |       FROM a3 a JOIN a1 b ON a.col = b.row GROUP BY a.row, b.col)
        |SELECT row AS src, col AS dst, sum(val) AS katz_index FROM (
        |  SELECT row, col, 0.5 * val AS val FROM a1
        |  UNION ALL SELECT row, col, 0.25 * val FROM a2
        |  UNION ALL SELECT row, col, 0.125 * val FROM a3
        |  UNION ALL SELECT row, col, 0.0625 * val FROM a4)
        |GROUP BY row, col""".stripMargin,
    "g10_datalog" ->
      s"""WITH e AS ($hierarchyEdgesSql)
         |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |WHERE e1.src >= 10000
         |  AND NOT EXISTS (SELECT 1 FROM e e3
         |                  WHERE e3.src = e1.src AND e3.dst = e2.dst)""".stripMargin,
    "g11_aggregate_messages" ->
      s"""WITH e AS ($hierarchyEdgesSql)
         |SELECT dst AS id, CAST(sum(src) AS BIGINT) AS message FROM e GROUP BY dst""".stripMargin,
    "g12_shortest_paths" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, CAST(0 AS BIGINT) AS landmark,
        | CAST(n_nationkey AS INTEGER) AS dist
        |FROM nation""".stripMargin,
    "g14_adjacency" ->
      s"""WITH e AS ($starEdgesSql),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
         |SELECT src AS id,
         |  list_aggr(list_sort(list(DISTINCT dst)), 'string_agg', ',') AS adjacent
         |FROM sym GROUP BY src""".stripMargin,
    "g15_triplets" ->
      s"""WITH e AS ($hierarchyEdgesSql)
         |SELECT src, dst, src AS s_weight, dst AS d_weight FROM e""".stripMargin,
    "g16_in_degrees" ->
      s"""WITH e AS ($ordersEdgesSql)
         |SELECT dst AS id, count(*) AS in_degree FROM e GROUP BY dst""".stripMargin,
    "g17_pregel_max" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        | CAST(n_regionkey + 1000 AS BIGINT) AS max_reach FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey + 1000 AS BIGINT),
        | CAST(r_regionkey + 1000 AS BIGINT) FROM region""".stripMargin,
    "g18_motif_path2" ->
      """WITH e AS (SELECT CAST(n_nationkey AS BIGINT) AS src,
        |                  CAST(n_nationkey + 1 AS BIGINT) AS dst
        |           FROM nation WHERE n_nationkey < 24)
        |SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |FROM e e1 JOIN e e2 ON e1.dst = e2.src""".stripMargin,
    "g19_degree_stats" ->
      s"""WITH e AS ($ordersEdgesSql),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |d AS (SELECT src, count(*) AS od FROM e GROUP BY src)
         |SELECT (SELECT count(*) FROM v) AS n_vertices,
         |       (SELECT count(*) FROM e) AS n_edges,
         |       count(*) AS n_sources,
         |       max(od) AS max_out_degree,
         |       avg(od) AS avg_out_degree,
         |       median(od) AS median_out_degree
         |FROM d""".stripMargin,
    "g20_hubs" ->
      s"""WITH e AS ($ordersEdgesSql)
         |SELECT src AS id, count(*) AS out_degree FROM e
         |GROUP BY src HAVING count(*) >= 12""".stripMargin,
    "g26_tagged_hubs" ->
      s"""WITH e AS ($ordersEdgesSql)
         |SELECT src AS id, count(*) AS out_degree, src % 7 AS id_tag FROM e
         |GROUP BY src HAVING count(*) >= 12""".stripMargin,
    "g33_harmonic_closeness" ->
      s"""WITH RECURSIVE raw AS ($suppPartEdgesSql),
         |e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
         |      FROM raw
         |      UNION SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM raw),
         |lm AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) AS landmark),
         |walk AS (
         |  SELECT CAST(landmark AS BIGINT) AS landmark,
         |         CAST(landmark AS BIGINT) AS id, 0 AS dist FROM lm
         |  UNION
         |  SELECT w.landmark, e.dst, w.dist + 1 FROM walk w
         |  JOIN e ON e.src = w.id WHERE w.dist < 15),
         |md AS (SELECT landmark, id, min(dist) AS dist FROM walk
         |       GROUP BY landmark, id)
         |SELECT id, count(*) AS n_reached,
         |       CAST(sum(5354228880 // dist) AS BIGINT) AS h_scaled
         |FROM md WHERE dist > 0 GROUP BY id""".stripMargin,
    "g22_scc" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, CAST(0 AS BIGINT) AS component
        |FROM nation
        |UNION ALL
        |SELECT CAST(r_regionkey + 1000 AS BIGINT),
        |       CAST(r_regionkey + 1000 AS BIGINT) FROM region""".stripMargin,
    "g23_triangles_per_vertex" ->
      s"""WITH raw AS ($suppPartEdgesSql),
         |e AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
         |      FROM raw WHERE src <> dst),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |        FROM e e1
         |        JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
         |        JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
         |SELECT v AS id, count(*) AS n_triangles FROM (
         |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri)
         |GROUP BY v""".stripMargin)
}
