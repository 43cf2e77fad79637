package graft

import org.apache.spark.sql.functions._

import graft.core.{Columns, Graph}
import graft.algorithms._
import graft.datalog.{DatalogQuery, EdgeRule}
import graft.pregel.Pregel

class AlgorithmsSpec extends SparkSpec {
  import Columns._

  private def componentPartition(df: org.apache.spark.sql.DataFrame): Set[Set[Any]] =
    df.collect().groupBy(_.getAs[Any](COMPONENT)).values
      .map(_.map(_.getAs[Any](ID)).toSet).toSet

  test("connected components: two_components golden counts (test_connected_components.py)") {
    val g = Fixtures.twoComponents(spark, directed = false)
    val cc = ConnectedComponents().run(g)
    val sizes = cc.groupBy(COMPONENT).count().select("count").collect().map(_.getLong(0)).sorted
    assert(sizes.toSeq === Seq(3, 3))
  }

  test("pregel: power-law hub graph — CC finds the hub star and the chain") {
    import spark.implicits._
    // hub 0 carries ~half of all edges (the degree-skew shape that makes
    // one reducer the bottleneck at scale); plus a chain and an island
    val hubEdges = (1L to 50L).map(i => (0L, i))
    val chain = (51L to 69L).map(i => (i, i + 1))
    val edges = (hubEdges ++ chain).toDF(SRC, DST)
    val verts = (0L to 70L).toDF(ID)
    val g = Graph(verts, edges.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val sizes = ConnectedComponents(maxIterations = 30).run(g).groupBy(COMPONENT).count()
      .select("count").collect().map(_.getLong(0)).sorted
    assert(sizes.toSeq === Seq(20, 51))
  }

  test("MODE_EQUIVALENCE: scalable two-step mode == Spark deterministic mode") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(400 + seed)
      val msgs = Seq.fill(80 + rnd.nextInt(60))(
        (rnd.nextInt(10).toLong, rnd.nextInt(6).toLong))
        .toDF(ID, MSG)
      val twoStep = graft.algorithms.LabelPropagation.scalableMode(msgs)
      val holistic = msgs.groupBy(col(ID))
        .agg(mode(col(MSG), deterministic = true).as(MSG))
      assert(rowSet(twoStep) === rowSet(holistic), s"seed $seed")
    }
    // and end to end: LabelPropagation (two-step) equals a mode-aggExpr
    // Pregel run on a fixture with forced ties
    val g = Fixtures.sample1(spark, false)
    val viaTwoStep = LabelPropagation(maxIterations = 5).run(g)
    val viaMode = Pregel(
      initialState = col(ID),
      aggExpr = mode(col(MSG), deterministic = true),
      msgToSrc = Some(col(STATE)),
      msgToDst = Some(col(STATE)),
      maxIterations = 5)
      .run(g)
      .select(col(ID), col(STATE).as(LABEL))
    assert(rowSet(viaTwoStep) === rowSet(viaMode))
  }

  test("pregel CC and alternating CC agree on component partitions") {
    for (fix <- Seq(Fixtures.sample1 _, Fixtures.sample2 _, Fixtures.twoComponents _)) {
      val g = fix(spark, false)
      val p = ConnectedComponents(maxIterations = 20).run(g)
      // AltCC labels only vertices that appear in some edge (reference
      // semantics); complete isolated vertices as their own component
      val a = g.vertices.select(col(ID))
        .join(AlternatingConnectedComponents(maxIterations = 20).run(g), Seq(ID), "left")
        .select(col(ID), coalesce(col(COMPONENT), col(ID)).as(COMPONENT))
      assert(componentPartition(p) === componentPartition(a))
    }
  }

  test("g04_cc_alternating throws when its star CC cap is too small for a chain") {
    import spark.implicits._
    // nation keys 1000..2999 with region keys 1..2000 put every edge
    // (nationkey, regionkey + 1000) on one 2001-vertex path, which the
    // star rounds need 12 rounds to label — past the query's cap of 10
    val dir = java.nio.file.Files.createTempDirectory("graft-g04").toString
    (0L until 2000L).map(i => (1000L + i, i + 1)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    intercept[IllegalStateException] {
      graft.queries.GraphQueries.queries("g04_cc_alternating")(spark, dir).collect()
    }
  }

  test("strongly connected components: cycles group, DAG parts are singletons") {
    import spark.implicits._
    // cycle {0,1,2} -> 3 -> {4,5} cycle; 6 isolated; 3 is a singleton SCC
    val g = Graph.index(
      (0L to 6L).toDF("id"),
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 4L))
        .toDF("src", "dst"),
      directed = true)
    val scc = StronglyConnectedComponents().run(g)
      .join(g.vertices.select(col(ID), col(OLD_ID)), Seq(ID))
      .collect().map(r => r.getAs[Long](OLD_ID) -> r.getAs[Long](COMPONENT))
    val parts = scc.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(parts === Set(Set(0L, 1L, 2L), Set(3L), Set(4L, 5L), Set(6L)))
  }

  test("SCC: a cycle longer than any former default cap is one component") {
    import spark.implicits._
    // 50-ring: reachability depth 49 — under the old semantics a capped
    // min-propagation (20 supersteps) silently split this SCC; the inner
    // Pregel now runs to its fixed point
    val n = 50L
    val g = Graph.index(
      (0L until n).toDF("id"),
      (0L until n).map(k => (k, (k + 1) % n)).toDF("src", "dst"),
      directed = true)
    val scc = StronglyConnectedComponents().run(g)
      .join(g.vertices.select(col(ID), col(OLD_ID)), Seq(ID))
      .collect().map(r => r.getAs[Long](OLD_ID) -> r.getAs[Long](COMPONENT))
    assert(scc.length === 50)
    assert(scc.map(_._2).toSet.size === 1, "ring must resolve as ONE SCC")
  }

  test("BFS distances: visited pruning yields min hop counts, multi-source takes nearest") {
    import spark.implicits._
    // 0->1->2->3->4 chain plus shortcut 0->3; 5 unreachable
    val g = Graph.index(
      (0L to 5L).toDF("id"),
      Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L)).toDF("src", "dst"),
      directed = true)
    def dists(start: org.apache.spark.sql.Column): Map[Long, Int] =
      BreadthFirstSearch.distances(g, start)
        .join(g.vertices.select(col(ID), col(OLD_ID)), Seq(ID))
        .collect().map(r => r.getAs[Long](OLD_ID) -> r.getAs[Int]("dist")).toMap
    val single = dists(col(OLD_ID) === 0L)
    assert(single === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 1, 4L -> 2))
    val multi = dists(col(OLD_ID).isin(0L, 2L))
    assert(multi === Map(0L -> 0, 2L -> 0, 1L -> 1, 3L -> 1, 4L -> 2))
  }

  test("a checkpoint dir pins rounds reliably and matches the local pins") {
    val g = Fixtures.twoComponents(spark, directed = false)
    val prior = spark.sparkContext.getCheckpointDir
    val local = rowSet(ConnectedComponents().run(g))
    val dir = tempDir("graft-ckpt")
    val reliable = withCheckpointDir(dir)(rowSet(ConnectedComponents().run(g)))
    assert(reliable === local)
    // blocks actually landed in the reliable store
    assert(filesUnder(dir) > 0, "no checkpoint files written")
    // and the shared context is back to its prior mode
    assert(spark.sparkContext.getCheckpointDir === prior)
  }

  test("SCC: propagation cap fails loudly instead of mislabeling") {
    import spark.implicits._
    val n = 30L
    val g = Graph.index(
      (0L until n).toDF("id"),
      (0L until n).map(k => (k, (k + 1) % n)).toDF("src", "dst"),
      directed = true)
    val e = intercept[IllegalStateException] {
      StronglyConnectedComponents(propagationIterations = 5).run(g).collect()
    }
    assert(e.getMessage.contains("fixed point"))
  }

  test("label propagation: labels stay within the component and runs are deterministic") {
    val g = Fixtures.labelled(spark, directed = false)
    val lp = LabelPropagation(maxIterations = 10).run(g)
    assert(lp.count() === 6)
    // a vertex's label is always some member of its own component (labels
    // are ids propagated along edges; cycles may oscillate — LP semantics)
    val withComp = lp.join(ConnectedComponents(maxIterations = 20).run(g), Seq(ID))
    val memberSets = withComp.collect()
      .groupBy(_.getAs[Long](COMPONENT)).view
      .mapValues(rs => (rs.map(_.getAs[Long](ID)).toSet, rs.map(_.getAs[Long](LABEL)).toSet))
    memberSets.foreach { case (_, (members, labels)) =>
      assert(labels.subsetOf(members))
    }
    // deterministic across runs (ties broken by deterministic mode)
    val lp2 = LabelPropagation(maxIterations = 10).run(g)
    assert(rowSet(lp) === rowSet(lp2))
  }

  test("WL kernel: deterministic, isomorphism-invariant, distinguishes non-isomorphic") {
    val a = WLKernel().run(Fixtures.sample1(spark, directed = false))
    val b = WLKernel().run(Fixtures.sample1(spark, directed = false))
    assert(a === b)
    // relabeled sample1 (same structure, different vertex names) hashes equal
    import spark.implicits._
    val iso = Graph.index(
      Seq("x1", "x2", "x3", "x4", "x5", "x6").toDF("id"),
      Seq("x1" -> "x2", "x1" -> "x3", "x2" -> "x4", "x2" -> "x3", "x2" -> "x5",
        "x5" -> "x4", "x2" -> "x1").toDF("src", "dst"),
      directed = false)
    assert(WLKernel().run(iso) === a)
    val c = WLKernel().run(Fixtures.twoComponents(spark, directed = false))
    assert(c !== a)
  }

  test("BFS finds the shortest path a->f on sample2") {
    val g = Fixtures.sample2(spark, directed = true)
    val oldIds = g.vertices.select(col(OLD_ID), col(ID)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val res = BreadthFirstSearch(
      startExpr = col(OLD_ID) === "a",
      endExpr = col(OLD_ID) === "f").run(g)
    val rows = res.collect()
    assert(rows.length === 1)
    val verts = rows(0).getAs[scala.collection.Seq[Long]](VERTICES)
    assert(verts.length === 6) // a b c d e f
    assert(verts.head === oldIds("a") || verts.head === oldIds("b")) // path starts after a's first hop
  }

  test("shortest paths: distances to landmark on labelled fixture") {
    val g = Fixtures.labelled(spark, directed = false)
    val lm = g.vertices.filter(col(OLD_ID) === 0L).select(ID).head().getLong(0)
    val sp = ShortestPaths(Seq(lm), maxIterations = 10).run(g)
    val dists = sp.join(g.vertices, Seq(ID))
      .select(col(OLD_ID), element_at(col("distances"), lm))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    // component {0,1,2} is a 3-cycle: distances 0,1,1; {3,4,5} unreachable
    assert(dists(0L) === 0 && dists(1L) === 1 && dists(2L) === 1)
    assert(dists(3L) === -1 && dists(4L) === -1 && dists(5L) === -1)
  }

  test("MIS: independent, maximal, deterministic; isolated vertices always join") {
    import spark.implicits._
    // path 0-1-2-3-4 + isolated 9: MIS must be independent (no adjacent
    // pair), maximal (every non-member has a member neighbor), include 9
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 2L, 3L, 4L, 9L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val mis = MaximalIndependentSet.run(g).select(col(ID))
      .collect().map(_.getLong(0)).toSet
    val edges = Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    edges.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"adjacent pair ($a,$b) both in MIS") }
    (0L to 4L).filterNot(mis).foreach { x =>
      assert(edges.exists { case (a, b) =>
        (a == x && mis(b)) || (b == x && mis(a)) }, s"$x has no MIS neighbor") }
    assert(mis(9L), "isolated vertex must join")
    // deterministic: a second run returns the identical set
    val again = MaximalIndependentSet.run(g).select(col(ID))
      .collect().map(_.getLong(0)).toSet
    assert(again === mis)
  }

  test("weighted shortest paths: cheap two-hop path beats the heavy direct edge") {
    import spark.implicits._
    // 0->2 costs 10 direct, but 0->1->2 costs 2+3=5; hop-count SP would
    // prefer the direct edge, min-plus must not
    val e = Seq((0L, 2L, 10L), (0L, 1L, 2L), (1L, 2L, 3L)).toDF(SRC, DST, "weight")
    val v = Seq(0L, 1L, 2L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = true)
    val sp = ShortestPaths(Seq(2L), maxIterations = 10,
        weightCol = Some("weight")).run(g)
    val dists = sp.select(col(ID), element_at(col("distances"), 2L))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(dists === Map(0L -> 5L, 1L -> 3L, 2L -> 0L))
  }

  test("katz index on a 2-edge chain matches the hand-computed series") {
    import spark.implicits._
    val g = Graph.index(
      Seq("a", "b", "c").toDF("id"),
      Seq("a" -> "b", "b" -> "c").toDF("src", "dst"),
      directed = true)
    val ids = g.vertices.select(col(OLD_ID), col(ID)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // A: a->b, b->c; A^2: a->c. beta=0.5: S = 0.5A + 0.25A^2
    val katz = KatzIndex(beta = 0.5, maxIterations = 4).run(g)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(katz((ids("a"), ids("b"))) === 0.5)
    assert(katz((ids("b"), ids("c"))) === 0.5)
    assert(katz((ids("a"), ids("c"))) === 0.25)
    assert(katz.size === 3)
  }

  test("datalog open-triad motif equals triangle closure complement on sample1") {
    val g = Fixtures.sample1(spark, directed = true)
    val triads = DatalogQuery(
      projection = Seq(col("a"), col("b"), col("c")),
      premises = Seq(EdgeRule("a", "b"), EdgeRule("b", "c")),
      negatedPremises = Seq(EdgeRule("a", "c"))).apply(g)
    // paths of length 2: count from edges; closed ones subtracted
    val e = g.edges.select(col(SRC), col(DST))
    val paths2 = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val closed = paths2.join(e.select(col(SRC).as("a"), col(DST).as("c")), Seq("a", "c"), "left_semi")
    assert(triads.count() === paths2.count() - closed.count())
  }

  test("aggregate messages: in-neighbour count via toDst") {
    val g = Fixtures.sample1(spark, directed = true)
    val m = AggregateMessages(agg = count(lit(1)), toDst = Some(lit(1)))
      .run(g).withColumnRenamed(MSG, "cnt")
    val expected = g.inDegrees.withColumnRenamed(IN_DEGREE, "cnt")
    assert(rowSet(m) === rowSet(expected))
  }

  test("HITS: hub/authority structure on a two-hub star, L2-normalized") {
    import spark.implicits._
    // hub 0 endorses 10,11,12; weaker hub 1 endorses only 10
    val e = Seq((0L, 10L), (0L, 11L), (0L, 12L), (1L, 10L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 10L, 11L, 12L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = true)
    val res = Hits(maxIterations = 10).run(g)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val hub = res.view.mapValues(_._1).toMap
    val auth = res.view.mapValues(_._2).toMap
    // the doubly-endorsed authority dominates; the 3-endorsement hub wins
    assert(auth(10L) > auth(11L) && auth(11L) === auth(12L) && auth(11L) > 0.0)
    assert(hub(0L) > hub(1L) && hub(1L) > 0.0)
    // pure authorities have no hub score, pure hubs no authority
    Seq(10L, 11L, 12L).foreach(x => assert(hub(x) === 0.0))
    Seq(0L, 1L).foreach(x => assert(auth(x) === 0.0))
    // both vectors are L2-normalized
    assert(math.abs(hub.values.map(x => x * x).sum - 1.0) < 1e-9)
    assert(math.abs(auth.values.map(x => x * x).sum - 1.0) < 1e-9)
  }

  test("eigenvector centrality: triangle + pendant, dominant-eigenvector structure") {
    import spark.implicits._
    // 0-1-2 triangle with pendant 3 off vertex 2 (non-bipartite, so the
    // power iteration converges); eigen-equations give x2 > x0 = x1 > x3
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 2L, 3L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val x = EigenvectorCentrality(maxIterations = 30).run(g)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(x(2L) > x(0L) && x(0L) === x(1L) && x(1L) > x(3L) && x(3L) > 0.0)
    assert(math.abs(x.values.map(s => s * s).sum - 1.0) < 1e-9)
    // dominant eigenvalue of this graph: lambda^3 - lambda^2 - 3 lambda + 1 = 0,
    // root ~2.1700865; at the fixpoint A x = lambda x on the pendant row
    assert(math.abs(x(2L) / x(3L) - 2.1700865) < 1e-4)
  }

  test("clustering coefficient: triangle + pendant matches hand computation") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 2L, 3L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val cc = TriangleCount.clusteringCoefficient(g)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(cc(0L) === ((2L, 1.0)) && cc(1L) === ((2L, 1.0)))
    assert(cc(2L)._1 === 3L && math.abs(cc(2L)._2 - 1.0 / 3.0) < 1e-15)
    assert(cc(3L) === ((1L, 0.0)))
  }

  test("k-core: peeling removes shells transitively; empty core is empty") {
    import spark.implicits._
    // triangle {0,1,2} + chain 2-3-4: the 2-core is exactly the triangle
    // (4 peels first, exposing 3)
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 2L, 3L, 4L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val core2 = KCore.run(g, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    assert(KCore.run(g, 3).isEmpty, "no 3-core in a single triangle + tail")
  }

  test("k-truss: under-supported edges peel transitively; empty truss is empty") {
    import spark.implicits._
    // K4 on {0,1,2,3} (every edge closes 2 triangles) + pendant triangle
    // {3,4,5} (each edge closes 1): the 4-truss is exactly the K4 — the
    // pendant triangle's edges all fall below support 2 and peel together
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val pendant = Seq((3L, 4L), (3L, 5L), (4L, 5L))
    val e = (k4 ++ pendant).toDF(SRC, DST)
    val v = (0L to 5L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val truss4 = KTruss.run(g, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(truss4 === k4.map(_ -> 2L).toMap)
    // 3-truss (support >= 1) keeps everything; 5-truss is empty
    assert(KTruss.run(g, 3).count() === 9L)
    assert(KTruss.run(g, 5).isEmpty, "no 5-truss in K4 + pendant triangle")
  }

  test("k-truss: incremental decrement path matches peeling across cascaded rounds") {
    import spark.implicits._
    // K6 on {0..5} + vertex 6 adj {0,1} + vertex 7 adj {0,6}. Supports:
    // K6 edges 4 except (0,1)=5; (0,6)=2; (0,7)=(6,7)=(1,6)=1. A 4-truss
    // peel drops {(0,7),(6,7),(1,6)} in round 1 — 3 of 19 edges, under
    // the 1/4 crossover, so the INCREMENTAL path runs: destroyed
    // triangles {0,6,7} and {0,1,6} decrement (0,6) by 2 (to 0) and
    // (0,1) by 1 (to 4). Round 2 drops (0,6) (a 0-support edge, again
    // incremental, zero destroyed triangles); round 3 converges on the
    // bare K6 with every support 4.
    val k6 = for { a <- 0L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val extra = Seq((0L, 6L), (1L, 6L), (0L, 7L), (6L, 7L))
    val e = (k6 ++ extra).toDF(SRC, DST)
    val v = (0L to 7L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val truss4 = KTruss.run(g, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(truss4 === k6.map(_ -> 4L).toMap)
  }

  test("random walks: follow edges, stop at sinks, deterministic across runs") {
    import spark.implicits._
    // 0->1->2 chain plus a branch 1->3; 2 and 3 are sinks
    val e = Seq((0L, 1L), (1L, 2L), (1L, 3L)).toDF(SRC, DST)
    val v = Seq(0L, 1L, 2L, 3L).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = true)
    val edgeSet = Set((0L, 1L), (1L, 2L), (1L, 3L))
    val walks = RandomWalks.uniformWalks(g, v.select(col(ID)), steps = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every walk starts at its walker
    walks.filter(_._2 == 0).foreach { case (w, _, x) => assert(w === x) }
    // every consecutive pair is a real edge
    val byWalker = walks.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3).toSeq).toMap
    byWalker.values.foreach { path =>
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)), s"($a,$b) not an edge")
        case _ => ()
      }
    }
    // sinks stop immediately; the chain walker stops when it hits a sink
    assert(byWalker(2L) === Seq(2L) && byWalker(3L) === Seq(3L))
    assert(byWalker(0L).length <= 4 && byWalker(0L).length >= 3,
      s"walk from 0 runs 0 -> 1 -> sink: ${byWalker(0L)}")
    // deterministic: a second run is identical
    val again = RandomWalks.uniformWalks(g, v.select(col(ID)), steps = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(walks.toSet === again.toSet)
  }

  test("pseudo-diameter: double sweep is exact on a path, bounds a star") {
    import spark.implicits._
    def pd(es: Seq[(Long, Long)], n: Long) = {
      val g = Graph((0L until n).toDF(ID),
        es.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
        directed = false)
      BreadthFirstSearch.pseudoDiameter(g).collect().head
    }
    // path 0-1-2-3-4: seed 0, farthest 4, back to 0, diameter 4 (exact)
    val p = pd(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), 5)
    assert((p.getLong(0), p.getLong(1), p.getLong(2), p.getInt(3)) === ((0L, 4L, 0L, 4)))
    // star 1..4 -> 0: seed 0 reaches all at 1 (u = leaf 1), second sweep
    // from a leaf spans the true diameter 2
    val s = pd(Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)), 5)
    assert((s.getLong(0), s.getLong(1), s.getInt(3)) === ((0L, 1L, 2)))
  }

  test("louvain: greedy refinement finds the triangle communities and holds them") {
    import spark.implicits._
    def communities(es: Seq[(Long, Long)], n: Long, rounds: Int): Map[Long, Long] = {
      val g = Graph((0L until n).toDF(ID),
        es.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
        directed = false)
      Louvain.refine(g, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // barbell: two triangles bridged by one edge — the max-modularity
    // split IS the two triangles, found by round 2
    val barbell = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val c2 = communities(barbell, 6, rounds = 2)
    assert(Set(c2(0), c2(1), c2(2)).size === 1, s"left triangle together: $c2")
    assert(Set(c2(3), c2(4), c2(5)).size === 1, s"right triangle together: $c2")
    assert(c2(0) !== c2(3), s"bridge must separate: $c2")
    // fixpoint: further rounds change nothing
    assert(communities(barbell, 6, rounds = 6) === c2)
    // ring of four bridged triangles -> four communities
    val ring = (0 until 4).flatMap { i =>
      val b = 3L * i
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    } ++ Seq((2L, 3L), (5L, 6L), (8L, 9L), (11L, 0L))
    val cr = communities(ring, 12, rounds = 4)
    assert((0 until 4).forall { i =>
      Set(cr(3L * i), cr(3L * i + 1), cr(3L * i + 2)).size == 1
    }, s"each triangle one community: $cr")
    assert(Set(cr(0), cr(3), cr(6), cr(9)).size === 4, s"four distinct: $cr")
  }

  test("louvain coarsening: contract carries mass, weighted refine decides merges") {
    import spark.implicits._
    val barbell = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val g = Graph((0L to 5L).toDF(ID),
      barbell.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val comm = Louvain.refine(g, rounds = 2)
    val cg = Louvain.contract(g, comm)
    assert(cg.vertices.count() === 2)
    val ce = cg.edges.select(SRC, DST, "weight").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // each triangle's 3 internal edges become a self-loop of weight 3;
    // the bridge survives with weight 1
    assert(ce.values.toSeq.sorted === Seq(1L, 3L, 3L))
    assert(ce.count { case ((a, b), _) => a == b } === 2)
    // level-2 weighted refine: modularity says DON'T merge the triangles
    // (2m*l = 14 < k_a*k_b = 49)
    val l2 = Louvain.refineWeighted(cg, "weight", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2.values.toSet.size === 2, s"triangles stay separate: $l2")
    // ...and a heavy bridge DOES merge: A-B weight 5 with unit self-loops
    val hg = Graph(Seq(0L, 1L).toDF(ID),
      Seq((0L, 1L, 5L), (0L, 0L, 1L), (1L, 1L, 1L)).toDF(SRC, DST, "weight")
        .withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val hm = Louvain.refineWeighted(hg, "weight", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hm.values.toSet.size === 1, s"heavy bridge merges: $hm")
  }

  test("louvain fit: multi-level driver improves modularity and stops at the stall") {
    import spark.implicits._
    // ring of four bridged triangles with WEAKLY separated halves: the
    // flat refine finds the four triangles (level 0); the second level's
    // weighted refine considers merging adjacent triangle-communities —
    // the fit driver must accept a level only when ORIGINAL-graph
    // modularity improves, and return the best labelling seen
    val ring = (0 until 4).flatMap { i =>
      val b = 3L * i
      Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
    } ++ Seq((2L, 3L), (5L, 6L), (8L, 9L), (11L, 0L))
    val g = Graph((0L until 12L).toDF(ID),
      ring.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    def qOf(assign: org.apache.spark.sql.DataFrame): Double =
      Modularity.perCommunity(g, assign)
        .agg(sum(col("contribution"))).head().getDouble(0)

    val flat = Louvain.refine(g, rounds = 4)
    val fitted = Louvain.fit(g, maxLevels = 3, roundsPerLevel = 4)
    // the driver never returns a worse labelling than level 0
    assert(qOf(fitted) >= qOf(flat) - 1e-12)
    // on this fixture the triangle split is optimal: levels past it are
    // rejected and the composite equals the flat labelling's partition
    val fm = fitted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 4).forall { i =>
      Set(fm(3L * i), fm(3L * i + 1), fm(3L * i + 2)).size == 1
    }, s"triangles intact: $fm")
    assert(Set(fm(0), fm(3), fm(6), fm(9)).size === 4, s"four communities: $fm")

    // barbell of two triangles: fit converges to exactly 2 communities
    // and matches the hand-derived optimum
    val barbell = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (3L, 4L), (4L, 5L), (3L, 5L), (2L, 3L))
    val bg = Graph((0L to 5L).toDF(ID),
      barbell.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val bm = Louvain.fit(bg, maxLevels = 3, roundsPerLevel = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(bm(0), bm(1), bm(2)).size === 1 &&
      Set(bm(3), bm(4), bm(5)).size === 1 && bm(0) != bm(3), s"barbell: $bm")

    // a graph where level 2 GENUINELY improves: two triangles bridged by
    // a HEAVY parallel structure... use the two-clique pair that level-0
    // parity refinement splits but the contracted level merges: K4 minus
    // nothing, cut in half by init — here simply assert fit >= refine on
    // the orders-like ring with a chord that rewards a 2-community merge
    val chord = ring ++ Seq((1L, 4L), (2L, 4L), (1L, 5L))
    val cg = Graph((0L until 12L).toDF(ID),
      chord.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    assert(qOf(Louvain.fit(cg, maxLevels = 3, roundsPerLevel = 4)) >=
      qOf(Louvain.refine(cg, rounds = 4)) - 1e-12)
  }

  test("betweenness: Brandes golden values on a path and a diamond") {
    import spark.implicits._
    def bc(es: Seq[(Long, Long)], n: Long, lms: Seq[Long]): Map[Long, Double] = {
      val g = Graph((0L until n).toDF(ID),
        es.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
        directed = false)
      Betweenness.landmark(g, lms, maxDepth = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    // path 0-1-2-3-4, ALL vertices as landmarks = full Brandes: the
    // directional dependency sums are 0, 6, 8, 6, 0
    val path = bc(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), 5, 0L to 4L)
    assert(path === Map(0L -> 0.0, 1L -> 6.0, 2L -> 8.0, 3L -> 6.0, 4L -> 0.0))
    // diamond 0-1-3, 0-2-3: two shortest paths 0~3 split sigma; every
    // vertex accumulates 0.5 + 0.5 = 1.0
    val dia = bc(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)), 4, 0L to 3L)
    assert(dia === Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0, 3L -> 1.0))
    // landmark SUBSET: only source 0's sweep counts on the path
    val sub = bc(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), 5, Seq(0L))
    assert(sub === Map(1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.0))
  }

  test("biased walks: unit weights degenerate BIT FOR BIT to uniform; weights steer") {
    import spark.implicits._
    // 200-cycle, undirected: every vertex has exactly two neighbors, so
    // step 2 is a clean two-way return-vs-forward choice for each walker
    val n = 200L
    val e = (0L until n).map(i => (i, (i + 1) % n)).toDF(SRC, DST)
    val v = (0L until n).toDF(ID)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // p = q = 1: identical output, not just statistically similar
    val uni = rows(RandomWalks.uniformWalks(g, v.select(col(ID)), steps = 4))
    val deg = rows(RandomWalks.biasedWalks(g, v.select(col(ID)), steps = 4))
    assert(deg === uni)

    def returnFraction(wr: Int, wc: Int, wo: Int): Double = {
      val w = RandomWalks.biasedWalks(g, v.select(col(ID)), steps = 2,
        wReturn = wr, wCommon = wc, wOutward = wo)
        .groupBy("walker").pivot("step", Seq(0, 2)).sum("vertex")
        .collect().map(r => r.getLong(1) == r.getLong(2))
      w.count(identity).toDouble / w.length
    }
    // heavy return bias pulls walkers back to their start; heavy outward
    // bias pushes them on (P(return) = wr/(wr+wo) on a cycle: 100/101 vs 1/101)
    assert(returnFraction(100, 1, 1) > 0.9)
    assert(returnFraction(1, 1, 100) < 0.1)
    // moderate bias 4:2:1 (the g39 setting) sits in between: P = 4/5
    val mid = returnFraction(4, 2, 1)
    assert(mid > 0.6 && mid < 0.95, s"got $mid")
  }

  test("pregel: max-id propagation reaches the global max on a connected graph") {
    val g = Fixtures.sample2(spark, directed = false)
    val res = Pregel(
      initialState = col(ID),
      aggExpr = max(col(MSG)),
      msgToSrc = Some(col(STATE)),
      msgToDst = Some(col(STATE)),
      updateExpr = Some(greatest(col(MSG), col(STATE))),
      maxIterations = 20).run(g)
    val maxId = g.vertices.agg(max(ID)).head().getLong(0)
    assert(res.select(STATE).distinct().collect().map(_.getLong(0)).toSeq === Seq(maxId))
  }

  test("modularity: two triangles joined by a bridge, analytic Q = 5/14") {
    import spark.implicits._
    // triangles {0,1,2} and {3,4,5} with bridge 2-3: m = 7, each
    // community has m_in = 3 and deg_sum = 7, so each contributes
    // 3/7 - (7/14)^2 = 5/28 and Q = 5/14
    val v = (0L to 5L).toDF(ID)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L)).toDF(SRC, DST)
    val g = Graph(v, e, directed = false)
    val assign = v.select(col(ID), (col(ID) / 3).cast("long").as("community"))
    val got = Modularity.perCommunity(g, assign)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(0L) === ((3L, 7L, math.rint(5.0 / 28 * 1e9) / 1e9)))
    assert(got(1L) === ((3L, 7L, math.rint(5.0 / 28 * 1e9) / 1e9)))
    val q = got.values.map(_._3).sum
    assert(math.abs(q - 5.0 / 14) < 1e-8)
  }

  test("assortativity: star graph is perfectly disassortative (r = -1)") {
    import spark.implicits._
    // K1,3: every edge joins degree 3 to degree 1 — textbook r = -1
    val v = (0L to 3L).toDF(ID)
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF(SRC, DST)
    val row = Assortativity.degreeAssortativity(Graph(v, e, directed = false))
      .head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((6L, 12L, 30L, 18L)))
    assert(row.getDouble(4) === -1.0)
  }

  test("graph coloring: proper on sample graphs, deterministic, cap raises") {
    import spark.implicits._
    import graft.algorithms.GraphColoring
    for (g <- Seq(Fixtures.sample1(spark), Fixtures.twoComponents(spark, directed = false))) {
      val colors = GraphColoring().run(g)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // proper: no edge joins two same-colored endpoints
      val bad = g.symmetricEdges.select(col(SRC), col(DST)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => a != b && colors(a) == colors(b) }
      assert(bad.isEmpty, s"conflicting edges: ${bad.toSeq}")
      assert(colors.values.min === 0, "colors start at 0")
      // re-run is bit-identical (pure function of ids)
      val again = GraphColoring().run(g)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(again === colors)
    }
    // a triangle needs 3 colors; K2 needs 2
    val v = (0L to 2L).toDF(ID)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF(SRC, DST)
    val tri = GraphColoring().run(
      Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))), directed = false))
      .collect().map(_.getInt(1)).toSet
    assert(tri === Set(0, 1, 2))
    // cap: a 6-chain cannot finish in 1 round
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF(SRC, DST)
    intercept[IllegalArgumentException] {
      GraphColoring(maxRounds = 1).run(Graph((0L to 5L).toDF(ID),
        chain.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
        directed = false)).collect()
    }
  }

  test("speculative coloring: proper and deterministic on dense-ish fixtures") {
    import spark.implicits._
    import graft.algorithms.GraphColoring
    // K5 forces 5 colors and maximal conflict pressure
    val v = (0L to 4L).toDF(ID)
    val e = (for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF(SRC, DST)
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val gc = GraphColoring()
    val colors = gc.runSpeculative(g)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(colors.values.toSet === Set(0, 1, 2, 3, 4), s"K5 needs 5 colors: $colors")
    for (gr <- Seq(Fixtures.sample1(spark), Fixtures.twoComponents(spark, directed = false))) {
      val c = GraphColoring().runSpeculative(gr)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val bad = gr.symmetricEdges.select(col(SRC), col(DST)).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => a != b && c(a) == c(b) }
      assert(bad.isEmpty, s"conflicting edges: ${bad.toSeq}")
      val again = GraphColoring().runSpeculative(gr)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(again === c)
    }
  }

  test("weighted PageRank: constant weights = uniform bit for bit, bias steers") {
    import spark.implicits._
    import graft.algorithms.PageRank
    val v = (0L to 3L).toDF(ID)
    val e = Seq((0L, 1L, 7L), (0L, 2L, 7L), (1L, 3L, 7L), (2L, 3L, 7L),
      (3L, 0L, 7L)).toDF(SRC, DST, "weight")
    val g = Graph(v, e.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = true)
    val uni = PageRank(maxIterations = 4).run(g)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val const = PageRank(maxIterations = 4, weightCol = Some("weight")).run(g)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(uni === const, "constant weights must degenerate exactly")

    // 9:1 weights out of vertex 0 must pull rank toward vertex 1
    val biased = Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 0L, 1L)).toDF(SRC, DST, "weight")
    val gb = Graph(v, biased.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = true)
    val wr = PageRank(maxIterations = 8, weightCol = Some("weight")).run(gb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wr(1L) > wr(2L) * 3, s"rank must follow weight: ${wr(1L)} vs ${wr(2L)}")
    assert(math.abs(wr.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("butterflies: exact census on a crafted bipartite graph") {
    import spark.implicits._
    // K2,2 on {1,2}x{a=10,b=11} = one butterfly; extra edge (2,12) adds
    // two cn=1 pairs; duplicate edge row must not inflate counts
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L),
      (2L, 10L)).toDF("c", "i")
    val row = graft.algorithms.Butterflies.metrics(e, "c", "i").head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((3L, 4L, 1L)))
  }

  test("boruvka: exact MSF on a known graph, forest across components") {
    import spark.implicits._
    // component A: square 1-2-3-4 with chord (1,3); unique MST
    // {(1,2,1),(3,4,2),(1,3,3)}. component B: pair (10,11).
    // reciprocal duplicate (2,1) and parallel heavier (1,3,9) collapse.
    val e = Seq(
      (1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 5L), (3L, 4L, 2L),
      (4L, 1L, 4L), (1L, 3L, 3L), (3L, 1L, 9L),
      (10L, 11L, 7L), (5L, 5L, 0L)) // self-loop dropped
      .toDF("src", "dst", "weight")
    val forest = graft.algorithms.Boruvka(maxRounds = 4).run(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(forest === Set((1L, 2L, 1L), (3L, 4L, 2L), (1L, 3L, 3L), (10L, 11L, 7L)))
    // total weight is the MSF weight; edge count = V - #components
    assert(forest.toSeq.map(_._3).sum === 13L)
  }

  test("boruvka: null weight fails loudly; round cap raises when unconverged") {
    import spark.implicits._
    val bad = Seq((1L, 2L, Some(1L)), (2L, 3L, None)).toDF("src", "dst", "weight")
    val ex = intercept[Exception] {
      graft.algorithms.Boruvka().run(bad).collect()
    }
    assert(ex.getMessage.contains("weight") || ex.getCause != null)
    // a path of 8 vertices cannot finish in 1 round (+1 to observe done)
    val chain = (0L until 7L).map(i => (i, i + 1, i + 1)).toDF("src", "dst", "weight")
    val ex2 = intercept[IllegalArgumentException] {
      graft.algorithms.Boruvka(maxRounds = 1).run(chain).collect()
    }
    assert(ex2.getMessage.contains("Boruvka"))
  }

  test("link prediction: scores exact on a crafted co-purchase set, hub capped") {
    import spark.implicits._
    // centers: c1 buys {10,11,12} (deg 3), c2 buys {10,11} (deg 2),
    // hub buys {10,11,12,13} (deg 4 > cap) -> contributes nothing
    val e = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L),
      (9L, 10L), (9L, 11L), (9L, 12L), (9L, 13L),
      (2L, 10L)) // duplicate row must collapse
      .toDF("c", "i")
    val got = graft.algorithms.LinkPrediction
      .coOccurrenceScores(e, "c", "i", maxCenterDegree = 3, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val third = (1L << 20) / 3
    val half = (1L << 20) / 2
    // (10,11): via c1 (deg 3) and c2 (deg 2); item degs incl. hub: 3, 3
    assert(got((10L, 11L)) ===
      ((2L, third + half, math.rint(2.0 / (3 + 3 - 2) * 1e6) / 1e6)))
    // (10,12) and (11,12): via c1 only; item degs 3 and 2
    assert(got((10L, 12L)) === ((1L, third, math.rint(1.0 / 4 * 1e6) / 1e6)))
    assert(got((11L, 12L)) === ((1L, third, 0.25)))
    // pairs only the hub witnessed are absent entirely
    assert(!got.contains((12L, 13L)) && !got.contains((10L, 13L)))
    assert(got.size === 3)
  }

  test("HyperBall registers equal HLL registers of the EXACT balls, round for round") {
    import spark.implicits._
    // path 0-1-2-3-4-5 plus an isolated pair 10-11: balls are easy to
    // enumerate, so every round's sketch must equal the sketch built
    // directly from the true ball membership — bit-for-bit register
    // equality, independent of estimation error
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val verts = (0L to 5L) ++ Seq(10L, 11L)
    val g = Graph(
      verts.toDF(ID),
      edges.toDF(SRC, DST).withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, r: Int): Set[Long] = {
      var cur = Set(v)
      (1 to r).foreach(_ => cur = cur ++ cur.flatMap(u => adj.getOrElse(u, Set.empty)))
      cur
    }
    val rounds = graft.algorithms.HyperBall.ballRegisters(g, p = 4, rounds = 6)
    def regSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    (0 to 6).foreach { r =>
      val exactPairs = verts.flatMap(v => ball(v, r).map(u => (v, u)))
        .toDF(ID, "member")
      val expected = graft.sketch.Hll.registers(
        exactPairs, Seq(ID), col("member").cast("string"), p = 4)
      assert(regSet(rounds(r)) === regSet(expected), s"round $r registers differ")
    }
    // one round past saturation is the identity
    assert(regSet(rounds(5)) === regSet(rounds(6)))
  }

  test("HyperBall harmonic centrality: hub dominates, equals manual delta-weighting") {
    import spark.implicits._
    val leaves = (1L to 20L)
    val g = Graph(
      (0L +: leaves).toDF(ID),
      leaves.map(i => (0L, i)).toDF(SRC, DST)
        .withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val hDf = graft.algorithms.HyperBall.harmonicCentrality(g, p = 6, rounds = 3)
    // BIGINT output on both faces (the unique DECIMAL(38,0) column was
    // half of the r10–r12 driver-red construct surface)
    assert(hDf.schema("h_lcm_micro").dataType ===
      org.apache.spark.sql.types.LongType)
    val h = hDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the hub reaches everything at distance 1 — strictly the largest
    val hub = h(0L)
    leaves.foreach(l => assert(h(l) < hub, s"leaf $l must trail the hub"))
    // arithmetic composition: h_lcm_micro REPLAYS from the per-vertex
    // round s_sums with exact integer weights lcm(1..3)/r = 6, 3, 2 —
    // e_micro = K div s_sum, integral division of exact integers, no
    // floating point anywhere
    val sSum = graft.algorithms.HyperBall.vertexNeighbourhoods(g, p = 6, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(3)).toMap
    val num = graft.algorithms.HyperBall.harmonicNumeratorMicro(6)
    (0L +: leaves).foreach { v =>
      val e = (0 to 3).map(r => (num / sSum((r, v))).toLong)
      val manual = (1 to 3).map(r => (e(r) - e(r - 1)) * (6 / r)).sum
      assert(h(v) === manual, s"vertex $v h_lcm_micro mismatch")
    }
  }

  test("HyperBall deep harmonic: rounds > 16 buckets, exact integer replay on a deep path") {
    import spark.implicits._
    // bucket partition invariants: contiguous cover of 1..rounds, every
    // bucket's max weight lcm/lo inside the exact face's 720720 envelope
    val buckets = graft.algorithms.HyperBall.bucketRounds(20)
    assert(buckets.head === ((1, 16, 720720L)), "first bucket must be the exact face's 1..16")
    assert(buckets.flatMap(b => b._1 to b._2) === (1 to 20).toSeq)
    buckets.foreach { case (lo, hi, l) =>
      assert(l / lo <= 720720L, s"bucket $lo..$hi weight ${l / lo} over envelope")
      (lo to hi).foreach(r => assert(l % r === 0L, s"lcm $l not divisible by $r"))
    }
    // a 25-vertex path needs 20+ rounds to saturate — past the exact
    // face's envelope, so the deep face must be invoked EXPLICITLY
    // (ADVICE r13: no silent dispatch to a differently named and
    // differently scaled output column)
    val n = 24L
    val g = Graph(
      (0L to n).toDF(ID),
      (0L until n).map(i => (i, i + 1)).toDF(SRC, DST)
        .withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val thrown = intercept[IllegalArgumentException] {
      graft.algorithms.HyperBall.harmonicCentrality(g, p = 4, rounds = 20)
    }
    assert(thrown.getMessage.contains("harmonicCentralityDeep"))
    val deep = graft.algorithms.HyperBall.harmonicCentralityDeep(g, p = 4, rounds = 20)
    assert(deep.schema.fieldNames.toSeq === Seq(ID, "h_micro"))
    val h = deep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.size === 25)
    // exact replay: same buckets, same e_micro = K div s_sum, same
    // per-bucket floor division — driver-side integer recompute
    val sSum = graft.algorithms.HyperBall.vertexNeighbourhoods(g, p = 4, rounds = 20)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(3)).toMap
    val num = graft.algorithms.HyperBall.harmonicNumeratorMicro(4)
    (0L to n).foreach { v =>
      val e = (0 to 20).map(r => (num / sSum((r, v))).toLong)
      val manual = buckets.map { case (lo, hi, l) =>
        (lo to hi).map(r => (e(r) - e(r - 1)) * (l / r)).sum / l
      }.sum
      assert(h(v) === manual, s"vertex $v h_micro mismatch")
    }
    // middle of the path sees more close vertices than the endpoints
    assert(h(12L) > h(0L) && h(12L) > h(24L))
    // single-bucket consistency: deep(5) == exact(5) div lcm(1..5)
    val exact5 = graft.algorithms.HyperBall.harmonicCentrality(g, p = 4, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deep5 = graft.algorithms.HyperBall.harmonicCentralityDeep(g, p = 4, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to n).foreach(v => assert(deep5(v) === exact5(v) / 60L, s"vertex $v deep/exact"))
  }

  test("UnionFind.minLabel ≡ distributed min-label CC on random edge lists; cap falls back") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(400 + seed)
      val edges = Seq.fill(5 + rnd.nextInt(20))(
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong)).toDF(SRC, DST)
      val local = graft.algorithms.UnionFind.minLabel(edges, SRC, DST).get
      val verts = edges.select(col(SRC).as(ID))
        .union(edges.select(col(DST))).distinct()
      val distCc = graft.algorithms.AlternatingConnectedComponents(
          maxIterations = 20, requireConvergence = true)
        .run(Graph(verts,
          edges.withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
          directed = false))
      // compare at the CONSUMPTION contract (every call site left-joins
      // and coalesces): AltCC omits self-loop-only vertices, UnionFind
      // labels every endpoint — both coalesce to the same rows
      def consumed(vs: org.apache.spark.sql.DataFrame, cc: org.apache.spark.sql.DataFrame) =
        vs.join(cc, Seq(ID), "left")
          .select(col(ID).as("id"),
            coalesce(col(COMPONENT), col(ID)).as("component"))
      val dist = consumed(verts, distCc)
      assert(rowSet(local) === rowSet(dist), s"seed $seed")
      // the one entry point: long ids take the driver path…
      assert(rowSet(consumed(verts, AlternatingConnectedComponents.minLabels(edges, SRC, DST))) ===
        rowSet(dist), s"seed $seed minLabels")
      // …string ids the star rounds; zero-padded, so string order is id order
      def padded(c: String) = lpad(col(c).cast("string"), 3, "0")
      val strEdges = edges.select(padded(SRC).as("a"), padded(DST).as("b"))
      val strLabels = consumed(verts.select(padded(ID).as(ID)),
          AlternatingConnectedComponents.minLabels(strEdges, "a", "b"))
        .select(col("id").cast("long"), col("component").cast("long"))
      assert(rowSet(strLabels) === rowSet(dist), s"seed $seed minLabels on string ids")
    }
    // over-cap input must decline, not truncate
    val big = spark.range(0, 50).select(col("id").as(SRC), (col("id") + 1).as(DST))
    assert(graft.algorithms.UnionFind.minLabel(big, SRC, DST, maxEdges = 10).isEmpty)
  }

  test("UnionFind.minLabel declines non-integral id columns — distributed fallback") {
    import spark.implicits._
    // string ids: a blind long cast would NPE (null at getLong)…
    val strs = Seq(("a", "b"), ("b", "c")).toDF(SRC, DST)
    assert(graft.algorithms.UnionFind.minLabel(strs, SRC, DST).isEmpty)
    // …and NUMERIC strings would silently get numeric min-label ordering
    // ("9" < "10") while the distributed path orders lexicographically
    // ("10" < "9") — decline both, let the type-generic CC serve them
    val numStrs = Seq(("10", "9"), ("9", "100")).toDF(SRC, DST)
    assert(graft.algorithms.UnionFind.minLabel(numStrs, SRC, DST).isEmpty)
    val dbls = Seq((1.5, 2.5)).toDF(SRC, DST)
    assert(graft.algorithms.UnionFind.minLabel(dbls, SRC, DST).isEmpty)
    // integral widths all remain served
    val ints = Seq((10, 9), (9, 100)).toDF(SRC, DST)
    val got = graft.algorithms.UnionFind.minLabel(ints, SRC, DST).get
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(9L -> 9L, 10L -> 9L, 100L -> 9L))
  }

  test("UnionFind.spanningPairs: a true spanning forest of random edge lists; caps decline") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(500 + seed)
      val edges = Seq.fill(8 + rnd.nextInt(25))(
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2).distinct.toDF(SRC, DST)
      val span = graft.algorithms.UnionFind.spanningPairs(edges, SRC, DST).get
      // every chosen row is an input edge
      assert(span.join(edges, Seq(SRC, DST), "left_anti").isEmpty,
        s"seed $seed: spanning rows must be a subset of the input")
      // acyclic and spanning: |rows| = |V| − #components, and CC over
      // the subset equals CC over the full edge list
      val full = graft.algorithms.UnionFind.minLabel(edges, SRC, DST).get
      val nV = full.count()
      val nC = full.select(col("component")).distinct().count()
      assert(span.count() === nV - nC, s"seed $seed: |F| = V − C")
      val sub = graft.algorithms.UnionFind.minLabel(span, SRC, DST).get
      val verts = edges.select(col(SRC).as(ID)).union(edges.select(col(DST))).distinct()
      val subFull = verts.join(sub.withColumnRenamed("id", ID), Seq(ID), "left")
        .select(col(ID).as("id"), coalesce(col("component"), col(ID)).as("component"))
      assert(rowSet(subFull) === rowSet(full),
        s"seed $seed: the subset spans the same components")
    }
    // over-cap and non-integral inputs decline (distributed fallback)
    val big = spark.range(0, 50).select(col("id").as(SRC), (col("id") + 1).as(DST))
    assert(graft.algorithms.UnionFind.spanningPairs(big, SRC, DST, maxEdges = 10).isEmpty)
    val strs = Seq(("a", "b")).toDF(SRC, DST)
    assert(graft.algorithms.UnionFind.spanningPairs(strs, SRC, DST).isEmpty)
  }

  test("BFS parentForest: spans components with input edges; diameter cap declines") {
    import spark.implicits._
    // two components + an isolated root: a 5-path with a chord and a triangle
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF(SRC, DST)
    val verts = edges.select(col(SRC).as(ID)).union(edges.select(col(DST)))
      .union(Seq(99L).toDF(ID)).distinct()
    // roots = each component's min id (the buildForest call shape) + the isolate
    val roots = Seq(0L, 10L, 99L).toDF(ID)
    val forest = graft.algorithms.BreadthFirstSearch.parentForest(roots, edges).get
    val canon = edges.select(least(col(SRC), col(DST)).as(SRC),
      greatest(col(SRC), col(DST)).as(DST))
    assert(forest.join(canon, Seq(SRC, DST), "left_anti").isEmpty,
      "every forest row must be an input edge (canonical form)")
    // |F| = reached − roots = (8 vertices reached) − (2 rooted components)
    assert(forest.count() === 6)
    // certificate property: CC over the forest ≡ CC over the graph
    val fullCc = graft.algorithms.UnionFind.minLabel(edges, SRC, DST).get
    val forestCc = graft.algorithms.UnionFind.minLabel(forest, SRC, DST).get
    assert(rowSet(forestCc) === rowSet(fullCc))
    // deterministic: a pure function of (edges, roots)
    val again = graft.algorithms.BreadthFirstSearch.parentForest(roots, edges).get
    assert(rowSet(again) === rowSet(forest))
    // a diameter past the round cap declines — callers fall back to Borůvka
    val path = (0L until 12L).map(i => (i, i + 1)).toDF(SRC, DST)
    assert(graft.algorithms.BreadthFirstSearch
      .parentForest(Seq(0L).toDF(ID), path, maxIterations = 5).isEmpty)
    // EARLY DECLINE (ADVICE r14): armed with the reachable total, a
    // doomed sweep (301-vertex path, frontier pinned at 1) declines as
    // soon as frontier × remaining-rounds cannot cover the unvisited
    // remainder — without burning all 64 rounds first
    val longPath = (0L until 300L).map(i => (i, i + 1)).toDF(SRC, DST)
    assert(graft.algorithms.BreadthFirstSearch
      .parentForest(Seq(0L).toDF(ID), longPath,
        totalVertices = Some(301L)).isEmpty)
    // ...and never false-positives on a completable sweep whose frontier
    // merely STALLS: a 10-hop path into a 50-leaf star stalls at
    // frontier=1 for ten rounds, then explodes and finishes — the
    // optimistic bound stays satisfiable throughout, so the forest
    // completes with exactly |V|−1 rows
    val stalled = ((0L until 10L).map(i => (i, i + 1)) ++
      (100L until 150L).map(l => (9L, l))).toDF(SRC, DST)
    val f2 = graft.algorithms.BreadthFirstSearch
      .parentForest(Seq(0L).toDF(ID), stalled, totalVertices = Some(61L)).get
    assert(f2.count() === 60L)
    // ...even when the hub OUTWEIGHS the remaining round budget (ADVICE
    // r15): a 10-hop stalk into a 200-leaf star makes the optimistic
    // bound UNSATISFIABLE during the stall (1 × 59 rounds < 205 left),
    // yet BFS finishes at depth 11 — the tightened guard (decline only
    // in the budget's last quarter) must not fire here
    val stalkHub = ((0L until 10L).map(i => (i, i + 1)) ++
      (100L until 300L).map(l => (9L, l))).toDF(SRC, DST)
    val f3 = graft.algorithms.BreadthFirstSearch
      .parentForest(Seq(0L).toDF(ID), stalkHub, totalVertices = Some(211L)).get
    assert(f3.count() === 210L)
  }

  test("HyperBall harmonic numerator: exact digit string pinned at p=4") {
    // BOTH faces (Spark plan and DuckDB oracle) embed this literal;
    // the pin guards the formula against edits that would silently
    // desync the cross-engine gate
    assert(graft.algorithms.HyperBall.harmonicNumeratorMicro(4).toString
      === "6086438618134249105544")
  }

  test("HyperBall NF is monotone; star effective diameter is 2") {
    import spark.implicits._
    val leaves = (1L to 20L)
    val g = Graph(
      (0L +: leaves).toDF(ID),
      leaves.map(i => (0L, i)).toDF(SRC, DST)
        .withColumn(EDGE_ID, xxhash64(col(SRC), col(DST))),
      directed = false)
    val nf = graft.algorithms.HyperBall.neighbourhoodFunction(g, p = 6, rounds = 3)
    val vals = nf.collect()
      .map(r => r.getInt(0) -> r.getDecimal(1)).sortBy(_._1).map(_._2)
    assert(vals.sliding(2).forall(w => w(0).compareTo(w(1)) <= 0), "NF must be monotone")
    assert(vals(2) === vals(3), "saturated round is the identity")
    val eff = graft.algorithms.HyperBall.effectiveDiameter(nf).head()
    assert(eff.getInt(0) === 2, "star: 90% of pairs need 2 hops")
  }
}
