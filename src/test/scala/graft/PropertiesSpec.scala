package graft

import org.apache.spark.sql.functions._

import graft.algorithms.{AlternatingConnectedComponents, ConnectedComponents, JaccardSimilarity, OverlapCoefficient, PageRank, TriangleCount}
import graft.core.Graph

/** Property-based invariants over seeded random graphs (SURVEY.md §5):
  * triangle count is invariant under edge direction, duplication and
  * self-loops; the two CC implementations agree on the partition
  * structure; similarity ratios are bounded and overlap >= jaccard;
  * PageRank conserves rank mass.
  *
  * (The scalatest/scalacheck bridge artifact is not in the offline
  * dependency cache, so cases are drawn from a fixed-seed generator
  * rather than scalacheck's runner — same coverage, deterministic.)
  */
class PropertiesSpec extends SparkSpec {

  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val n = 3 + rnd.nextInt(12)
    Seq.fill(n)((rnd.nextInt(8).toLong, rnd.nextInt(8).toLong))
  }

  private def graphOf(edges: Seq[(Long, Long)], directed: Boolean): Graph = {
    import spark.implicits._
    val vs = (0L to 7L).toDF("id")
    Graph.index(vs, edges.toDF("src", "dst"), directed)
  }

  private val seeds = 1 to 8

  test("triangle count is invariant under reversal, duplication and self-loops") {
    for (seed <- seeds) {
      val edges = randomEdges(seed)
      val base = TriangleCount().run(graphOf(edges, directed = false))
      val noisy = edges ++ edges.map(_.swap) ++ edges.take(2) ++
        List((0L, 0L), (5L, 5L))
      val got = TriangleCount().run(graphOf(noisy, directed = false))
      assert(got === base, s"seed $seed: $edges")
    }
  }

  test("Pregel CC and alternating CC induce the same partition of vertices") {
    for (seed <- seeds) {
      val edges = randomEdges(seed)
      val g = graphOf(edges, directed = false)
      val a = ConnectedComponents(maxIterations = 10).run(g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val bRaw = AlternatingConnectedComponents(maxIterations = 10).run(g)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // AltCC only labels vertices that appear in edges; others are their
      // own singleton component
      val b = a.keySet.map(v => v -> bRaw.getOrElse(v, v)).toMap
      def partition(m: Map[Long, Long]) =
        m.groupBy(_._2).values.map(_.keySet).toSet
      assert(partition(a) === partition(b), s"seed $seed: $edges")
    }
  }

  test("jaccard/overlap are in [0,1], symmetric, and overlap >= jaccard") {
    for (seed <- seeds.take(4)) {
      val edges = randomEdges(seed)
      val g = graphOf(edges, directed = false)
      // null similarity (isolated-vertex pairs, 0/0) is modeled as None
      val j = JaccardSimilarity().run(g)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val o = OverlapCoefficient().run(g)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      j.foreach {
        case ((x, y), Some(v)) =>
          assert(v >= 0.0 && v <= 1.0, s"seed $seed jaccard($x,$y)=$v")
          assert(j((y, x)) === Some(v), s"seed $seed asymmetric at ($x,$y)")
          o((x, y)).foreach(ov =>
            assert(ov >= v - 1e-12, s"seed $seed overlap<jaccard at ($x,$y)"))
        case ((x, y), None) =>
          assert(j((y, x)) === None, s"seed $seed asymmetric null at ($x,$y)")
      }
    }
  }

  test("approxJaccard matches exact jaccard at threshold 0.8 (LSH recall certain)") {
    import graft.algorithms.Similarity
    for (seed <- seeds.take(4)) {
      val edges = randomEdges(seed)
      val g = graphOf(edges, directed = false)
      // at t=0.8 a qualifying pair escapes the 32x4 banding with
      // probability <= (1-0.8^4)^32 ~ 5e-8 — and the outcome is
      // deterministic (fixed xxhash64 seeds), so green once = green always
      val approx = Similarity.approxJaccard(g, threshold = 0.8)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val exact = Similarity.jaccard(g)
        .filter(col("vertex_a") < col("vertex_b") &&
          col("jaccard_similarity") >= 0.8)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(approx.keySet === exact.keySet, s"seed $seed: $edges")
      exact.foreach { case (k, v) =>
        assert(math.abs(approx(k) - v) < 1e-12, s"seed $seed value drift at $k") }
    }
  }

  test("approxJaccard maxBucketSize: recall contract on a planted identical-adjacency star") {
    import spark.implicits._
    import graft.algorithms.Similarity
    // hub 0 with 40 leaves — every leaf's adjacency is exactly {0}, the
    // degenerate hot-bucket shape the cap exists for — plus one small
    // identical-adjacency cohort {100, 101} (adjacency {102, 103}) that
    // must SURVIVE the cap (cohort of 2 <= cap)
    val star = (1L to 40L).map(l => (0L, l))
    val pairCohort = Seq((100L, 102L), (100L, 103L), (101L, 102L), (101L, 103L))
    val vs = ((0L to 40L) ++ Seq(100L, 101L, 102L, 103L)).toDF("id")
    val g = Graph.index(vs, (star ++ pairCohort).toDF("src", "dst"), directed = false)

    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = keyed(Similarity.jaccard(g)
      .filter(col("vertex_a") < col("vertex_b") && col("jaccard_similarity") >= 0.8))
    val uncapped = keyed(Similarity.approxJaccard(g, threshold = 0.8))
    val capped = keyed(Similarity.approxJaccard(g, threshold = 0.8, maxBucketSize = 8))

    // 40 identical leaves -> C(40,2) = 780 leaf pairs, plus the two
    // small-cohort pairs: (100,101) with adjacency {102,103} and its
    // mirror (102,103) with adjacency {100,101}
    assert(exact.size === 782)
    // cap off: full parity with the exact theta-join (LSH recall certain
    // at s = 1.0)
    assert(uncapped.keySet === exact.keySet)
    // cap on: (a) never a false positive, and every reported value is the
    // EXACT jaccard — the cap only drops candidates, the verify join is
    // untouched
    assert(capped.keySet.subsetOf(exact.keySet))
    capped.foreach { case (k, v) => assert(math.abs(exact(k) - v) < 1e-12, s"value drift at $k") }
    // (b) the survivors are exactly the two small cohorts — (100,101)
    // and (102,103): every leaf-leaf pair shares ONLY hot buckets
    // (identical signatures -> identical band keys, 40 > cap), so all
    // 780 are dropped; cohorts of 2 are below the cap in all their
    // buckets. ids in results are xxhash64 surrogates — map through
    // old_id.
    val sur = g.vertices.select(col("old_id").cast("long"), col("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def key(a: Long, b: Long) =
      (math.min(sur(a), sur(b)), math.max(sur(a), sur(b)))
    assert(capped.keySet === Set(key(100L, 101L), key(102L, 103L)),
      s"expected only the small cohorts to survive, got ${capped.keySet}")
  }

  test("surrogate-id collision guard: clean ids pass, a colliding scheme throws") {
    import spark.implicits._
    val vs = (0L to 7L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    // default hash on 8 ids: no collision, guard is silent
    Graph.index(vs, es, directed = true, checkCollisions = true)
      .vertices.collect()
    // forced-collision scheme (everything hashes to one id) must throw
    val e = intercept[IllegalArgumentException] {
      Graph.index(vs, es, directed = true, checkCollisions = true,
        surrogate = _ => lit(7L)).vertices.collect()
    }
    assert(e.getMessage.contains("collision"))
  }

  test("PageRank mass is conserved and ranks are positive") {
    for (seed <- seeds.take(4)) {
      val edges = randomEdges(seed)
      val g = graphOf(edges, directed = true)
      val pr = PageRank(maxIterations = 5).run(g)
      val ranks = pr.select(col("rank")).collect().map(_.getDouble(0))
      assert(ranks.forall(_ > 0.0), s"seed $seed")
      assert(math.abs(ranks.sum - 1.0) < 1e-9, s"seed $seed mass ${ranks.sum}")
    }
  }

  test("personalized PageRank: mass conserved, localized to the seed side, uniform seeds = plain") {
    import spark.implicits._
    for (seed <- seeds.take(3)) {
      val edges = randomEdges(seed)
      val g = graphOf(edges, directed = true)
      val ids = g.vertices.select(col("id")).collect().map(_.getLong(0)).sorted
      // seeds = half the vertices
      val seedSet = ids.take(math.max(1, ids.length / 2))
      val reset = seedSet.toSeq.toDF("id").withColumn("weight", lit(1.0))
      val ppr = PageRank(maxIterations = 5).runPersonalized(g, reset)
      val ranks = ppr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(math.abs(ranks.values.sum - 1.0) < 1e-9, s"seed $seed mass")
      assert(ranks.values.forall(_ >= 0.0), s"seed $seed negative rank")

      // personalization with EVERY vertex as a seed == plain PageRank
      // (identical formula; only float association differs)
      val uniform = PageRank(maxIterations = 5)
        .runPersonalized(g, ids.toSeq.toDF("id").withColumn("weight", lit(1.0)))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val plain = PageRank(maxIterations = 5).run(g)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      uniform.foreach { case (k, v) =>
        assert(math.abs(plain(k) - v) < 1e-12, s"seed $seed uniform-vs-plain at $k") }
    }
    // two disconnected 3-cycles: seeding only the first keeps ALL rank
    // in it — the defining localization property
    val cycE = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("src", "dst")
    val cycV = Seq(0L, 1L, 2L, 10L, 11L, 12L).toDF("id")
    // construct directly (reference indexed=True) so ids stay readable
    val g2 = Graph(cycV,
      cycE.withColumn("edge_id", xxhash64(col("src"), col("dst"))),
      directed = true)
    // 30 iterations: the initial all-mass-at-seed spike rotates around
    // the cycle and decays as d^k (~0.008 at k=30), well under the
    // stationary gaps (~0.05), so the stationary ordering is visible
    val ppr2 = PageRank(maxIterations = 30)
      .runPersonalized(g2, Seq(0L).toDF("id").withColumn("weight", lit(2.5)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(ppr2.values.sum - 1.0) < 1e-9)
    Seq(10L, 11L, 12L).foreach(v =>
      assert(ppr2(v) === 0.0, s"rank must not leak into the unseeded component ($v)"))
    // analytic stationary solution of PPR on a directed 3-cycle seeded
    // at 0: r0 = (1-d)/(1-d^3), r1 = d*r0, r2 = d^2*r0
    val d = 0.85
    val r0 = (1 - d) / (1 - d * d * d)
    Seq(0L -> r0, 1L -> d * r0, 2L -> d * d * r0).foreach { case (v, exp) =>
      assert(math.abs(ppr2(v) - exp) < 0.02, s"vertex $v: ${ppr2(v)} vs $exp") }
    assert(ppr2(0L) > ppr2(1L) && ppr2(1L) > ppr2(2L),
      "rank decays with walk distance from the seed")
  }

  test("AsOfJoin matches a naive in-memory reference on random inputs") {
    import spark.implicits._
    for (seed <- seeds) {
      val rnd = new scala.util.Random(100 + seed)
      // small ts range on purpose: exercises ties between and within sides
      val left = Seq.fill(12 + rnd.nextInt(10))(
        (rnd.nextInt(3).toString, rnd.nextInt(20).toLong))
      val right = Seq.fill(8 + rnd.nextInt(8))(
        (rnd.nextInt(3).toString, rnd.nextInt(20).toLong, rnd.nextLong(1000)))
        // unique per (key, ts) — the operator contract for deterministic ties
        .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSeq
      val got = graft.relational.AsOfJoin.asOf(
          left.toDF("k", "ts"), right.toDF("k", "ts", "v"),
          Seq("k"), "ts", Seq("v"))
        .select("k", "ts", "asof_v")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .sorted.toSeq
      val expect = left.map { case (k, ts) =>
        val c = right.filter(r => r._1 == k && r._2 <= ts)
        (k, ts, if (c.isEmpty) None else Some(c.maxBy(_._2)._3))
      }.sorted
      assert(got === expect, s"seed $seed")
    }
  }

  test("two-level sharded token packing equals one global running sum") {
    // the d06 scale rewrite: per-(lang, shard) running sums + exclusive
    // prefix offsets must equal ONE running sum in (shard, id) order, on
    // random data, not just the oracle corpus
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- seeds) {
      val rnd = new scala.util.Random(200 + seed)
      val rows = Seq.fill(60 + rnd.nextInt(40))(
        (rnd.nextLong(1L << 40), Seq("en", "de", "fr")(rnd.nextInt(3)),
          1L + rnd.nextInt(500)))
        .groupBy(_._1).values.map(_.head).toSeq // unique ids
      val df = rows.toDF("doc_id", "lang", "n_tokens")
      val shard = expr("(doc_id % 2147483648L) * 2654435761L % 4294967296L div 16777216")
      // two-level (the production shape)
      val wIn = Window.partitionBy(col("lang"), col("_shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wOff = Window.partitionBy(col("lang")).orderBy(col("_shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = df.withColumn("_shard", shard)
      val offsets = base.groupBy(col("lang"), col("_shard"))
        .agg(sum(col("n_tokens")).as("_tot"))
        .withColumn("_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
        .select(col("lang"), col("_shard"), col("_off"))
      val twoLevel = base
        .withColumn("_cum", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
        .join(offsets, Seq("lang", "_shard"))
        .select(col("doc_id"), expr("(_off + _cum) div 2000").as("bin"))
      // single global window in (shard, id) order (the oracle shape)
      val wAll = Window.partitionBy(col("lang")).orderBy(col("_shard"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val global = base
        .withColumn("_cum", coalesce(sum(col("n_tokens")).over(wAll), lit(0L)))
        .select(col("doc_id"), expr("_cum div 2000").as("bin"))
      assert(rowSet(twoLevel) === rowSet(global), s"seed $seed")
    }
  }

  test("dedup-first near-dup equals raw near-dup restricted to representatives") {
    // the d09/e08 semantics claim on random duplicate-heavy corpora:
    // composed pairs == raw minhashDuplicates run on the representative
    // set, and every raw pair maps onto a composed pair through the
    // copy-cluster map (same text -> same representative)
    import spark.implicits._
    import graft.dedup.Dedup
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (seed <- seeds) {
      val rnd = new scala.util.Random(700 + seed)
      // a few base texts, each with random exact copies and one mutant
      val bases = Seq.fill(3 + rnd.nextInt(3))(
        Seq.fill(12 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "))
      var id = 0L
      val rows = bases.flatMap { t =>
        val copies = (0 to rnd.nextInt(3)).map { _ => id += 1; (id, t) }
        val mutant = { id += 1; (id, t.replaceFirst(words(rnd.nextInt(words.length)), "zzz")) }
        copies :+ mutant
      }
      val d = rows.toDF("doc_id", "text")
      val composed = Dedup.dedupedNearDuplicates(d, "doc_id", "text", threshold = 0.3)
      val reps = composed.copyClusters.select(col("keep_id").as("doc_id"))
      val rawOnReps = Dedup.minhashDuplicates(d.join(reps, Seq("doc_id")),
        "doc_id", "text", threshold = 0.3)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(composed.pairs) === pairs(rawOnReps), s"seed $seed")
      // raw pairs project onto composed pairs via the text -> rep map
      val toRep = d.join(
        composed.copyClusters.select(col("keep_id"), explode(col("ids")).as("doc_id")),
        Seq("doc_id")).select(col("doc_id"), col("keep_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val raw = pairs(Dedup.minhashDuplicates(d, "doc_id", "text", threshold = 0.3))
      val projected = raw.map { case (a, b) =>
        val (ra, rb) = (toRep(a), toRep(b))
        if (ra < rb) (ra, rb) else (rb, ra)
      }.filter { case (a, b) => a != b }
      assert(projected === pairs(composed.pairs), s"seed $seed: raw pairs must project onto composed pairs")
    }
  }

  test("two-phase sharded top-k equals the single-window top-k") {
    // the d05 scale rewrite: per-(stratum, shard) local top-k then a
    // final window must equal the single global window, on random data
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (seed <- seeds) {
      val rnd = new scala.util.Random(300 + seed)
      val rows = Seq.fill(80 + rnd.nextInt(60))(
        (rnd.nextLong(1L << 40), Seq("a", "b")(rnd.nextInt(2))))
        .groupBy(_._1).values.map(_.head).toSeq
      val df = rows.toDF("doc_id", "lang")
      val h = pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L))
      val base = df.select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("_shard", expr("h div 16777216"))
      val wShard = Window.partitionBy(col("lang"), col("_shard"))
        .orderBy(col("h"), col("doc_id"))
      val wFinal = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      val twoPhase = base
        .withColumn("_srnk", row_number().over(wShard)).filter(col("_srnk") <= 10)
        .withColumn("rnk", row_number().over(wFinal)).filter(col("rnk") <= 10)
        .select("doc_id", "lang", "rnk")
      val single = base
        .withColumn("rnk", row_number().over(wFinal)).filter(col("rnk") <= 10)
        .select("doc_id", "lang", "rnk")
      assert(rowSet(twoPhase) === rowSet(single), s"seed $seed")
    }
  }
}
