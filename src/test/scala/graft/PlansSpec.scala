package graft

import org.apache.spark.sql.DataFrame

import graft.queries.{DocQueries, EmbQueries, GraphQueries, RelationalQueries}

/** Physical-plan assertions — the scale properties the engine relies on
  * (filter pushdown to the parquet scan, column pruning, broadcast of
  * small sides, no cartesian products in the dedup paths) checked
  * explicitly so a plan regression fails CI, not just the benchmark.
  */
class PlansSpec extends SparkSpec {

  private val SF = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: order-status filter is pushed down to the parquet scan") {
    val p = plan(RelationalQueries.queries("q02_join")(spark, SF))
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(o_orderstatus,O)"),
      s"filter not pushed to scan:\n$p")
  }

  test("q02: dimension join is a broadcast join, not a shuffle join") {
    val p = plan(RelationalQueries.queries("q02_join")(spark, SF))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("g01_degrees: scan is pruned to the two referenced columns") {
    val p = plan(GraphQueries.queries("g01_degrees")(spark, SF))
    assert(p.contains("o_custkey") && p.contains("o_orderkey"))
    assert(!p.contains("o_comment") && !p.contains("o_totalprice"),
      s"scan reads unreferenced columns:\n$p")
  }

  test("d04 ngram jaccard: candidate join is an equi-join, never cartesian") {
    val p = plan(DocQueries.queries("d04_ngram_jaccard")(spark, SF))
    assert(!p.contains("CartesianProduct"), s"cartesian in dedup plan:\n$p")
  }

  test("d02 minhash: bucket join is an equi-join, never cartesian") {
    val p = plan(DocQueries.queries("d02_minhash_dedup")(spark, SF))
    assert(!p.contains("CartesianProduct"), s"cartesian in LSH plan:\n$p")
  }

  test("d24 persisted index: probe recomputes no signatures, reads no corpus") {
    // the whole point of the persisted index (VERDICT r8 #1): pair
    // generation over the stored tables must plan ZERO MinHashSig
    // evaluations and ZERO scans of the documents table — signatures and
    // shingles come back as stored bytes
    val p = plan(DocQueries.queries("d24_persisted_index")(spark, SF))
    assert(!p.contains("minhash_sig"),
      s"persisted-index probe recomputes signatures:\n$p")
    assert(!p.contains("documents.parquet"),
      s"persisted-index probe re-reads the corpus:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in persisted-index probe:\n$p")
  }

  test("d22 quantile sketch: two-phase sample — document text never shuffles") {
    // the sketch's whole point: state is k rows per stratum. The plan
    // may shuffle (stratum, hash, id, score) quadruples for the two
    // windows and the gate join, but the text column must die at the
    // scan projection — a plan that carries `text` into an exchange is
    // re-deriving the exact-quantile shape this operator replaces
    val df = DocQueries.queries("d22_sketch_quantile_gate")(spark, SF)
    df.collect()
    val p = plan(df)
    assert(!"Exchange[^\\n]*text".r.findFirstIn(p).isDefined,
      s"document text crosses an exchange in the sketch plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("m03 dHash near-dup: pigeonhole equi-join, no all-pairs shape") {
    val p = plan(DocQueries.queries("m03_image_neardup")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in the dHash candidate join:\n$p")
  }

  test("g52 ALS: keyed joins + partial (map-side combined) integer sums only") {
    // every half-step is pinned, which hides its shape from the result's
    // plan — assert on the plans the pinning passes actually execute
    import org.apache.spark.sql.functions._
    val ratings = graft.queries.Tables.orders(spark, SF)
      .groupBy(col("o_custkey").as("user"),
        (pmod(col("o_orderkey"), lit(211)) + 1000000L).as("item"))
      .agg(count(lit(1)).as("rating"))
    // one iteration pins the ratings, the seed items and two half-steps
    val p = pinPlans(4)(graft.algorithms.Als.fitRank1Exact(ratings, iterations = 1))
      .mkString("\n")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ALS half-steps must be keyed joins:\n$p")
    // each half-step's two sums partial-aggregate before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial aggregation in the ALS half-steps:\n$p")
  }

  /** The executed plans of the `expected` pinning passes (`checkpoint` /
    * `localCheckpoint` actions) that `body` runs, as a
    * `QueryExecutionListener` reports them. */
  private def pinPlans(expected: Int)(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName.toLowerCase.contains("checkpoint"))
          plans.synchronized(plans += qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 20000
      while (plans.synchronized(plans.size) < expected && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      plans.synchronized {
        assert(plans.size >= expected, s"saw ${plans.size} of $expected pinning passes")
        plans.toSeq
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("g24 approxJaccard: LSH bucket join, never a nested-loop/cartesian pair join") {
    val p = plan(GraphQueries.queries("g24_approx_jaccard")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join shape in the LSH scale path:\n$p")
    // adjacency is computed ONCE (Graph.persistAdjacency pins it behind a
    // localCheckpoint) — its edge-union + collect_set aggregate must not
    // appear in the query plan at all, for any of the three consumers
    // (banding + both verify joins)
    assert(!p.contains("collect_set"),
      s"adjacency aggregate re-planned instead of read from the pinned blocks:\n$p")
  }

  test("e01 brute force: whole-stage codegen covers the scoring projection") {
    val df = EmbQueries.queries("e01_knn_exact")(spark, SF)
    // AQE finalizes (and codegen-wraps) THIS df's plan only when the df's
    // own queryExecution runs — count() would build a separate one
    df.collect()
    val p = plan(df)
    // `*(n)` prefixes mark whole-stage-codegen spans in the compact
    // rendering; the scoring Project must carry one and contain the
    // native expression, not a lambda nest
    assert(p.contains("*(") , s"no codegen span:\n$p")
    assert("""\*\(\d+\) Project \[.*quantized_dot\(""".r.findFirstIn(p).isDefined,
      s"scoring projection not codegen'd native:\n$p")
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan(RelationalQueries.queries("q01_agg")(spark, SF))
    // Spark renders partial aggregation as two HashAggregate nodes around
    // the exchange
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"no partial aggregation:\n$p")
    assert(p.contains("Exchange hashpartitioning"), s"no hash exchange:\n$p")
  }

  test("s04 as-of: one window over a union — no join, no cartesian") {
    val p = plan(graft.queries.EventQueries.queries("s04_asof_attribution")(spark, SF))
    assert(p.contains("Window"), s"as-of must be a window plan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not expand pairs:\n$p")
  }

  test("s05 interval join: keyed join with range post-condition, not a cartesian") {
    val p = plan(graft.queries.EventQueries.queries("s05_interval_join")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join must ride the user_id equi key:\n$p")
  }

  test("d02 minhash signatures: computed per row — no explode/shuffle before banding") {
    val sigs = graft.dedup.Dedup.minhashSignatures(
      graft.queries.Tables.documents(spark, SF).selectExpr(
        "doc_id AS id", "split(text, ' ') AS sh"), 32)
    val p = plan(sigs)
    assert(!p.contains("Exchange"), s"signature step must not shuffle:\n$p")
    assert(p.contains("minhash_sig"), s"native expression missing:\n$p")
  }

  test("d05 stratified sample: corpus window sharded within the stratum") {
    val p = plan(DocQueries.queries("d05_stratified_sample")(spark, SF))
    // phase 1 (corpus-sized) must shuffle on (lang, _shard); the
    // lang-only window only ever sees <=2560 pre-filtered rows per lang
    assert("hashpartitioning\\(lang[^)]*_shard".r.findFirstIn(p).isDefined,
      s"corpus window not sharded within stratum:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 2, s"expected shard + survivor shuffles only:\n$p")
  }

  test("ANN candidate joins are equi-joins; only k-row centroid crosses may BNLJ") {
    // e02 LSH: bucket equi-join, never a pair cross
    val lsh = plan(EmbQueries.queries("e02_knn_lsh")(spark, SF))
    assert(!lsh.contains("BroadcastNestedLoopJoin") && !lsh.contains("CartesianProduct"),
      s"LSH candidate generation must be an equi-join:\n$lsh")
    // d03 simhash: chunk equi-join only
    val sim = plan(DocQueries.queries("d03_simhash_dedup")(spark, SF))
    assert(!sim.contains("BroadcastNestedLoopJoin") && !sim.contains("CartesianProduct"),
      s"simhash pigeonhole join must be an equi-join:\n$sim")
    // e03 IVF: the ONLY unkeyed join is the query x k-row-broadcast
    // centroid cross; the cell join must be a keyed broadcast join
    val ivf = plan(EmbQueries.queries("e03_knn_ivf")(spark, SF))
    assert("BroadcastNestedLoopJoin".r.findAllIn(ivf).size <= 1 &&
      !ivf.contains("CartesianProduct"),
      s"IVF may only cross against the broadcast codebook:\n$ivf")
    assert(ivf.contains("BroadcastHashJoin"), s"cell join must be keyed:\n$ivf")
  }

  test("e08 deduped near-dup: collapse partial-aggregates, pair join is keyed") {
    val p = plan(EmbQueries.queries("e08_neardup_deduped")(spark, SF))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"rep-pair join must stay keyed on cell:\n$p")
    // array group keys use SortAggregate; the scale property is the
    // map-side combine (partial_*) running before the exchange
    assert(p.contains("partial_min_by") || p.contains("partial_count"),
      s"quantized-vector collapse must partial-aggregate before the shuffle:\n$p")
  }

  test("d11 decontamination: eval probe is a left-semi join with partial counts") {
    val p = plan(DocQueries.queries("d11_decontaminate")(spark, SF))
    assert(p.contains("LeftSemi"),
      s"eval membership must be a semi join (no eval columns dragged):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no unkeyed joins in the containment path:\n$p")
    assert(p.contains("partial_count"),
      s"per-doc counts must map-side combine:\n$p")
  }

  test("d06 token pack: the big running-sum window shards WITHIN a language") {
    val p = plan(DocQueries.queries("d06_token_pack")(spark, SF))
    // the corpus-sized window exchange must be keyed by (lang, _shard) —
    // a lang-only key would make the dominant language one reducer at
    // 100 TB. The lang-only exchange that remains is the tiny <=256-rows-
    // per-lang offset pass.
    assert("hashpartitioning\\(lang[^)]*_shard".r.findFirstIn(p).isDefined,
      s"corpus window not sharded within language:\n$p")
    // and the offsets side stays a broadcast, never a shuffle join
    assert(p.contains("BroadcastHashJoin"), s"offset join not broadcast:\n$p")
  }

  test("d16 dup spans: inventory partial-aggregates, flag join stays keyed") {
    val p = plan(DocQueries.queries("d16_dup_spans")(spark, SF))
    assert(p.contains("partial_count"),
      s"span inventory must map-side combine before the shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span-flag join must be keyed on the span hash:\n$p")
  }

  test("d17 kmv: corpus top-k window is sharded, never one reducer per group") {
    val p = plan(DocQueries.queries("d17_kmv_distinct")(spark, SF))
    // the corpus-sized rank exchange must carry the shard key (projected
    // as _w0) next to lang — a lang-only key would serialize each group
    assert("hashpartitioning\\(lang#\\d+, _w0".r.findFirstIn(p).isDefined,
      s"kmv rank window not sharded within the group:\n$p")
    // and Spark's rank-limit pushdown keeps only 16 rows per map task
    // BEFORE each exchange (partial WindowGroupLimit)
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"kmv top-k not partially limited map-side:\n$p")
  }

  test("e13/e14 two-stage: only broadcast crosses, full corpus never shuffles wide") {
    for (q <- Seq("e13_mrl_rerank", "e14_knn_sq8")) {
      val p = plan(EmbQueries.queries(q)(spark, SF))
      assert(!p.contains("CartesianProduct"),
        s"$q: cartesian in the two-stage plan:\n$p")
      // the qid<>nid candidate cross rides the broadcast query set; the
      // stage-2 fetch must be keyed broadcast joins
      assert(p.contains("BroadcastHashJoin"),
        s"$q: shortlist fetch must be a broadcast hash join:\n$p")
    }
  }

  test("e15 filtered knn: filter key rides a broadcast equi-join, corpus stays put") {
    val p = plan(EmbQueries.queries("e15_filtered_knn")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"filtered search must be a keyed join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("e16 prototypes: corpus never shuffles wide, top-m window sharded within the cell") {
    val p = plan(EmbQueries.queries("e16_prototypes")(spark, SF))
    assert(!p.contains("CartesianProduct"),
      s"prototype scan must not plan a cartesian:\n$p")
    // the corpus-sized rank exchange carries the shard key next to cell —
    // a cell-only key would serialize each cell through one reducer
    assert("hashpartitioning\\(cell#\\d+L, _w".r.findFirstIn(p).isDefined,
      s"prototype top-m window not sharded within the cell:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"prototype top-m not limited map-side:\n$p")
  }

  test("g36 k-truss: wedge and closing joins are keyed, support agg is partial") {
    // run() returns the PINNED converged support frame (a checkpoint
    // scan — the incremental-peeling contract), so the full query's plan
    // only shows the scan; audit the support pass itself, the per-round
    // workhorse
    import spark.implicits._
    val edges = graft.core.GraphUtil.orderEdges(
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
        .toDF("src", "dst")
        .withColumn("edge_id", org.apache.spark.sql.functions
          .xxhash64($"src", $"dst")))
      .select($"src", $"dst")
    val p = plan(graft.algorithms.KTruss.supports(edges))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle-support plan must stay keyed:\n$p")
    assert(p.contains("partial_count"), s"support aggregation not map-side partial:\n$p")
    // and the end-to-end query plans no cartesian either
    val pq = plan(GraphQueries.queries("g36_ktruss")(spark, SF))
    assert(!pq.contains("CartesianProduct") && !pq.contains("BroadcastNestedLoopJoin"),
      s"g36 end-to-end must stay keyed:\n$pq")
  }

  test("t12/e17: quality filter and random projection are zero-shuffle maps") {
    val t12 = plan(DocQueries.queries("t12_gopher_quality")(spark, SF))
    assert(!t12.contains("Exchange"),
      s"t12 must be a narrow scan+project, no shuffle:\n$t12")
    val e17 = plan(EmbQueries.queries("e17_random_projection")(spark, SF))
    assert(!e17.contains("Exchange"),
      s"e17 must be a narrow scan+project, no shuffle:\n$e17")
  }

  test("d20 HLL: register build map-side combines, no distinct pre-shuffle") {
    val p = plan(DocQueries.queries("d20_hll_distinct")(spark, SF))
    assert(p.contains("partial_max"),
      s"register max must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // KMV needs distinct-then-rank; HLL must not pay a distinct at all:
    // the only aggregates are the register max and the estimate fold
    assert("HashAggregate".r.findAllIn(p).size <= 4,
      s"unexpected extra aggregation (distinct?) in HLL plan:\n$p")
  }

  test("g57 degree sketch: vertex-keyed register max combines, no distinct, no join") {
    val p = plan(GraphQueries.queries("g57_degree_sketch")(spark, SF))
    // ordersEdges carries a distinct (shared builder); the sketch itself
    // must add ONLY the register max + estimate fold — two aggregate
    // pairs — and never join or re-shuffle the corpus
    assert(p.contains("partial_max"),
      s"register max must combine map-side:\n$p")
    assert(!p.contains("Join"), s"the live-degree path must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size <= 6,
      s"unexpected extra aggregation in degree-sketch plan:\n$p")
  }

  test("g46 butterflies: keyed wedge join and combinable census only") {
    val p = plan(GraphQueries.queries("g46_butterflies")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"butterfly census must stay an equi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"census aggregates must map-side combine:\n$p")
  }

  test("g44 link prediction: keyed wedge join, combinable aggs, no cartesian") {
    val p = plan(GraphQueries.queries("g44_link_prediction")(spark, SF))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"g44 candidate generation must stay an equi-join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"g44 pair scores must map-side combine:\n$p")
    assert(p.contains("TakeOrdered"),
      s"g44 top-k must be a bounded TakeOrdered, not a global sort:\n$p")
  }

  test("t13/d28: BPE runs the native expressions, not the replace chain") {
    val t = plan(DocQueries.queries("t13_bpe_tokens")(spark, SF))
    assert(t.contains("bpe_count"),
      s"t13 must count through the native BpeCount expression:\n$t")
    assert(!t.contains("replace("),
      s"t13 must not carry the plan-bound replace chain:\n$t")
    val c = plan(DocQueries.queries("d28_bpe_chunks")(spark, SF))
    assert(c.contains("bpe_segment"),
      s"d28 must segment through the native BpeSegment expression:\n$c")
    assert(!c.contains("Exchange"),
      s"d28 chunking must be a zero-shuffle per-row map:\n$c")
  }

  test("d27 span removal: inventory shuffles hashes only; the splice join broadcasts") {
    val df = DocQueries.queries("d27_span_removal")(spark, SF)
    val p = plan(df)
    // the span inventory must aggregate 64-bit span hashes, not span
    // strings (partial aggregation on the hash keys)
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"d27 inventory must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"d27 must stay keyed joins:\n$p")
    // at this fixture scale the removed-position frame broadcasts, so
    // the text-bearing side feeds a BroadcastHashJoin directly from its
    // scan; at corpus scale the documented fallback is ONE id-keyed
    // shuffle of the corpus for the splice join — the invariant pinned
    // here is that the INVENTORY path (groupBys and the occurrence
    // join) carries hashes and positions, never the text column
    assert(p.contains("BroadcastHashJoin"),
      s"d27 splice join must broadcast the removal sets at this scale:\n$p")
  }

  test("d32/d33 containment: keyed shingle joins, broadcast hot cap, no cross products") {
    for (q <- Seq("d32_containment", "d33_containment_deduped")) {
      val p = plan(DocQueries.queries(q)(spark, SF))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate generation must stay keyed equi-joins:\n$p")
      assert(p.contains("partial_count"),
        s"$q shingle/pair counts must map-side combine:\n$p")
    }
  }

  test("s12 co-occurrence: distinct collapse combines; only the 1-row N frame crosses") {
    import graft.queries.EventQueries
    val p = plan(EventQueries.queries("s12_cooccurrence")(spark, SF))
    assert(!p.contains("CartesianProduct"),
      s"s12 must never plan a cartesian product:\n$p")
    // the ONLY nested-loop join is the broadcast of the single-row
    // distinct-actor count; pair generation itself is the actor-keyed
    // equi-join (regex count, not String.split — split drops trailing
    // matches)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"s12 may broadcast-cross only the 1-row N frame:\n$p")
    assert(p.contains("partial_count"),
      s"s12 counts must map-side combine:\n$p")
  }

  test("dedup delete probe: batch side broadcasts, the corpus never crosses itself") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deleteDetailed's group-location join is a theta join
    // (array_contains) — it MUST plan as a broadcast nested-loop with
    // the batch-sized delete frame broadcast, never a cartesian of the
    // clusters table against anything its own size
    val idx = graft.dedup.DedupIndex.build(
      spark.read.parquet(s"$SF/documents.parquet")
        .select(col("doc_id"), col("text")),
      "doc_id", "text")
    val del = Seq(1L, 2L, 3L).toDF("doc_id").select(col("doc_id").as("_del"))
    val probed = idx.clusters
      .join(broadcast(del), array_contains(col("ids"), col("_del")))
    probed.collect()
    val p = plan(probed)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the delete probe must broadcast the batch:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the delete probe must not go cartesian:\n$p")
  }

  test("d38/d39 ingest ops: zero-shuffle maps; the URL gate broadcasts, crawl side stays put") {
    // d38 markup strip + block filter: a pure projection over the scan —
    // one narrow map, no exchange at all
    val p38 = plan(DocQueries.queries("d38_html_extract")(spark, SF))
    assert(!p38.contains("Exchange"), s"d38 must not shuffle:\n$p38")
    // d39 canonicalize + host gate: the only join is the broadcast
    // anti-join against the tiny blocklist — the crawl side never
    // exchanges
    val p39 = plan(DocQueries.queries("d39_url_canonicalize")(spark, SF))
    assert(p39.contains("BroadcastHashJoin") && p39.contains("LeftAnti"),
      s"d39 gate must be a broadcast anti-join:\n$p39")
    assert(!p39.contains("Exchange hashpartitioning"),
      s"d39 crawl side must not shuffle:\n$p39")
  }

  test("d42 crawl-rank feeder: extract+resolve+canonicalize is a zero-shuffle map") {
    // the whole page -> edge-candidate path (everything BEFORE the edge
    // distinct) must stay a narrow projection over the scan: on a
    // 100 TB crawl the only exchanges d42 pays are the distinct and the
    // per-round rank groupBy, never the string munging
    import org.apache.spark.sql.functions._
    import graft.text.{Html, Urls}
    val pages = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"),
        concat(lit("https://ex.com/a/"), col("doc_id")).as("url"),
        lit("<a href=/x>r</a> <a href='../t/1'>t</a>").as("html"))
    val cand = pages.select(col("url"),
        explode(Html.extractLinks(col("html"))).as("href"))
      .select(Urls.canonicalizeUrl(col("url")).as("src"),
        Urls.canonicalizeUrl(Urls.resolve(col("url"), col("href"))).as("dst"))
    val p = plan(cand)
    assert(!p.contains("Exchange"), s"edge candidates must not shuffle:\n$p")
  }

  test("g34/g35 graph stats: id-keyed joins plus combinable aggregates only") {
    for (q <- Seq("g34_modularity", "g35_assortativity")) {
      val p = plan(GraphQueries.queries(q)(spark, SF))
      assert(!p.contains("CartesianProduct") ||
        "CartesianProduct".r.findAllIn(p).size <= 1, // the 1-row m cross
        s"$q: unexpected cartesian:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q: aggregates must map-side combine:\n$p")
    }
  }
}
