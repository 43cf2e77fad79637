package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CheckpointPolicy, Graph}

/** Parquet persistence for graphs — the library's source/sink pair.
  *
  * Layout: `<path>/vertices/` and `<path>/edges/` parquet datasets plus
  * `<path>/_graft_meta/` (a one-row dataset holding the directedness
  * flag), all written through the standard parquet writer so the usual
  * levers apply (partition count = write parallelism, predicate pushdown
  * and column pruning on read).
  *
  * `partitionByKey = true` buckets nothing but *sorts-within-partitions
  * and repartitions* edges by `src` on write, so a later read feeds
  * src-keyed joins/aggregations with co-located data and parquet row-group
  * min/max stats prune src-range scans.
  */
object GraphIO {

  /** Observability hook for the fast-erase decision in
    * [[deleteVertices]] (the [[graft.algorithms.PageRank]]
    * `lastIterations` convention): true when the last vertex delete
    * took the row-drop path, false when it ran the bounded repair.
    * Test-facing; reads race benignly under concurrent mutations (which
    * the family lock serializes anyway). */
  @volatile private[graft] var lastVertexDeleteFastPath: Boolean = false

  /** Run `body` with subset-key co-partitioning enabled (Spark 4 gates
    * it off by default): the lifecycle's (src, edge_id) joins key on a
    * SUPERSET of the src bucketing, and this conf is what lets the
    * stored side ride its write-time layout with zero exchange. The
    * flip is session-visible while `body` runs — harmless for
    * correctness (it only widens the planner's exchange-elision
    * choices; results are unaffected, at worst a concurrent query plans
    * one fewer shuffle) — and the save/restore race between lifecycle
    * calls is closed by the family lock, which every caller holds. */
  private def withSubsetKeyCoPartition[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Each `<name>_<table>` of a graph family and the key it is
    * bucketed and sorted on. */
  private[graft] val layout = Map(
    "vertices" -> "id", "edges" -> "src", "degrees" -> "id",
    "components" -> "id", "forest" -> "src", "ranks" -> "id")

  /** The graph store's table family: every table bucketed and clustered
    * on its [[layout]] key at the `<name>_edges` bucket count; a new base
    * makes the component table, its certificate, the refresh marker and
    * the ranks stale. Every mutation below runs under `family.mutate`
    * (the lock plus the cross-process epoch guard) and writes through
    * `family.write`. */
  private[graft] val family = new StoreFamily(
    layout.map { case (t, key) => t -> StoreFamily.Bucketed(Seq(key), cluster = true) },
    base = Some("edges"),
    derived = Seq("components", "forest", "refresh_pending", "ranks"))

  /** Run independent table writes as CONCURRENT Spark job streams
    * (guide §2.6): actions are only sequential because the driver calls
    * them sequentially, and a mutation's derived-table writes are
    * mostly independent (different tables, inputs pinned or reading
    * live tables the sibling never touches) — overlapping them fills
    * the executor slack of each write's straggler tail AND hides the
    * per-write driver/catalog latency behind the sibling's jobs. The
    * epoch-guard context is propagated onto each worker thread so
    * staged swaps keep their per-swap stale-base check; failures
    * surface after all branches settle (no detached job stream). */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val ctx = CatalogTables.epochContext
    val fs = tasks.map(t => Future(CatalogTables.withEpochContext(ctx)(t())))
    val outcomes = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    val failures = outcomes.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { e =>
      failures.drop(1).foreach(e.addSuppressed); throw e
    }
  }

  def write(g: Graph, path: String, partitionByKey: Boolean = false): Unit = {
    import g.vertices.sparkSession.implicits._
    g.vertices.write.mode("overwrite").parquet(s"$path/vertices")
    val e = if (partitionByKey)
      g.edges.repartition(g.edges("src")).sortWithinPartitions("src")
    else g.edges
    e.write.mode("overwrite").parquet(s"$path/edges")
    Seq(g.directed).toDF("directed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_meta")
  }

  def read(spark: SparkSession, path: String): Graph = {
    val directed = spark.read.parquet(s"$path/_graft_meta")
      .head().getBoolean(0)
    Graph(
      spark.read.parquet(s"$path/vertices"),
      spark.read.parquet(s"$path/edges"),
      directed)
  }

  /** Persist edges as a BUCKETED table (`bucketBy(src) sortBy(src)`
    * into the session catalog): every src-keyed self-join, adjacency
    * build, or degree aggregation over the stored edges then runs with
    * NO exchange on the bucketed side — the shuffle is paid once at
    * write time instead of once per query. This is the right layout for
    * an edge set that is written once and traversed by many iterative
    * jobs; for one-shot reads prefer [[write]] (`partitionByKey`), which
    * keeps plain portable parquet files.
    *
    * Catalog tables `<name>_edges` / `<name>_vertices` / `<name>_degrees`
    * are (over)written; an earlier graph's derived `_components`,
    * `_forest` and `_ranks` tables are dropped, since they describe a
    * graph that is gone (rebuild them with [[buildComponents]],
    * [[buildForest]], [[buildRanks]]). The directedness flag is stored
    * as a constant `_directed` column in
    * the VERTICES table (not on the edges table, whose layout is owned by
    * the bucketing spec; not as a catalog table property, which would tie
    * the format to one metastore). The column is a single literal, so it
    * compresses to nothing and is pruned from reads that don't ask for it.
    */
  def writeBucketed(g: Graph, name: String, buckets: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    val spark = g.vertices.sparkSession
    val n = Some(buckets)
    family.mutate(spark, name) {
      // a new base makes every derived table stale: drop components,
      // forest, the refresh marker and ranks BEFORE the swaps, so no
      // append maintains labels of the old graph and every table of the
      // family is created after this write, at its bucket count
      family.invalidate(spark, name)
      // staged swaps, so `g` may read the very tables it replaces — a
      // compaction is writeBucketed(readBucketed(spark, name), name, buckets).
      // The vertex and edge writes are INDEPENDENT (each consumes its own
      // half of the caller's indexing chain) — run them as concurrent job
      // streams so each write's straggler tail and driver-side commit
      // latency hide behind the sibling's jobs. The degree write stays
      // AFTER the edge write: it reads the just-written table (see below).
      inParallel(
        // vertices bucketed by id: the append lifecycle's
        // endpoint-membership semi-joins (and any vertex-keyed probe)
        // then plan no exchange on the stored side
        () => family.write(spark, name, "vertices",
          g.vertices.withColumn("_directed", lit(g.directed)), buckets = n),
        () => {
          family.write(spark, name, "edges", g.edges, buckets = n)
          // maintained degree cache — [[appendEdges]] folds batch deltas
          // into it instead of re-scanning the edge table. Derived from
          // the JUST-WRITTEN table, not from `g.edges` (OPTIMIZATION_r17):
          // the caller's edge frame is typically the whole indexing chain
          // (distinct + keying + membership semi-joins), which the third
          // write would re-run from the raw inputs — the stored table
          // holds exactly those rows, its scan is one bucketed read, and
          // the out-degree half aggregates with NO exchange on the
          // bucketed src.
          family.write(spark, name, "degrees",
            degreesOf(spark.table(s"${name}_edges")), buckets = n)
        })
    }
  }

  def readBucketed(spark: SparkSession, name: String): Graph = {
    val vs = spark.table(s"${name}_vertices")
    // an empty vertices table carries no flag rows — default to directed
    // rather than throwing on head() of an empty frame
    val directed = vs.select("_directed").limit(1).collect()
      .headOption.forall(_.getBoolean(0))
    Graph(vs.drop("_directed"), spark.table(s"${name}_edges"), directed)
  }

  /** Exact out/in-degree summary of an edge frame — the maintained
    * `<name>_degrees` table's defining aggregate: one row per vertex id
    * that appears as an endpoint, `(id, out_degree, in_degree)`. Two
    * combinable counts merged by a full outer join; purely ADDITIVE over
    * disjoint edge sets, which is what makes incremental maintenance a
    * batch-sized delta fold.
    */
  def degreesOf(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full")
      .select(
        col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** The maintained degree table of a bucketed graph — always equal to
    * `degreesOf(<name>_edges)` (GraphAppendSpec pins the equivalence
    * across appends). */
  def readDegrees(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_degrees")

  /** The defining aggregate of `<name>_components`: min-id WEAK
    * connectivity components over the graph (edges symmetrized by the
    * star rounds regardless of `directed`), isolated vertices labelling
    * themselves. Labels are the component's minimum surrogate vertex id
    * — deterministic, so the maintained table and a whole-rebuild agree
    * row for row (GraphAppendSpec pins it).
    */
  def componentsOf(g: Graph): DataFrame = labelsFor(g.vertices, g.edges)

  /** Min-id weak-connectivity labels of an edge frame over a vertex set
    * — [[componentsOf]]'s engine, shared with the certificate-scoped
    * [[refreshLabels]] and the delete repairs: the exact labels of
    * [[graft.algorithms.AlternatingConnectedComponents.minLabels]],
    * with every vertex no edge labels taking its own id. */
  private def labelsFor(vertices: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cc = graft.algorithms.AlternatingConnectedComponents.minLabels(edges, "src", "dst")
    vertices.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
  }

  /** Build the OPT-IN maintained component table of a bucketed graph:
    * one full [[componentsOf]] pass, stored id-bucketed. Once present,
    * [[appendVertices]] and [[appendEdges]] maintain it incrementally —
    * the decisive asymmetry is that appends only ever MERGE components
    * (no edge deletions in this lifecycle), so maintenance never
    * re-runs CC over the corpus: the O(log²) star rounds run once here,
    * then each batch pays a batch-sized merge (see [[appendEdges]]).
    */
  def buildComponents(spark: SparkSession, name: String): Unit =
    family.mutate(spark, name) {
      family.write(spark, name, "components", componentsOf(readBucketed(spark, name)))
    }

  /** The maintained component table — always equal to
    * `componentsOf(<rebuilt graph>)` (GraphAppendSpec pins the
    * equivalence across appends and replays). */
  def readComponents(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_components")

  /** Recovery / drift repair: rebuild the component table from the
    * stored graph (the [[refreshDegrees]] twin for the third write).
    * A maintained certificate is rebuilt WITH it: the refresh is the
    * documented remedy for a crash mid-mutation, and after such a crash
    * the forest can hold rows no live edge backs — phantom witnesses the
    * replacement-edge repair would trust ([[replacementEdgeRepair]]
    * relabels from what the certificate says survives). Labels and
    * certificate are a coupled pair; recovery restores both or neither.
    *
    * CRASH DETECTABILITY (ADVICE r14): the two rebuilds are staged
    * swaps, so a crash BETWEEN them would leave fresh labels paired
    * with the stale certificate — exactly the state the refresh is
    * documented to cure, previously undetectable. The whole pair now
    * runs as ONE guarded mutation bracketed by a pending marker
    * ([[refreshPending]]): the marker is written before the first
    * rebuild and dropped after the last, so an interrupted refresh is
    * observable, and every lifecycle mutation that would TRUST the
    * certificate drops it loudly first (see [[dropUntrustedForest]]).
    * Want fresh labels without paying the certificate rebuild? That is
    * [[refreshLabels]]. */
  def refreshComponents(spark: SparkSession, name: String): Unit =
    family.mutate(spark, name) {
      val rebuildForest = hasForest(spark, name)
      if (rebuildForest) setRefreshPending(spark, name)
      buildComponents(spark, name)
      if (rebuildForest) buildForest(spark, name)
      clearRefreshPending(spark, name)
    }

  /** Scoped refresh (VERDICT r14 item 2): rebuild ONLY the label table.
    * [[refreshComponents]] pays BOTH narrow-table rebuilds (440.6 s vs
    * 57.5 s labels-only at the 100× corpus) because after a crash the
    * certificate may hold phantom witnesses — but the non-crash caller
    * who just wants labels re-derived (after a repair burst, before an
    * audit) needs none of that: relabeling from the live edge table
    * cannot invalidate a TRUSTED certificate, whose contract (a subset
    * of the stored edges spanning the same components) relates the
    * forest to the EDGES only, not to the label values. Refuses loudly
    * when an interrupted refresh left the certificate untrusted —
    * labels-only would bless exactly the phantom-witness state the
    * marker exists to flag; re-run [[refreshComponents]] there.
    *
    * The pending check runs INSIDE the mutation guard (ADVICE r15): a
    * concurrent [[refreshComponents]] that sets the marker after an
    * unguarded check could otherwise slide this rebuild into the
    * pending window — the epoch guard made that race benign, but the
    * contract should not lean on that reasoning chain. */
  def refreshLabels(spark: SparkSession, name: String): Unit =
    family.mutate(spark, name) {
      import org.apache.spark.sql.functions._
      require(!refreshPending(spark, name),
        s"an interrupted refreshComponents left '$name''s certificate untrusted — " +
          s"labels-only refresh would pair fresh labels with phantom witnesses; " +
          s"re-run refreshComponents('$name')")
      // CERTIFICATE-SCOPED relabel: when the maintained certificate
      // exists — and the pending gate
      // above just proved it TRUSTED — CC over its TREE-sized rows
      // (≤ V−1, a subset of the stored edges spanning exactly the same
      // components, the [[buildForest]] contract) yields the identical
      // min-id labels as CC over the O(E) edge table, so the labels-only
      // refresh stops touching the corpus entirely. GraphAppendSpec pins
      // the equivalence against the full rebuild. No certificate → the
      // full [[buildComponents]] pass, unchanged.
      if (hasForest(spark, name))
        family.write(spark, name, "components",
          labelsFor(spark.table(s"${name}_vertices"), readForest(spark, name)))
      else buildComponents(spark, name)
    }

  /** True while a [[refreshComponents]] pair is incomplete: set before
    * its first staged swap, cleared after its last, so a crash between
    * the label rebuild and the certificate rebuild is DETECTABLE. While
    * pending, the certificate (if any) is untrusted. */
  def refreshPending(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_refresh_pending")

  private[graft] def setRefreshPending(spark: SparkSession, name: String): Unit =
    CatalogTables.createMarker(spark, s"${name}_refresh_pending", "pending BOOLEAN")

  private def clearRefreshPending(spark: SparkSession, name: String): Unit =
    family.invalidate(spark, name, Seq("refresh_pending"))

  /** The untrusted-certificate gate: a mutation that would TRUST or
    * MAINTAIN the certificate while a refresh is pending drops it
    * loudly instead (the orphaned-certificate precedent in
    * [[deleteEdges]]) and proceeds certificate-less — a phantom witness
    * could make [[deleteEdges]] SKIP a repair the graph needs, silently
    * and forever. The marker itself stays: the labels half may equally
    * be the stale one, and only a completed [[refreshComponents]] (which
    * rebuilds the certificate and clears the marker) restores trust. */
  private def dropUntrustedForest(spark: SparkSession, name: String): Unit =
    if (refreshPending(spark, name) && hasForest(spark, name))
      family.invalidate(spark, name, Seq("forest"))

  private def hasComponents(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_components")

  /** Build the OPT-IN spanning-forest table `<name>_forest` — the
    * delete-repair GUARD. Component repair after an edge delete is the
    * lifecycle's one honest worst case (on a single-component graph it
    * ≈ a full CC, 84.6 s at the 100× corpus); but deleting an edge
    * OUTSIDE a spanning forest of the graph provably cannot change any
    * component — every surviving vertex pair stays connected through
    * the untouched forest — so [[deleteEdges]] consults this table and
    * SKIPS repair outright for non-forest deletes (the vast majority on
    * any graph denser than a tree: |F| ≤ V−1 of E edges).
    *
    * Contents: canonical `(src, dst)` pairs (src < dst), a subset of
    * the stored edges ignoring direction, spanning every component
    * (BFS parent tree from each component's label vertex — deterministic
    * min-parent picks, so rebuilds replay; Borůvka fallback past the
    * diameter cap). Maintained as a CONNECTIVITY CERTIFICATE rather
    * than a strictly minimal forest: appends add every batch edge that
    * crosses two current components (cheap, batch-sized; possible extra
    * cycle edges only cause FALSE repairs, never missed ones —
    * [[forestStats]] / [[retightenForestIfBloated]] meter and compact
    * the accumulation), and a forest-hit delete SPLICES a replacement
    * edge per reconnected piece pair inside [[replacementEdgeRepair]] —
    * tree-bounded work, never a re-span. Requires the component table
    * (the guard exists to protect its repair); the burst opt-out
    * (`repairComponents = false`) drops BOTH tables loudly. */
  def buildForest(spark: SparkSession, name: String): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    require(hasComponents(spark, name),
      s"buildForest requires the maintained component table — run buildComponents('$name') first")
    // BFS parent tree from each component's LABEL vertex (VERDICT r13
    // item 4): a unit-weight certificate needs no minimum-ness, so
    // Borůvka's contraction rounds are overkill — the multi-source BFS
    // spans the same components in diameter-many one-join rounds
    // (measured 41.3 s vs 139.8 s Borůvka at the 100× corpus,
    // BASELINE.md). Graphs whose effective diameter outruns the round
    // cap fall back to Borůvka, whose log₂(V) bound is
    // diameter-independent.
    val edges = spark.table(s"${name}_edges")
    val comps = readComponents(spark, name)
    val roots = comps.select(col("component").as("id")).distinct()
    // the reachable-vertex total (one count of the narrow label table)
    // arms parentForest's early decline: a diameter-past-the-cap graph
    // then stops paying BFS rounds as soon as the cap is provably
    // unreachable instead of burning all 64 before the fallback
    val forest = graft.algorithms.BreadthFirstSearch
      .parentForest(roots, edges.select(col("src"), col("dst")),
        totalVertices = Some(comps.count()))
      .getOrElse(forestOf(edges))
    family.write(spark, name, "forest", forest)
  }

  /** Certificate health: ONE aggregated diagnostics row (the
    * [[graft.similarity.AnnIndex.driftStats]] convention) —
    * `(forest_rows, vertex_rows, component_count, spanning_bound,
    * bloat_ratio)`. A true forest has at most `spanning_bound` =
    * V − #components rows; [[appendEdges]] is deliberately conservative
    * (every component-crossing batch edge joins the certificate), so a
    * long append stream can push `forest_rows` past the bound — extra
    * rows are never WRONG (they only cause false repairs), but the
    * false-repair rate creeps up with the bloat. `bloat_ratio` =
    * forest_rows / max(spanning_bound, 1); 1.0 is tight. One
    * column-pruned pass over the two narrow tables. */
  def forestStats(spark: SparkSession, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(hasForest(spark, name),
      s"forestStats needs the certificate — run buildForest('$name') first")
    val cstats = readComponents(spark, name).agg(
      count(lit(1)).as("vertex_rows"),
      countDistinct(col("component")).as("component_count"))
    readForest(spark, name).agg(count(lit(1)).as("forest_rows"))
      .crossJoin(cstats) // singleton aggregates — one row each side
      .select(
        col("forest_rows"), col("vertex_rows"), col("component_count"),
        (col("vertex_rows") - col("component_count")).as("spanning_bound"),
        (col("forest_rows").cast("double") /
          greatest(col("vertex_rows") - col("component_count"), lit(1L))
            .cast("double")).as("bloat_ratio"))
  }

  /** Compaction trigger for certificate bloat (VERDICT r13 item 3,
    * the [[graft.similarity.AnnIndex.rebuildIfDrifted]] pattern): when
    * [[forestStats]] reports more than `maxRatio`× the spanning bound,
    * rebuild the certificate outright — |F| returns to ≤ V − C and the
    * false-repair rate resets. Returns whether a rebuild ran. Call it
    * on a maintenance cadence after long append streams (or let
    * [[appendEdgesStream]]'s `bloatCheckEvery` hook call it for you).
    * The stats read and the conditional rebuild run under ONE guarded
    * mutation (ADVICE r14): a concurrent append between the two would
    * otherwise make the threshold decision stale — now it aborts loudly
    * like any other lost-update race.
    *
    * While a refresh is PENDING the pass short-circuits to false
    * (ADVICE r15): the certificate is untrusted there, so the stats row
    * would meter phantom witnesses, and a tripped rebuild would derive
    * the new forest from possibly-stale labels — and the still-set
    * marker makes the next trusting mutation drop it anyway. Only a
    * completed [[refreshComponents]] restores a meterable state. */
  def retightenForestIfBloated(
      spark: SparkSession, name: String, maxRatio: Double = 1.5): Boolean =
    family.mutate(spark, name) {
      if (refreshPending(spark, name) || !hasForest(spark, name)) false
      else {
        val s = forestStats(spark, name).head()
        if (s.getAs[Double]("bloat_ratio") > maxRatio) {
          buildForest(spark, name); true
        } else false
      }
    }

  /** The maintained connectivity certificate: canonical (src, dst)
    * pairs, subset of the stored edges, same components as the graph. */
  def readForest(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_forest")

  private def hasForest(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(s"${name}_forest")

  /** Spanning forest of an edge frame as canonical (src, dst) pairs —
    * Borůvka over unit weights (ties broken by (src, dst): the forest
    * is a pure function of the edge set). */
  private def forestOf(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // maxRounds = 64: Borůvka only guarantees component-count HALVING
    // per round, so the worst case is log2(V) — the default 8 would
    // throw require(done) on deep merge patterns (> ~256 components
    // merging pairwise), and inside repairComponentTable that throw
    // lands mid-mutation after the edge rewrite committed (ADVICE r13).
    // 64 covers any vertex count a long id can name.
    graft.algorithms.Boruvka(maxRounds = 64)
      .run(edges.select(col("src"), col("dst")).withColumn("weight", lit(1L)))
      .select(col("src"), col("dst"))
  }

  /** Incrementally fold a batch of NEW vertices into a bucketed graph —
    * the vertex half of the append lifecycle. `rawVertices` carries the
    * ORIGINAL user schema (same columns as the frame the graph was
    * indexed from); rows whose surrogate id is already stored are
    * dropped (redelivery-safe), so append ≡ whole-rebuild on the vertex
    * set. Work is batch-sized: the keying is per-row, and the
    * membership anti-join probes the id-bucketed vertex table with no
    * exchange on the stored side.
    */
  def appendVertices(spark: SparkSession, name: String, rawVertices: DataFrame): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    val stored = spark.table(s"${name}_vertices")
    val directed = stored.select("_directed").limit(1).collect()
      .headOption.forall(_.getBoolean(0))
    // pinned: the append below writes into a table this plan reads
    val fresh = CheckpointPolicy.pin(Graph.keyVertices(rawVertices)
      .join(stored.select(col("id")), Seq("id"), "left_anti")
      .withColumn("_directed", lit(directed))
      .select(stored.columns.map(col).toIndexedSeq: _*))
    family.write(spark, name, "vertices", fresh, append = true)
    // a genuinely-new vertex is its own weak component until an edge
    // arrives — O(batch) inserted rows, exactly what a rebuild would say
    if (hasComponents(spark, name))
      family.write(spark, name, "components",
        fresh.select(col("id"), col("id").as("component")), append = true)
  }

  /** Incrementally fold a batch of edges into a bucketed graph — the
    * daily-append lifecycle, without rebuilding (the
    * [[graft.dedup.DedupIndex.merge]] contract transplanted).
    *
    * `rawEdges` carries the ORIGINAL user schema (same columns, same
    * order, as the frame the graph was indexed from — the content
    * `edge_id` is a hash of that row). Exactly equivalent to re-running
    * `Graph.index` over (old raw edges ∪ batch) against the stored
    * vertex set, because every step of [[Graph.index]]'s edge path is
    * re-applied to the batch alone:
    *
    *  - surrogate keying is per-row and deterministic (the round-1
    *    xxhash64 design decision — no join through the vertex table);
    *  - endpoint membership (index's inner-join drop semantics) is two
    *    semi-joins against the id-bucketed vertex table — append
    *    referenced vertices first ([[appendVertices]]) or the edges
    *    drop, exactly as a rebuild would drop them;
    *  - exact-duplicate collapse becomes an anti-join on
    *    `(src, edge_id)` against the stored edge table — `src` leads so
    *    the src-bucketed stored side plans NO exchange and parquet
    *    row-group stats prune; a redelivered row hashes to a stored
    *    edge_id and vanishes, which makes the append IDEMPOTENT (the
    *    at-least-once recovery device of [[appendEdgesStream]]);
    *  - the degree cache advances by the surviving batch's
    *    [[degreesOf]] delta — a batch-sized aggregate folded into the
    *    id-bucketed degree table; the 100 TB edge table is never
    *    re-scanned.
    *
    * Per-batch cost: keying/banding O(batch); the anti-join reads only
    * the stored row groups the batch's src keys touch; the edge append
    * writes O(batch); the degree fold rewrites the O(V) narrow degree
    * table (the bucketed-catalog trade, as in `DedupIndex.mergeStream`);
    * if the opt-in component table exists, it advances by a batch-sized
    * label-merge (appends only ever MERGE components — see the inline
    * note below). Not transactional across the writes: a crash between
    * the edge append and a derived-table overwrite leaves that cache
    * stale — [[refreshDegrees]] / [[refreshComponents]] rebuild from
    * the edge table.
    */
  def appendEdges(spark: SparkSession, name: String, rawEdges: DataFrame): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    dropUntrustedForest(spark, name)
    val stored = spark.table(s"${name}_edges")
    val v = spark.table(s"${name}_vertices")
    // the anti-join keys on (src, edge_id) while the table is bucketed
    // on src alone — subset-key co-partitioning lets the stored side
    // ride its bucketing with ZERO exchange (the batch aligns to the
    // bucket layout instead). Scoped to the eager pin.
    val fresh = withSubsetKeyCoPartition(spark) {
      // consumed by the edge append, the degree delta AND the
      // component merge; pinned so the append below cannot invalidate
      // the plan that feeds it (an append writes into the table the
      // plan reads — the one face the staged-overwrite device cannot
      // cover, and the batch-sized frame is cheap to pin)
      CheckpointPolicy.pin(Graph.keyEdges(rawEdges)
        .join(v.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .join(stored.select(col("src"), col("edge_id")),
          Seq("src", "edge_id"), "left_anti")
        .select(stored.columns.map(col).toIndexedSeq: _*))
    }
    // LAZY: the staged write below reads the LIVE degree table while
    // writing its replacement, so no defensive pin is needed
    val merged = readDegrees(spark, name).as("o")
      .join(degreesOf(fresh).as("d"), Seq("id"), "full")
      .select(
        col("id"),
        (coalesce(col("o.out_degree"), lit(0L)) +
          coalesce(col("d.out_degree"), lit(0L))).as("out_degree"),
        (coalesce(col("o.in_degree"), lit(0L)) +
          coalesce(col("d.in_degree"), lit(0L))).as("in_degree"))
    // the batch-sized edge append and the degree fold are independent
    // (fresh is pinned; merged reads the live degree table only) —
    // concurrent job streams; the crash contract is the documented one
    // either way (a stale cache is rebuilt by refreshDegrees)
    inParallel(
      () => family.write(spark, name, "edges", fresh, append = true),
      () => family.write(spark, name, "degrees", merged))

    // component maintenance (opt-in, see [[buildComponents]]): appends
    // only MERGE components, so the whole update is (1) map the batch's
    // endpoints to their current labels — two joins that ride the
    // id-bucketed component table — (2) run the star rounds on the
    // TINY label-merge graph (≤ 2·batch vertices: components touched by
    // this batch, not the corpus), (3) relabel the O(V) narrow table
    // through the (small, AQE-broadcast) old→new mapping. A batch that
    // merges nothing (redelivery included) skips the rewrite entirely.
    if (hasComponents(spark, name)) {
      val comp = readComponents(spark, name)
      // LAZY: the batch edges that cross two current labels, shared by
      // the touched label pairs and the certificate upkeep below, each
      // pinned on its own
      val labelled = fresh
        .join(comp.select(col("id").as("src"), col("component").as("_ca")),
          Seq("src"))
        .join(comp.select(col("id").as("dst"), col("component").as("_cb")),
          Seq("dst"))
        .filter(col("_ca") =!= col("_cb"))
      val touched = CheckpointPolicy.pin(labelled
        .select(col("_ca"), col("_cb"))
        .distinct())
      if (!touched.isEmpty) {
        // certificate upkeep ([[buildForest]]): every batch edge that
        // crosses two CURRENT components joins the certificate — the
        // connectivity it adds must be witnessed or a later delete of an
        // old edge could skip a repair it needs. Batch-sized; possible
        // redundant cycle edges (three components pairwise bridged) only
        // ever cause FALSE repairs, never missed ones. Pinned against
        // the PRE-merge labels before the relabel overwrite below.
        val crossing =
          if (hasForest(spark, name))
            Some(CheckpointPolicy.pin(labelled
              .select(least(col("src"), col("dst")).as("src"),
                greatest(col("src"), col("dst")).as("dst"))
              .distinct()))
          else None
        // the certificate append runs BEFORE the relabel commits (ADVICE
        // r13): a crash between the two writes then only leaves an EXTRA
        // certificate edge — a safe false repair — never merged labels
        // whose bridge is unwitnessed (which would let a later delete of
        // that bridge skip a repair it needs, silently and forever);
        // already-present canonical pairs (a fresh parallel edge over a
        // stored one) are anti-joined away
        crossing.foreach { c =>
          family.write(spark, name, "forest", c.join(
            readForest(spark, name).select(col("src"), col("dst")),
            Seq("src", "dst"), "left_anti"), append = true)
        }
        val labels = graft.algorithms.AlternatingConnectedComponents
          .minLabels(touched, "_ca", "_cb")
        val mapping = CheckpointPolicy.pin(labels
          .filter(col("id") =!= col("component"))
          .select(col("id").as("_old"), col("component").as("_new")))
        // the mapping is bounded by the batch's touched-component pairs,
        // so BROADCAST it: the relabel stays a narrow map over the
        // id-bucketed table and the overwrite needs no exchange at all
        // (joining on `component` instead would shuffle the O(V) table
        // TWICE — once for the join, once to restore the id bucketing;
        // measured 91 s shuffled vs 16.6 s broadcast per 1000-edge batch
        // at the 100x stress corpus, 75M vertices / 14.7M components).
        // The cap is the MEMORY guard, not a planner hint: broadcast()
        // is unconditional (it bypasses autoBroadcastJoinThreshold), so
        // the row bound must itself keep the hashed relation small —
        // 500k (old, new) pairs ≈ 8 MB, safely inside default driver
        // and executor memory. A batch that merges more components than
        // that is a corpus-scale restructuring — the full rebuild IS
        // the fast path.
        if (mapping.count() <= 500000L) {
          // LAZY: the staged write reads the live component table
          family.write(spark, name, "components", comp
            .join(broadcast(mapping), comp("component") === mapping("_old"), "left")
            .select(col("id"),
              coalesce(col("_new"), col("component")).as("component")))
        } else refreshComponents(spark, name)
      }
    }
  }

  /** Overwrite the ATTRIBUTES of existing vertices from a raw-schema
    * batch — the update cell of the lifecycle's CRUD (profile changes,
    * re-scored quality, refreshed metadata). Rows are matched by the
    * deterministic surrogate id; batch rows naming unknown vertices are
    * IGNORED (use [[appendVertices]] to add), and vertices outside the
    * batch keep their attributes. Cost: one broadcast-or-aligned left
    * join riding the id bucketing plus the O(V) narrow vertex rewrite —
    * the degree/component tables are untouched (attributes don't change
    * structure). Idempotent: re-delivering the batch rewrites the same
    * values.
    */
  def upsertVertexAttrs(spark: SparkSession, name: String, rawVertices: DataFrame): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    val stored = spark.table(s"${name}_vertices")
    val batch = Graph.keyVertices(rawVertices)
    val attrs = batch.columns.filter(c => c != "id" && c != "old_id")
    require(attrs.nonEmpty,
      "upsertVertexAttrs needs at least one attribute column besides the id")
    require(attrs.forall(stored.columns.contains),
      s"batch attribute columns ${attrs.mkString(",")} must exist in the stored " +
        s"vertex schema ${stored.columns.mkString(",")}")
    // a presence flag, not coalesce on the value: a matched row replaces
    // its attributes WHOLESALE, so an explicit null in the batch lands
    val renamed = CheckpointPolicy.pin(batch.select(
      col("id") +: lit(true).as("_hit") +:
        attrs.map(c => col(c).as(s"_new_$c")).toIndexedSeq: _*))
    // two batch rows for one id with DIFFERENT attrs would fan the join
    // out and duplicate stored vertices — refuse loudly (exact-duplicate
    // rows already collapsed in the keying)
    require(renamed.groupBy(col("id")).count().filter(col("count") > 1).isEmpty,
      "upsertVertexAttrs batch contains conflicting rows for the same vertex id")
    // LAZY: the staged write reads the LIVE vertex table while writing
    // its replacement — no O(V) defensive copy, no loss window
    family.write(spark, name, "vertices",
      stored.join(broadcastIfSmall(renamed), Seq("id"), "left")
        .select(stored.columns.map { c =>
          if (attrs.contains(c))
            when(col("_hit"), col(s"_new_$c")).otherwise(col(c)).as(c)
          else col(c)
        }.toIndexedSeq: _*))
  }

  /** Physically remove a batch of edges from a bucketed graph — the
    * deletion half of the lifecycle (the GDPR/right-to-be-forgotten
    * shape, which is why rows are REWRITTEN OUT rather than tombstoned:
    * a tombstone retains the data it is supposed to erase). `rawEdges`
    * carries the ORIGINAL schema — deletion is by content, through the
    * same deterministic keying as [[appendEdges]], so exactly the rows
    * an equal append created are removed and a re-append after a delete
    * restores the original graph (spec-pinned).
    *
    *  - the edge rewrite is the honest cost: one anti-join on
    *    `(src, edge_id)` riding the write-time bucketing (batch side
    *    broadcasts/aligns; stored side plans no exchange) and one
    *    bucketed overwrite — O(E) once per delete BATCH, the same
    *    copy-on-write trade every columnar store pays for deletion;
    *  - degrees advance by an exact integer DECREMENT of the removed
    *    rows' [[degreesOf]] delta; vertices that stop being endpoints
    *    drop their row (the defining aggregate is preserved);
    *  - the component table, if present, is REPAIRED in place: deletion
    *    can only split the components the removed rows touched, so CC
    *    re-runs over just those components' surviving subgraph and the
    *    result is spliced in — ≡ a full rebuild row for row
    *    (GraphAppendSpec pins it), at a cost ∝ affected component mass;
    *  - redelivered deletes are no-ops (already-removed rows match
    *    nothing), so the face is idempotent like the appends.
    *
    * `repairComponents = false` opts a DELETE BURST out of per-batch
    * repair: on a graph whose touched components are corpus-sized (one
    * giant component), repair ≈ a full CC per delete — N burst deletes
    * would pay N closures where ONE rebuild after the burst suffices.
    * The opt-out DROPS the component table loudly (a silently-stale
    * label table is worse than a missing one); run [[buildComponents]]
    * after the burst.
    */
  def deleteEdges(
      spark: SparkSession, name: String, rawEdges: DataFrame,
      repairComponents: Boolean = true): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    dropUntrustedForest(spark, name)
    val stored = spark.table(s"${name}_edges")
    // the USING join fronts its keys — restore the stored column order
    // so the rewrite round-trips the table schema exactly
    val cols = stored.columns.map(col).toIndexedSeq
    val keys = CheckpointPolicy.pin(Graph.keyEdges(rawEdges)
      .select(col("src"), col("edge_id")).distinct())
    // rows actually stored that the batch names — batch-sized, so
    // materializing it to gate the no-op path is cheap; `kept` stays
    // LAZY: a redelivered delete matches nothing and must not pay an
    // O(E) pass just to discover that (measured 29 s of no-op at the
    // 100x corpus when it was eager), and the matched path writes it
    // straight into the staged table while the live one stays readable
    val removed = withSubsetKeyCoPartition(spark) {
      CheckpointPolicy.pin(stored.join(keys, Seq("src", "edge_id"), "left_semi")
        .select(cols: _*))
    }
    if (!removed.isEmpty) {
      val kept = stored.join(keys, Seq("src", "edge_id"), "left_anti")
        .select(cols: _*)
      // an orphaned certificate (forest kept past its component table)
      // would silently go stale on the next cut — drop it loudly
      if (hasForest(spark, name) && !hasComponents(spark, name))
        family.invalidate(spark, name, Seq("forest"))
      // SPANNING-FOREST GUARD ([[buildForest]]): when the certificate is
      // maintained and NONE of the removed edges are in it, components
      // provably cannot change — every surviving vertex pair stays
      // connected through the untouched forest — so the label read and
      // the repair (the lifecycle's honest worst case: ≈ full CC on a
      // single-component graph) are skipped outright. The probe is the
      // batch-sized canonical pairs semi-joined against the src-bucketed
      // forest table, evaluated BEFORE any rewrite. Non-forest deletes
      // (the vast majority on graphs denser than a tree: |F| ≤ V−1 of E
      // edges) therefore pay the table rewrites and nothing else.
      // the batch's canonical pairs, pinned once BEFORE any rewrite: the
      // forestSkip probe semi-joins them, and on a forest hit the
      // replacement-edge repair subtracts the same frame from the
      // certificate — one aggregation serves both
      val removedCanon =
        if (repairComponents && hasForest(spark, name))
          Some(CheckpointPolicy.pin(removed.select(
            least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst")).distinct()))
        else None
      val forestSkip = removedCanon.exists(rc =>
        readForest(spark, name).join(rc, Seq("src", "dst"), "left_semi").isEmpty)
      // component labels the batch touches — read BEFORE any rewrite
      // (bounded by the batch: each removed edge's endpoints shared one
      // label while the edge existed, so probing src alone is complete)
      val affected =
        if (repairComponents && !forestSkip)
          affectedLabels(spark, name, removed.select(col("src").as("id")))
        else None
      applyEdgeRemoval(spark, name, removed, kept)
      if (repairComponents)
        affected.foreach(repairComponentTable(spark, name, _,
          removedIds = None, removedPairs = removedCanon))
      else invalidateComponents(spark, name)
    }
  }

  /** Remove vertices AND their incident edges — the actual
    * right-to-be-forgotten request ("erase user X"): `rawVertices`
    * carries the original id schema; the vertices, every edge touching
    * them, and the neighbours' degree contributions all go, exactly as
    * a rebuild without those rows would say (spec-pinned). Costs one
    * bucketed rewrite of each table, like [[deleteEdges]].
    */
  def deleteVertices(
      spark: SparkSession, name: String, rawVertices: DataFrame,
      repairComponents: Boolean = true): Unit = family.mutate(spark, name) {
    import org.apache.spark.sql.functions._
    dropUntrustedForest(spark, name)
    val ids = CheckpointPolicy.pin(Graph.keyVertices(rawVertices).select(col("id")))
    val storedV = spark.table(s"${name}_vertices")
    // redelivery guard: nothing stored matches -> a true no-op (no
    // rewrites, no component repair)
    if (storedV.join(ids, Seq("id"), "left_semi").isEmpty) return
    // an orphaned certificate is invalid state here too (see deleteEdges)
    if (hasForest(spark, name) && !hasComponents(spark, name))
      family.invalidate(spark, name, Seq("forest"))
    // FAST-ERASE GUARD (certificate maintained): when NO deleted id is
    // a component label (no row's `component` names it — labels are
    // component minima, so survivors' labels cannot move) and EVERY
    // deleted id touches AT MOST ONE certificate edge (a forest LEAF —
    // a spanning tree minus a set of its leaves still spans the rest;
    // an interior vertex's removal could strand the subtrees it
    // joined), erasing the set provably cannot split or relabel any
    // survivor. The common right-to-be-forgotten shape — erase a leaf
    // user — then costs two row-drop rewrites instead of an
    // affected-component CC (≈ full CC on a giant component). The two
    // probes are one column-pruned pass each over the narrow label and
    // certificate tables, read BEFORE any rewrite.
    val fastErase = repairComponents && hasForest(spark, name) && {
      val comp = readComponents(spark, name)
      val noDeletedLabel = comp
        .join(ids.select(col("id").as("component")), Seq("component"), "left_semi")
        .isEmpty
      noDeletedLabel && {
        val f = readForest(spark, name)
        val touches = f.join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
          .select(col("src").as("_vid"))
          .unionAll(f.join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
            .select(col("dst").as("_vid")))
        touches.groupBy(col("_vid")).agg(count(lit(1)).as("_deg"))
          .filter(col("_deg") > 1L).isEmpty
      }
    }
    lastVertexDeleteFastPath = fastErase
    // labels of the subjects' components — read BEFORE any rewrite;
    // covers isolated subjects (their self-label rows must not linger)
    // as well as every component their incident edges touched
    val affected =
      if (repairComponents && !fastErase) affectedLabels(spark, name, ids)
      else None
    val vcols = storedV.columns.map(col).toIndexedSeq
    // LAZY: written straight into the staged vertex table below
    val keptV = storedV.join(ids, Seq("id"), "left_anti")
      .select(vcols: _*)
    val stored = spark.table(s"${name}_edges")
    val ecols = stored.columns.map(col).toIndexedSeq
    val gone = broadcastIfSmall(ids)
    val removed = CheckpointPolicy.pin(stored
      .join(gone.select(col("id").as("src")), Seq("src"), "left_semi")
      .select(ecols: _*)
      .unionByName(stored
        .join(gone.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(gone.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(ecols: _*)))
    // LAZY: the edge rewrite in applyEdgeRemoval stages it likewise
    val kept = stored
      .join(gone.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(gone.select(col("id").as("dst")), Seq("dst"), "left_anti")
      .select(ecols: _*)
    // ORDER = crash recovery: the redelivery guard above keys on VERTEX
    // presence, so the vertex swap must come LAST — a crash after the
    // edge rewrite leaves the subject's vertex row in place, and
    // re-delivering the same delete then completes the cascade (the
    // edge half no-ops, the remaining rewrites run). Swapping vertices
    // first would make the redelivered cascade return early and leave
    // the incident edges orphaned forever.
    // The degree table's defining aggregate ranges over the kept edges
    // only; removed endpoints whose counts reach zero drop their row.
    applyEdgeRemoval(spark, name, removed, kept)
    family.write(spark, name, "vertices", keptV)
    if (repairComponents) {
      if (fastErase) {
        // the erased rows just LEAVE both narrow tables: labels and
        // connectivity of every survivor are provably unchanged (see
        // the guard above), so no CC runs at all
        family.write(spark, name, "components",
          readComponents(spark, name).join(ids, Seq("id"), "left_anti"))
        family.write(spark, name, "forest", readForest(spark, name)
          .join(ids.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(ids.select(col("id").as("dst")), Seq("dst"), "left_anti")
          // USING joins FRONT their keys — restore the stored column
          // order or the rewrite flips the table to (dst, src)
          .select(col("src"), col("dst")))
      } else
        affected.foreach(repairComponentTable(spark, name, _,
          removedIds = Some(ids), removedPairs = None))
    } else invalidateComponents(spark, name)
    // the cascade takes DERIVED per-subject data too: a rank row about
    // an erased vertex is retained data about it (other vertices' rank
    // VALUES go stale until refreshRanks — documented — but the
    // subject's row must physically go)
    if (spark.catalog.tableExists(s"${name}_ranks"))
      family.write(spark, name, "ranks",
        spark.table(s"${name}_ranks").join(ids, Seq("id"), "left_anti"))
  }

  /** Shared tail of the two delete faces: overwrite the edge table with
    * `kept` (LAZY — the staged write reads the live table while writing
    * its replacement, so no O(E) defensive copy is paid and the
    * primary data survives until the new write commits), and decrement
    * the degree cache by `removed`'s delta (dropping rows that reach
    * zero). `removed` must be pinned (it gates the no-op path and is
    * read twice). */
  private def applyEdgeRemoval(
      spark: SparkSession, name: String,
      removed: DataFrame, kept: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    // a delete that matched nothing (redelivery, unknown rows) must not
    // pay the O(E) rewrite — measured 21 s of pure no-op at the 100x
    // corpus without this guard
    if (removed.isEmpty) return
    // resolved before the concurrent pair: the degree write must not
    // read the edge table's bucket count while the edge swap replaces it
    val buckets = Some(family.bucketCount(spark, name))
    // LAZY: reads the live degree table inside its own staged write
    val merged = readDegrees(spark, name).as("o")
      .join(degreesOf(removed).as("d"), Seq("id"), "left")
      .select(
        col("id"),
        (col("o.out_degree") - coalesce(col("d.out_degree"), lit(0L)))
          .as("out_degree"),
        (col("o.in_degree") - coalesce(col("d.in_degree"), lit(0L)))
          .as("in_degree"))
      .filter(col("out_degree") > 0L || col("in_degree") > 0L)
    // the two rewrites are independent (kept reads the live EDGE table;
    // merged reads the live DEGREE table + the pinned removed delta) —
    // concurrent job streams. Crash honesty is unchanged in kind:
    // either table can now be the stale
    // one after a crash mid-pair, and [[refreshDegrees]] rebuilds the
    // degree cache from the edge table in both orders.
    // the conf scope must cover the ACTIONS: physical planning of the
    // kept anti-join reads it when its staged write runs (the conf is
    // session-wide, so the worker thread sees it)
    withSubsetKeyCoPartition(spark) {
      inParallel(
        () => family.write(spark, name, "edges", kept, buckets = buckets),
        () => family.write(spark, name, "degrees", merged, buckets = buckets))
    }
  }

  /** The burst opt-out's loud invalidation: a silently-stale label
    * table is worse than a missing one — run [[buildComponents]] after
    * the burst. The certificate is coupled to the component table it
    * guards (kept past the opt-out it would go stale on the next cut;
    * rebuild both with buildComponents + buildForest after the burst),
    * and with BOTH tables gone there is no pair left to distrust — a
    * pending-refresh marker would only poison the post-burst rebuild. */
  private def invalidateComponents(spark: SparkSession, name: String): Unit =
    family.invalidate(spark, name, Seq("components", "forest", "refresh_pending"))

  /** The component labels a delete batch touches, or None when no
    * component table is maintained. `endpointIds` is batch-sized (one
    * row per removed edge's src, or per deleted vertex id), so the
    * result is too — pinned, it feeds [[repairComponentTable]] twice. Must
    * be read BEFORE any table rewrite. */
  private def affectedLabels(
      spark: SparkSession, name: String, endpointIds: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    if (!hasComponents(spark, name)) None
    else Some(CheckpointPolicy.pin(readComponents(spark, name)
      .join(endpointIds.distinct(), Seq("id"), "left_semi")
      .select(col("component").as("_lbl")).distinct()))
  }

  /** Bounded component repair after a delete (VERDICT r11 item 5 — the
    * pre-r12 behaviour dropped the whole label table). Deletion can
    * only SPLIT the components the removed rows touched. Two engines:
    *
    *  - certificate maintained → [[replacementEdgeRepair]], the
    *    dynamic-connectivity move: CC over the TREE-sized surviving
    *    forest (V−1 rows, never the component's E edges), then one
    *    crossing-edge probe bounded by the detached pieces re-witnesses
    *    reconnections — only a true split relabels;
    *  - no certificate → CC over the affected components' surviving
    *    subgraph of the edge table (the r11 design).
    *
    * Either way, repair ≡ [[refreshComponents]] row for row
    * (GraphAppendSpec pins it): unaffected components are untouched and
    * the affected recompute IS the rebuild restricted to its subgraph.
    * `removedPairs` (edge cuts) / `removedIds` (vertex erases) name
    * what the delete took, pinned by the caller BEFORE the rewrite.
    * The src-probes of the edge table are complete because an edge
    * never crosses a component boundary, and they ride the src
    * bucketing. */
  private def repairComponentTable(
      spark: SparkSession, name: String,
      labels: DataFrame, removedIds: Option[DataFrame],
      removedPairs: Option[DataFrame]): Unit = {
    import org.apache.spark.sql.functions._
    val comp = readComponents(spark, name)
    val lbl = broadcastIfSmall(labels)
    val inAffected = comp.join(lbl, comp("component") === lbl("_lbl"), "left_semi")
      .select(col("id"))
    // bounded by the affected component mass; feeds the CC rounds AND
    // the splice below
    val survivors = CheckpointPolicy.pin(removedIds.fold(inAffected)(ids =>
        inAffected.join(ids, Seq("id"), "left_anti")))
    val repaired =
      if (hasForest(spark, name))
        replacementEdgeRepair(spark, name, survivors, removedIds, removedPairs)
      else {
        val subEdges = spark.table(s"${name}_edges")
          .join(survivors.select(col("id").as("src")), Seq("src"), "left_semi")
        labelsFor(survivors, subEdges)
      }
    // LAZY: the staged write reads the live component table
    family.write(spark, name, "components",
      comp.join(lbl, comp("component") === lbl("_lbl"), "left_anti")
        .unionByName(repaired))
  }

  /** REPLACEMENT-EDGE repair (VERDICT r13 item 1) — the classic
    * dynamic-connectivity step, replacing the r12 design's
    * component-mass CC + Borůvka re-span (230–425 s per cut at the
    * 100× corpus) with tree-bounded work:
    *
    *  1. PIECES: drop the deleted rows from the certificate and run CC
    *     over the surviving forest restricted to the affected
    *     components — V−1 tree rows, never the component's E edges.
    *     Each piece is labeled by its min id.
    *  2. PROBE SIDE: every component's LARGEST piece is exempted; a
    *     crossing edge connects two different pieces of one component,
    *     so at most one endpoint sits in the exempt piece and probing
    *     edges incident to the non-largest pieces is complete. Chosen
    *     by SIZE (not by which piece kept the old label), this is the
    *     true smaller-side bound of dynamic connectivity: cutting a
    *     2-vertex fragment off the min-id side probes 2 vertices'
    *     edges, not the component's, and erasing a component's label
    *     vertex does not degrade the probe to component mass.
    *  3. SPLICE: contract pieces over the crossing edges (batch-sized
    *     merge graph): merged pieces re-witness through ONE
    *     representative edge each ([[graft.algorithms.UnionFind.spanningPairs]],
    *     so the certificate stays a forest); pieces that stay apart are
    *     a TRUE split and take their piece label — which is the min id
    *     of the final component, exactly what a rebuild would say.
    *
    * Writes the forest table (kept rows + replacement splices — the
    * certificate is re-tightened locally, never re-spanned) and returns
    * the repaired (id, component) rows for the caller's label splice.
    */
  private def replacementEdgeRepair(
      spark: SparkSession, name: String, survivors: DataFrame,
      removedIds: Option[DataFrame], removedPairs: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions._
    val comp = readComponents(spark, name)
    val f = readForest(spark, name)
    // certificate rows the delete took: named pairs (edge cut) and any
    // row touching an erased vertex (which must also physically leave —
    // a certificate edge naming an erased subject is retained data).
    // LAZY: read inside the staged forest write below.
    val fMinusPairs = removedPairs.fold(f)(p =>
      f.join(p, Seq("src", "dst"), "left_anti").select(col("src"), col("dst")))
    val keptForest = removedIds.fold(fMinusPairs)(ids =>
      fMinusPairs
        .join(ids.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(ids.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(col("src"), col("dst")))
    // 1. pieces of the affected components under the surviving forest —
    // the src semi-join is complete (a forest edge never crosses a
    // component, and rows touching erased vertices are already gone)
    val forestAff = CheckpointPolicy.pin(keptForest
      .join(survivors.select(col("id").as("src")), Seq("src"), "left_semi")
      .select(col("src"), col("dst")))
    val pieces = CheckpointPolicy.pin(labelsFor(survivors, forestAff)
      .select(col("id"), col("component").as("_piece")))
    // 2. the probe side: all pieces EXCEPT each component's largest
    // (ties broken by piece label — exactly one exempt piece per
    // component, so the incidence probe below stays complete)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("_n").desc, col("_piece"))
    val probePieces = pieces.join(comp, Seq("id"))
      .groupBy(col("component"), col("_piece"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rk", row_number().over(win))
      .filter(col("_rk") > 1)
      .select(col("_piece"))
    val moved = CheckpointPolicy.pin(pieces
      .join(probePieces, Seq("_piece"), "left_semi")
      .select(col("id")))
    val edges = spark.table(s"${name}_edges")
    val mv = broadcastIfSmall(moved)
    val cand = edges
      .join(mv.select(col("id").as("src")), Seq("src"), "left_semi")
      .select(col("src"), col("dst"))
      .unionByName(edges
        .join(mv.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(mv.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    val crossing = cand
      .join(pieces.select(col("id").as("src"), col("_piece").as("_pa")), Seq("src"))
      .join(pieces.select(col("id").as("dst"), col("_piece").as("_pb")), Seq("dst"))
      .filter(col("_pa") =!= col("_pb"))
    // one representative (min canonical) edge per unordered piece pair —
    // piece-pair-sized from here on, bounded by the cut's fragment count
    val rep = CheckpointPolicy.pin(crossing
      .select(least(col("_pa"), col("_pb")).as("_pa"),
        greatest(col("_pa"), col("_pb")).as("_pb"),
        struct(col("src"), col("dst")).as("_e"))
      .groupBy(col("_pa"), col("_pb")).agg(min(col("_e")).as("_e")))
    // 3a. merged labels over the piece graph (min-label = final min id)
    val pieceMerge = graft.algorithms.AlternatingConnectedComponents.minLabels(rep, "_pa", "_pb")
    // 3b. the spanning subset of piece pairs → their representative
    // edges splice into the certificate (adding EVERY crossing pair
    // would bloat it toward pieces² rows; the spanning subset keeps it
    // a forest)
    val spanPieces = graft.algorithms.UnionFind.spanningPairs(rep, "_pa", "_pb")
      .getOrElse(forestOf(rep.select(col("_pa").as("src"), col("_pb").as("dst")))
        .select(col("src").as("_pa"), col("dst").as("_pb")))
    val splice = spanPieces.join(rep, Seq("_pa", "_pb"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
    family.write(spark, name, "forest", keptForest.unionByName(splice))
    val grp = broadcastIfSmall(CheckpointPolicy.pin(pieceMerge
      .select(col("id").as("_piece"), col("component").as("_grp"))))
    pieces.join(grp, Seq("_piece"), "left")
      .select(col("id"), coalesce(col("_grp"), col("_piece")).as("component"))
  }

  /** Broadcast a frame only when it is ACTUALLY small. `broadcast()` is
    * an unconditional hint — it bypasses autoBroadcastJoinThreshold
    * entirely, so hinting an unexpectedly large frame builds the whole
    * hashed relation on the driver (an OOM, not just a slow plan). The
    * explicit row gate is therefore the memory guard; callers pass a
    * PINNED frame so the count is a cheap block scan, not a recompute. */
  private def broadcastIfSmall(df: DataFrame, maxRows: Long = 500000L): DataFrame =
    if (df.count() <= maxRows) org.apache.spark.sql.functions.broadcast(df) else df

  /** Rebuild the degree cache from the stored edge table — the recovery
    * path after a crash between [[appendEdges]]'s two writes. One
    * exchange-free pass (the aggregates key on the bucketed `src`/`dst`
    * — only the full-outer merge shuffles, and only vertex-sized
    * frames). */
  def refreshDegrees(spark: SparkSession, name: String): Unit = family.mutate(spark, name) {
    family.write(spark, name, "degrees", degreesOf(spark.table(s"${name}_edges")))
  }

  /** Build the opt-in maintained PAGERANK table `<name>_ranks` — the
    * lifecycle's first derived ANALYTIC (degrees/components are derived
    * STRUCTURE): one cold power iteration over the stored graph, ranks
    * stored id-bucketed beside the degree table. Appends do NOT advance
    * it per batch (rank is a global fixpoint — every batch would pay
    * full iterations); instead [[refreshRanks]] WARM-STARTS from the
    * stored vector after a batch (or burst) of appends, re-converging
    * in the few rounds the perturbation actually needs rather than the
    * ~10 a cold start pays. The fixpoint of the PageRank system is
    * unique, so warm ≡ cold within the convergence tolerance
    * (GraphAppendSpec pins it; BASELINE.md carries measured round
    * counts). Until refreshed, the stored ranks are the PRE-append
    * ranks — stale the way any materialized analytic is, never silently
    * wrong about what they ranked. Returns the executed round count
    * (as does [[refreshRanks]] — the warm-vs-cold observable). */
  def buildRanks(
      spark: SparkSession, name: String,
      damping: Double = 0.85, maxIterations: Int = 10,
      tolerance: Option[Double] = None): Int = family.mutate(spark, name) {
    val g = readBucketed(spark, name)
    // over the bucketed edge table the routing table is a stored read,
    // so PageRank's keyed pin leaves it unpinned: each round re-reads the
    // bucketed layout with zero exchange instead of a pinned copy
    val pr = graft.algorithms.PageRank(damping, maxIterations, tolerance)
    // PageRank's result is already pinned by its last round; the staged
    // write never reads the live rank table anyway
    family.write(spark, name, "ranks", pr.run(g))
    pr.lastIterations
  }

  /** The maintained rank table: (id, rank), always the result of the
    * last [[buildRanks]]/[[refreshRanks]] over the then-current graph. */
  def readRanks(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_ranks")

  /** Re-converge the maintained ranks after appends, warm-starting from
    * the stored vector: new vertices seed at uniform mass, the vector
    * renormalizes to a distribution, and the iteration stops at
    * `tolerance` — typically 2-3 rounds for a small append vs ~10 cold
    * (BASELINE.md). Converges to the same fixpoint as a cold
    * [[buildRanks]] (unique solution of the linear system), so staleness
    * repair costs rounds ∝ perturbation, not graph history. */
  def refreshRanks(
      spark: SparkSession, name: String,
      damping: Double = 0.85, maxIterations: Int = 10,
      tolerance: Option[Double] = Some(1e-9)): Int = family.mutate(spark, name) {
    val g = readBucketed(spark, name)
    val pr = graft.algorithms.PageRank(damping, maxIterations, tolerance)
    family.write(spark, name, "ranks", pr.runFrom(g, readRanks(spark, name)))
    pr.lastIterations
  }

  /** Streaming face of [[appendEdges]] — continuous edge ingest into the
    * bucketed graph: each micro-batch folds through the same append path,
    * and the `(src, edge_id)` anti-join absorbs `foreachBatch`
    * at-least-once redelivery (a replayed batch appends nothing and
    * advances no degree), so the stored graph holds exactly-once edge
    * contents. Returns the configured writer; callers add
    * `.option("checkpointLocation", ...)` and `.start()`.
    *
    * BLOAT HOOK (opt-in, VERDICT r14 item 4 — the
    * [[graft.similarity.AnnIndex.appendStream]] drift pattern, third
    * instantiation): every component-crossing batch edge joins the
    * certificate, so a long bridge-heavy stream bloats it without bound
    * while [[forestStats]] / [[retightenForestIfBloated]] wait on an
    * operator's memory. `bloatCheckEvery = N` runs the one-row
    * [[forestStats]] pass after every Nth micro-batch (surface, don't
    * decide), hands the row to `bloatListener`, and — when
    * `retightenOnBloat` — compacts through
    * [[retightenForestIfBloated]], so a bridging stream re-tightens
    * itself and a healthy one never rebuilds (GraphAppendSpec pins
    * both). The check keys on the engine's batchId, so a recovery
    * replay keeps the cadence. Retention honesty mirrors the AnnIndex
    * hook: a tripped compaction runs synchronously inside the batch —
    * that micro-batch pays the full [[buildForest]] wall. */
  def appendEdgesStream(
      rawEdges: DataFrame, name: String,
      bloatCheckEvery: Int = 0,
      bloatListener: Option[org.apache.spark.sql.Row => Unit] = None,
      retightenOnBloat: Boolean = false,
      maxRatio: Double = 1.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    family.stream(rawEdges, name) { (batch, batchId) =>
      val spark = batch.sparkSession
      val appended = !batch.isEmpty
      if (appended) appendEdges(spark, name, batch)
      // refreshPending gate (ADVICE r15): while an interrupted refresh
      // holds the marker, the certificate is untrusted — a stats row
      // over it would hand the listener phantom-witness "health" data,
      // and a tripped rebuild would be dropped by the next trusting
      // mutation anyway. Skip the cadence tick; resume once a completed
      // refreshComponents clears the marker.
      val retightened =
        bloatCheckEvery > 0 && (batchId + 1) % bloatCheckEvery == 0 &&
          (bloatListener.nonEmpty || retightenOnBloat) &&
          spark.catalog.tableExists(s"${name}_forest") &&
          !refreshPending(spark, name) && {
            // ONE stats pass serves both the listener and the compaction
            // decision; only an actual rebuild (rare by design) pays the
            // guarded re-read inside retightenForestIfBloated
            val s = forestStats(spark, name).head()
            bloatListener.foreach(_(s))
            retightenOnBloat && s.getAs[Double]("bloat_ratio") > maxRatio &&
              retightenForestIfBloated(spark, name, maxRatio)
          }
      appended || retightened
    }

  /** Streaming face of [[deleteEdges]] — the deletion side of a CDC
    * feed: each micro-batch removes the rows it names through the same
    * idempotent path, so at-least-once redelivery of a delete batch is
    * absorbed (the second arrival matches nothing and pays one key
    * probe, no rewrite). Pair with [[appendEdgesStream]] on a routed
    * CDC stream: inserts to one sink, deletes to this one. */
  def deleteEdgesStream(rawEdges: DataFrame, name: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    family.stream(rawEdges, name) { (batch, _) =>
      !batch.isEmpty && { deleteEdges(batch.sparkSession, name, batch); true }
    }

  /** Ingest a delimited edge-list text file (the SNAP/webgraph exchange
    * format): one `src<delim>dst` pair per line, `#` comment lines
    * skipped, vertex ids of any string form. Runs through the full
    * `Graph.index` path, so ids become deterministic surrogate longs,
    * duplicate edges collapse, and the vertex table is derived from the
    * endpoints. The CSV scan is splittable — a 100 TB edge list reads
    * with full parallelism.
    */
  def readEdgeList(
      spark: SparkSession,
      path: String,
      delimiter: String = "\t",
      directed: Boolean = true): Graph = {
    import org.apache.spark.sql.functions._
    val edges = spark.read
      .option("sep", delimiter)
      .option("comment", "#")
      .csv(path)
      .select(col("_c0").as("src"), col("_c1").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val vertices = edges.select(col("src").as("id"))
      .union(edges.select(col("dst")))
      .distinct()
    Graph.index(vertices, edges, directed)
  }
}
