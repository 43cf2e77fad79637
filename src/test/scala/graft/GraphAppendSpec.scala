package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Graph
import graft.sources.GraphIO

/** The persisted-graph append lifecycle (VERDICT r10 item 3): the
  * `DedupIndex.merge` contract transplanted to `GraphIO` — folding an
  * edge/vertex batch into the bucketed tables is EXACTLY equivalent to
  * re-indexing the whole raw union, on the edge set, the vertex set, the
  * maintained degree cache, and a downstream algorithm (CC). Plus the
  * streaming face's redelivery idempotency and the batch-sized plan
  * shape of the append itself.
  */
class GraphAppendSpec extends SparkSpec {

  private def drop(name: String): Unit = {
    Seq("vertices", "edges", "degrees", "components", "ranks", "forest",
      "refresh_pending")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    spark.sql(s"DROP TABLE IF EXISTS ${name}__epoch")
  }

  /** (file name -> mtime) of a managed table's directory — the
    * "this table was not rewritten" pin. */
  private def tableFiles(table: String): Map[String, Long] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    new java.io.File(s"$wh/$table").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
  }

  private def rawVerts(ids: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def rawEdges(es: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("appendVertices + appendEdges ≡ whole-rebuild on edges, vertices, degrees and CC") {
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("a", "b"))           // dup collapses
    // batch: a new edge, an exact redelivery of a stored edge, an
    // intra-batch duplicate, an edge to a NEW vertex, and an edge with an
    // unknown endpoint (must drop, index's inner-join semantics)
    val v1 = Seq("e", "a")                                      // "a" redelivered
    val e1 = Seq(("c", "d"), ("a", "b"), ("c", "d"), ("d", "e"), ("x", "a"))

    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_g", buckets = 4)
    try {
      GraphIO.appendVertices(spark, "ap_g", rawVerts(v1))
      GraphIO.appendEdges(spark, "ap_g", rawEdges(e1))

      val appended = GraphIO.readBucketed(spark, "ap_g")
      val rebuilt = Graph.index(
        rawVerts(v0 ++ v1), rawEdges(e0 ++ e1), directed = true)

      assert(appended.directed === rebuilt.directed)
      assert(rowSet(appended.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(appended.edges) === rowSet(rebuilt.edges))
      // the "x" edge dropped: c->d, a->b(old), b->c(old), d->e survive
      assert(appended.edges.count() === 4)

      // maintained degree cache == the defining aggregate of the rebuilt
      // edge set (never re-scanned during the append)
      assert(rowSet(GraphIO.readDegrees(spark, "ap_g")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))

      // a downstream algorithm sees the same structure
      val ccA = graft.algorithms.ConnectedComponents().run(appended)
      val ccB = graft.algorithms.ConnectedComponents().run(rebuilt)
      assert(rowSet(ccA) === rowSet(ccB))

      // idempotency: replaying the SAME batches changes nothing
      GraphIO.appendVertices(spark, "ap_g", rawVerts(v1))
      GraphIO.appendEdges(spark, "ap_g", rawEdges(e1))
      val replayed = GraphIO.readBucketed(spark, "ap_g")
      assert(rowSet(replayed.edges) === rowSet(rebuilt.edges))
      assert(rowSet(replayed.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_g")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))

      // crash-recovery face: refreshDegrees rebuilds the same cache
      GraphIO.refreshDegrees(spark, "ap_g")
      assert(rowSet(GraphIO.readDegrees(spark, "ap_g")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop("ap_g")
  }

  test("attributes ride the append: weighted edges + vertex attrs ≡ whole-rebuild") {
    import spark.implicits._
    // raw schemas WITH attributes — the edge_id is a hash of the whole
    // raw row in column order, so an attribute-carrying batch must use
    // the same column order as the original frame (the replay contract)
    val v0 = Seq(("a", 10L), ("b", 20L), ("c", 30L))
    val e0 = Seq(("a", "b", 5L), ("b", "c", 7L))
    val v1 = Seq(("d", 40L))
    // same (a,b) endpoints with a DIFFERENT weight is a DIFFERENT edge
    // (multigraph by content), plus an exact redelivery that must vanish
    val e1 = Seq(("a", "b", 9L), ("b", "c", 7L), ("c", "d", 1L))
    def verts(vs: Seq[(String, Long)]) = vs.toDF("id", "attr")
    def edges(es: Seq[(String, String, Long)]) = es.toDF("src", "dst", "weight")

    GraphIO.writeBucketed(
      Graph.index(verts(v0), edges(e0), directed = true), "ap_attr", buckets = 4)
    try {
      GraphIO.appendVertices(spark, "ap_attr", verts(v1))
      GraphIO.appendEdges(spark, "ap_attr", edges(e1))
      val appended = GraphIO.readBucketed(spark, "ap_attr")
      val rebuilt = Graph.index(
        verts(v0 ++ v1), edges(e0 ++ e1), directed = true)
      assert(rowSet(appended.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(appended.edges) === rowSet(rebuilt.edges))
      // the weight column survived with its values
      assert(appended.edges.columns.contains("weight"))
      assert(appended.edges.agg(sum(col("weight"))).head().getLong(0) ===
        (5L + 7L + 9L + 1L))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_attr")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop("ap_attr")
  }

  test("maintained components: appends merge labels incrementally, ≡ whole-rebuild CC") {
    // two separate chains a-b-c and d-e, plus isolated f
    val v0 = Seq("a", "b", "c", "d", "e", "f")
    val e0 = Seq(("a", "b"), ("b", "c"), ("d", "e"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_c", buckets = 4)
    try {
      GraphIO.buildComponents(spark, "ap_c")
      def expect(vs: Seq[String], es: Seq[(String, String)]): Unit = {
        val rebuilt = Graph.index(rawVerts(vs), rawEdges(es), directed = true)
        assert(rowSet(GraphIO.readComponents(spark, "ap_c")) ===
          rowSet(GraphIO.componentsOf(rebuilt)))
      }
      // built table ≡ CC of the initial graph (incl. the isolated f)
      expect(v0, e0)

      // batch 1: an edge merging the two chains + a redelivered edge —
      // the merge graph has ONE pair, the isolated vertex is untouched
      GraphIO.appendEdges(spark, "ap_c", rawEdges(Seq(("c", "d"), ("a", "b"))))
      expect(v0, e0 ++ Seq(("c", "d")))

      // batch 2: new vertex g (own component), then an edge absorbing it
      GraphIO.appendVertices(spark, "ap_c", rawVerts(Seq("g")))
      expect(v0 :+ "g", e0 ++ Seq(("c", "d")))
      GraphIO.appendEdges(spark, "ap_c", rawEdges(Seq(("g", "f"))))
      expect(v0 :+ "g", e0 ++ Seq(("c", "d"), ("g", "f")))

      // pure redelivery: no merge, table rewrite skipped, labels intact
      GraphIO.appendEdges(spark, "ap_c", rawEdges(Seq(("c", "d"), ("g", "f"))))
      expect(v0 :+ "g", e0 ++ Seq(("c", "d"), ("g", "f")))

      // crash-recovery face rebuilds the same labels
      GraphIO.refreshComponents(spark, "ap_c")
      expect(v0 :+ "g", e0 ++ Seq(("c", "d"), ("g", "f")))
    } finally drop("ap_c")
  }

  test("property: random graphs + random overlapping batches ≡ whole-rebuild") {
    // fixed-seed generative cases (the PropertiesSpec device): random
    // edge multisets over a small universe — self-loops and duplicates
    // arise by chance — split into a base and two batches whose rows
    // OVERLAP the base and each other (redelivery), plus batch vertices
    // that may or may not be new
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val ids = ('a' to 'j').map(_.toString)
      def edge() = (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      val base = Seq.fill(4 + rnd.nextInt(6))(edge())
      val b1 = Seq.fill(1 + rnd.nextInt(4))(edge()) ++ base.take(rnd.nextInt(3))
      val b2 = Seq.fill(1 + rnd.nextInt(4))(edge()) ++ b1.take(rnd.nextInt(2))
      def endpoints(es: Seq[(String, String)]) =
        es.flatMap(e => Seq(e._1, e._2)).distinct
      val name = s"ap_prop$seed"
      GraphIO.writeBucketed(
        Graph.index(rawVerts(endpoints(base)), rawEdges(base), directed = true),
        name, buckets = 4)
      try {
        GraphIO.buildComponents(spark, name)
        for (b <- Seq(b1, b2)) {
          GraphIO.appendVertices(spark, name, rawVerts(endpoints(b)))
          GraphIO.appendEdges(spark, name, rawEdges(b))
        }
        val rebuilt = Graph.index(
          rawVerts(endpoints(base ++ b1 ++ b2)),
          rawEdges(base ++ b1 ++ b2), directed = true)
        val got = GraphIO.readBucketed(spark, name)
        assert(rowSet(got.vertices) === rowSet(rebuilt.vertices), s"seed $seed vertices")
        assert(rowSet(got.edges) === rowSet(rebuilt.edges), s"seed $seed edges")
        assert(rowSet(GraphIO.readDegrees(spark, name)) ===
          rowSet(GraphIO.degreesOf(rebuilt.edges)), s"seed $seed degrees")
        assert(rowSet(GraphIO.readComponents(spark, name)) ===
          rowSet(GraphIO.componentsOf(rebuilt)), s"seed $seed components")
      } finally drop(name)
    }
  }

  test("appendEdges plan shape: batch-sized work, no exchange on the stored sides") {
    val v0 = ('a' to 'j').map(_.toString)
    val e0 = v0.zip(v0.tail).map { case (s, d) => (s, d) }
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_plan", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the exchange count reflects the bucketing
      // story, not tiny-table broadcasting
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val stored = spark.table("ap_plan_edges")
      val v = spark.table("ap_plan_vertices")
      val fresh = Graph.keyEdges(rawEdges(Seq(("a", "c"))))
        .join(v.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(v.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .join(stored.select(col("src"), col("edge_id")),
          Seq("src", "edge_id"), "left_anti")
      fresh.collect()
      val p = fresh.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // every scan of a stored table must ride its write-time bucketing —
      // the planner note "Bucketed: false" means a stored side fell off
      // the zero-exchange path
      assert(!p.contains("Bucketed: false"),
        s"stored sides of the append probe must ride their bucketing:\n$p")
      // and every exchange is on the BATCH side: the keying distinct + 3
      // join alignments = at most 4; any stored-side exchange would push
      // the count past that
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
        s"expected batch-side-only exchanges:\n$p")
      assert(!p.contains("Exchange hashpartitioning(id#"),
        s"vertex table must not re-shuffle on id:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
      drop("ap_plan")
    }
  }

  test("upsertVertexAttrs: matched rows replace attrs wholesale, others keep theirs") {
    import spark.implicits._
    val v0 = Seq(("a", 1L, "x"), ("b", 2L, "y"), ("c", 3L, "z"))
    val e0 = Seq(("a", "b"))
    def verts(vs: Seq[(String, Long, String)]) = vs.toDF("id", "score", "tag")
    GraphIO.writeBucketed(
      Graph.index(verts(v0), rawEdges(e0), directed = true), "ap_up", buckets = 4)
    try {
      // update a and b (b's tag to null — wholesale replace must land it),
      // name an unknown vertex (ignored), leave c untouched
      val batch = Seq(("a", 10L, "x2"), ("b", 20L, null: String), ("nope", 9L, "q"))
        .toDF("id", "score", "tag")
      GraphIO.upsertVertexAttrs(spark, "ap_up", batch)
      val got = GraphIO.readBucketed(spark, "ap_up").vertices
        .select(col("old_id"), col("score"), col("tag"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(got === Set(("a", 10L, "x2"), ("b", 20L, null), ("c", 3L, "z")))

      // structure untouched: degrees unchanged, edges unchanged
      val rebuilt = Graph.index(verts(v0), rawEdges(e0), directed = true)
      assert(rowSet(GraphIO.readDegrees(spark, "ap_up")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))

      // idempotent redelivery
      GraphIO.upsertVertexAttrs(spark, "ap_up", batch)
      val again = GraphIO.readBucketed(spark, "ap_up").vertices
        .select(col("old_id"), col("score"), col("tag"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(again === got)

      // conflicting same-id rows refuse loudly
      val bad = Seq(("a", 1L, "p"), ("a", 2L, "q")).toDF("id", "score", "tag")
      intercept[IllegalArgumentException] {
        GraphIO.upsertVertexAttrs(spark, "ap_up", bad)
      }
    } finally drop("ap_up")
  }

  test("deleteEdges: rebuild-without semantics, idempotent, re-append restores") {
    val v0 = Seq("a", "b", "c", "d", "e")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c"))
    val del = Seq(("b", "c"), ("a", "c"), ("x", "y")) // unknown edge: no-op
    val keptRaw = Seq(("a", "b"), ("c", "d"), ("d", "e"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_del", buckets = 4)
    try {
      GraphIO.buildComponents(spark, "ap_del")
      GraphIO.deleteEdges(spark, "ap_del", rawEdges(del))

      val rebuilt = Graph.index(rawVerts(v0), rawEdges(keptRaw), directed = true)
      val got = GraphIO.readBucketed(spark, "ap_del")
      assert(rowSet(got.edges) === rowSet(rebuilt.edges))
      assert(rowSet(got.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_del")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
      // deletion SPLITS a component here (b->c and a->c both went, so
      // {a,b} and {c,d,e} part ways) — the bounded repair must say
      // exactly what a rebuild-without would
      assert(rowSet(GraphIO.readComponents(spark, "ap_del")) ===
        rowSet(GraphIO.componentsOf(rebuilt)))

      // idempotent: redelivering the delete changes nothing
      GraphIO.deleteEdges(spark, "ap_del", rawEdges(del))
      assert(rowSet(GraphIO.readBucketed(spark, "ap_del").edges) ===
        rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_del")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))

      // a deleted edge is physically gone, so appending it back restores
      // the ORIGINAL graph (content keying gives it the same edge_id) —
      // and the append's label-merge heals the split components too
      GraphIO.appendEdges(spark, "ap_del", rawEdges(Seq(("b", "c"), ("a", "c"))))
      val orig = Graph.index(rawVerts(v0), rawEdges(e0), directed = true)
      assert(rowSet(GraphIO.readBucketed(spark, "ap_del").edges) ===
        rowSet(orig.edges))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_del")) ===
        rowSet(GraphIO.degreesOf(orig.edges)))
      assert(rowSet(GraphIO.readComponents(spark, "ap_del")) ===
        rowSet(GraphIO.componentsOf(orig)))
    } finally drop("ap_del")
  }

  test("deleteVertices: the right-to-be-forgotten cascade ≡ rebuild without the subject") {
    // hub "c" touches most of the graph; deleting it must take every
    // incident edge and the neighbours' degree contributions with it
    val v0 = Seq("a", "b", "c", "d", "e")
    val e0 = Seq(("a", "c"), ("c", "b"), ("c", "c"), ("d", "c"), ("a", "b"), ("d", "e"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_gdpr", buckets = 4)
    try {
      GraphIO.buildComponents(spark, "ap_gdpr")
      GraphIO.deleteVertices(spark, "ap_gdpr", rawVerts(Seq("c", "z")))

      val rebuilt = Graph.index(
        rawVerts(Seq("a", "b", "d", "e")),
        rawEdges(Seq(("a", "b"), ("d", "e"))), directed = true)
      val got = GraphIO.readBucketed(spark, "ap_gdpr")
      assert(rowSet(got.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(got.edges) === rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_gdpr")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
      // the cascade SPLITS the hub's component and erases the subject's
      // own label row — the bounded repair ≡ rebuild-without
      assert(rowSet(GraphIO.readComponents(spark, "ap_gdpr")) ===
        rowSet(GraphIO.componentsOf(rebuilt)))

      // idempotent redelivery
      GraphIO.deleteVertices(spark, "ap_gdpr", rawVerts(Seq("c")))
      assert(rowSet(GraphIO.readBucketed(spark, "ap_gdpr").vertices) ===
        rowSet(rebuilt.vertices))
      assert(rowSet(GraphIO.readComponents(spark, "ap_gdpr")) ===
        rowSet(GraphIO.componentsOf(rebuilt)))

      // the cascade takes the subject's DERIVED rank row too (a rank
      // about an erased vertex is retained data about it)
      GraphIO.buildRanks(spark, "ap_gdpr", maxIterations = 3)
      val cId = Graph.keyVertices(rawVerts(Seq("d"))).select("id").head().getLong(0)
      GraphIO.deleteVertices(spark, "ap_gdpr", rawVerts(Seq("d")))
      assert(GraphIO.readRanks(spark, "ap_gdpr")
        .filter(col("id") === cId).isEmpty,
        "the erased subject's rank row must physically go")
    } finally drop("ap_gdpr")
  }

  test("deleteEdgesStream: CDC deletes apply per micro-batch; redelivery removes nothing") {
    import spark.implicits._
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_ds", buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("ap_ds_ck").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(String, String)]
      val q = GraphIO.deleteEdgesStream(
        stream.toDF().toDF("src", "dst"), "ap_ds")
        .option("checkpointLocation", ckpt).start()
      try {
        stream.addData(("b", "c"))
        q.processAllAvailable()
        // second batch: a redelivered delete + one new delete
        stream.addData(("b", "c"), ("a", "d"))
        q.processAllAvailable()
      } finally q.stop()
      val rebuilt = Graph.index(
        rawVerts(v0), rawEdges(Seq(("a", "b"), ("c", "d"))), directed = true)
      val got = GraphIO.readBucketed(spark, "ap_ds")
      assert(rowSet(got.edges) === rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_ds")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop("ap_ds")
  }

  test("deleteEdges plan shape: stored sides ride their bucketing") {
    val v0 = ('a' to 'j').map(_.toString)
    val e0 = v0.zip(v0.tail)
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_dplan", buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      val stored = spark.table("ap_dplan_edges")
      val keys = Graph.keyEdges(rawEdges(Seq(("a", "b"))))
        .select(col("src"), col("edge_id")).distinct()
      val kept = stored.join(keys, Seq("src", "edge_id"), "left_anti")
      kept.collect()
      val p = kept.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("Bucketed: false"),
        s"the delete anti-join must ride the stored bucketing:\n$p")
      assert(!p.contains("Exchange hashpartitioning(src#") ||
        "Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"stored side must not re-shuffle:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "true")
      drop("ap_dplan")
    }
  }

  test("spanning-forest guard: non-forest deletes skip repair; cuts repair ≡ rebuild-without; appends keep the certificate honest") {
    val v0 = Seq("a", "b", "c", "d", "e")
    // a triangle (one redundant edge) plus a chain of bridges
    val e0 = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
    val name = "ap_forest"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      def canon(e: (String, String)) =
        (math.min(idOf(e._1), idOf(e._2)), math.max(idOf(e._1), idOf(e._2)))
      def forestPairs() = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet

      // certificate invariants: F ⊆ canonical(E), spanning the one component
      val f0 = forestPairs()
      assert(f0.subsetOf(e0.map(canon).toSet), "forest must be a subset of the edges")
      assert(f0.size === 4, "5 connected vertices -> spanning tree of 4 edges")

      // 1) NON-forest delete (the triangle's redundant edge): labels ≡
      // rebuild-without AND the component table was never touched — the
      // guard skipped repair outright
      val nonForest = Seq(("a", "b"), ("b", "c"), ("a", "c"))
        .find(e => !f0.contains(canon(e))).get
      val compBefore = tableFiles(s"${name}_components")
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(nonForest)))
      val e1 = e0.filterNot(_ == nonForest)
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v0), rawEdges(e1), directed = true))))
      assert(tableFiles(s"${name}_components") === compBefore,
        "a non-forest delete must skip component repair entirely")
      assert(forestPairs() === f0, "the certificate is untouched when no forest edge is cut")

      // 2) FOREST cut that splits: d-e is a bridge, necessarily in F
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(("d", "e"))))
      val e2 = e1.filterNot(_ == (("d", "e")))
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v0), rawEdges(e2), directed = true))))
      val f2 = forestPairs()
      assert(f2 === e2.map(canon).toSet,
        "after the cut the 3 surviving edges ARE the spanning forest of {a,b,c,d} + isolated e")

      // 3) append a NEW bridge between the split parts, then cut it again:
      // the certificate must have learned the bridge — otherwise this
      // delete would skip the repair it needs (the missed-repair trap)
      GraphIO.appendEdges(spark, name, rawEdges(Seq(("e", "a"))))
      assert(forestPairs().contains(canon(("e", "a"))),
        "a component-crossing append must join the certificate")
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(
          Graph.index(rawVerts(v0), rawEdges(e2 :+ (("e", "a"))), directed = true))))
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(("e", "a"))))
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v0), rawEdges(e2), directed = true))))
      assert(!forestPairs().contains(canon(("e", "a"))), "the cut edge left the certificate")

      // 4) vertex cascade with the forest maintained: no ghost edges
      GraphIO.deleteVertices(spark, name, rawVerts(Seq("b")))
      val v4 = v0.filterNot(_ == "b")
      val e4 = e2.filterNot(e => e._1 == "b" || e._2 == "b")
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v4), rawEdges(e4), directed = true))))
      assert(forestPairs().subsetOf(e4.map(canon).toSet),
        "no certificate row may reference the erased subject or a removed edge")

      // 5) the burst opt-out drops the certificate WITH the label table
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(e4.head)), repairComponents = false)
      assert(!spark.catalog.tableExists(s"${name}_components"))
      assert(!spark.catalog.tableExists(s"${name}_forest"),
        "a forest kept past its component table would silently go stale")
    } finally drop(name)
  }

  test("replacement-edge repair: a cut with a surviving re-cross splices one edge, never relabels") {
    // 4-cycle: the certificate holds 3 of the 4 edges; cutting a
    // certificate edge leaves the 4th as the replacement — the repair
    // must splice it in (|F| back to V−1), keep ONE component, and say
    // exactly what a rebuild-without would
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val name = "ap_replace"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      def canon(e: (String, String)) =
        (math.min(idOf(e._1), idOf(e._2)), math.max(idOf(e._1), idOf(e._2)))
      def forestPairs() = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
      val f0 = forestPairs()
      assert(f0.size === 3, "4-cycle spans with 3 certificate edges")
      val cut = e0.find(e => f0.contains(canon(e))).get
      val spare = e0.find(e => !f0.contains(canon(e))).get
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(cut)))
      val e1 = e0.filterNot(_ == cut)
      // labels ≡ rebuild-without: still one component (the spare edge
      // re-crosses the cut), so no vertex moved
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v0), rawEdges(e1), directed = true))))
      assert(GraphIO.readComponents(spark, name)
        .select(col("component")).distinct().count() === 1)
      // the certificate spliced the replacement: the cut pair left, the
      // spare pair entered, |F| is back to V−1 = 3 (a forest, not a bag)
      val f1 = forestPairs()
      assert(!f1.contains(canon(cut)), "the cut pair must leave the certificate")
      assert(f1.contains(canon(spare)), "the surviving re-cross is the spliced witness")
      assert(f1.size === 3, "replacement splice keeps |F| = V − C")
      assert(f1.subsetOf(e1.map(canon).toSet), "certificate rows are live edges")
    } finally drop(name)
  }

  test("forestStats + retightenForestIfBloated: appends bloat the certificate, compaction re-tightens") {
    // three singleton components bridged pairwise in ONE batch: all
    // three crossing pairs join the certificate (conservative append),
    // but a spanning forest needs only two — bloat_ratio = 3/2
    val v0 = Seq("a", "b", "c")
    val e0 = Seq.empty[(String, String)]
    val name = "ap_bloat"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      val s0 = GraphIO.forestStats(spark, name).head()
      assert(s0.getAs[Long]("forest_rows") === 0L)
      assert(s0.getAs[Long]("spanning_bound") === 0L)
      GraphIO.appendEdges(spark, name,
        rawEdges(Seq(("a", "b"), ("b", "c"), ("a", "c"))))
      val s1 = GraphIO.forestStats(spark, name).head()
      assert(s1.getAs[Long]("forest_rows") === 3L,
        "every component-crossing batch edge joins the certificate")
      assert(s1.getAs[Long]("component_count") === 1L)
      assert(s1.getAs[Long]("spanning_bound") === 2L)
      assert(s1.getAs[Double]("bloat_ratio") === 1.5)
      // under the threshold: no rebuild ran
      assert(!GraphIO.retightenForestIfBloated(spark, name, maxRatio = 2.0))
      assert(GraphIO.forestStats(spark, name).head()
        .getAs[Long]("forest_rows") === 3L)
      // over the threshold: compaction restores |F| ≤ V − C, and the
      // certificate still guards — a cut of a (fresh) forest edge
      // repairs to exactly rebuild-without semantics
      assert(GraphIO.retightenForestIfBloated(spark, name, maxRatio = 1.2))
      val s2 = GraphIO.forestStats(spark, name).head()
      assert(s2.getAs[Long]("forest_rows") === 2L)
      assert(s2.getAs[Double]("bloat_ratio") === 1.0)
      val f2 = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      def canon(e: (String, String)) =
        (math.min(idOf(e._1), idOf(e._2)), math.max(idOf(e._1), idOf(e._2)))
      val cut = Seq(("a", "b"), ("b", "c"), ("a", "c"))
        .find(e => f2.contains(canon(e))).get
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(cut)))
      val e1 = Seq(("a", "b"), ("b", "c"), ("a", "c")).filterNot(_ == cut)
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v0), rawEdges(e1), directed = true))))
    } finally drop(name)
  }

  test("forest probe plan: the batch side broadcasts, the certificate never shuffles") {
    import org.apache.spark.sql.functions.{least, greatest}
    val v0 = ('a' to 'j').map(_.toString)
    val e0 = v0.zip(v0.tail) ++ Seq(("a", "c"), ("b", "d"))
    val name = "ap_fplan"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      // the deleteEdges forestSkip probe, verbatim: batch-sized
      // canonical pairs semi-joined against the V-sized certificate
      val removed = Graph.keyEdges(rawEdges(Seq(("a", "c"))))
        .select(col("src"), col("dst")).localCheckpoint()
      val probe = GraphIO.readForest(spark, name).join(
        removed.select(
          least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct(),
        Seq("src", "dst"), "left_semi")
      probe.collect()
      val p = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("BroadcastHashJoin"),
        s"the batch side must broadcast into the certificate scan:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the V-sized certificate must never shuffle for a batch probe:\n$p")
    } finally drop(name)
  }

  test("fast-erase: a non-label forest-leaf vertex delete drops rows without CC; hub delete still repairs") {
    // star around hub "a" (the smallest id -> the component label) plus
    // a redundant leaf-leaf edge so the certificate is a strict subset
    val v0 = Seq("a", "b", "c", "d", "e")
    val e0 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("d", "e"))
    val name = "ap_fasterase"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      // sanity: "a" is the label of the single component
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      val hubIsMin = idOf("a") == idOf.values.min
      // pick a leaf whose certificate degree is 1: "b" and "c" qualify
      // regardless of which d-e edge Borůvka chose (their only edge is
      // to the hub)
      GraphIO.deleteVertices(spark, name, rawVerts(Seq("b")))
      if (hubIsMin) {
        assert(GraphIO.lastVertexDeleteFastPath,
          "a non-label certificate leaf must take the row-drop path")
      }
      val v1 = v0.filterNot(_ == "b")
      val e1 = e0.filterNot(e => e._1 == "b" || e._2 == "b")
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v1), rawEdges(e1), directed = true))))
      // certificate: no row references the erased subject, still spans
      val f1 = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
      assert(!f1.exists(p => p._1 == idOf("b") || p._2 == idOf("b")))
      // the HUB is the component label AND a certificate interior — the
      // cascade must run the full bounded repair, not the fast path
      GraphIO.deleteVertices(spark, name, rawVerts(Seq("a")))
      assert(!GraphIO.lastVertexDeleteFastPath,
        "a label / interior vertex must take the repair path")
      val v2 = v1.filterNot(_ == "a")
      val e2 = e1.filterNot(e => e._1 == "a" || e._2 == "a") // d-e survives
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(rawVerts(v2), rawEdges(e2), directed = true))))
    } finally drop(name)
  }

  test("property: component repair under random deletes ≡ rebuild-without, always") {
    // the bounded-repair contract stressed generatively: random base
    // graphs, then a random mix of edge deletes (splitting or not) and
    // vertex cascades, checking the maintained label table against a
    // full rebuild after EVERY mutation
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(100 + seed)
      val ids = ('a' to 'j').map(_.toString)
      def edge() = (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      var edges = Seq.fill(8 + rnd.nextInt(8))(edge()).distinct
      var verts = ids
      val name = s"ap_rdel$seed"
      GraphIO.writeBucketed(
        Graph.index(rawVerts(verts), rawEdges(edges), directed = true),
        name, buckets = 4)
      try {
        GraphIO.buildComponents(spark, name)
        // odd seeds also maintain the spanning-forest guard, so the
        // random mutation mix exercises skip, cut-repair and cascade
        // paths with the certificate live
        if (seed % 2 == 1) GraphIO.buildForest(spark, name)
        for (_ <- 1 to 3) {
          if (rnd.nextBoolean() && edges.nonEmpty) {
            val del = rnd.shuffle(edges).take(1 + rnd.nextInt(2))
            GraphIO.deleteEdges(spark, name, rawEdges(del ++ Seq(("zz", "zz"))))
            edges = edges.filterNot(del.contains)
          } else if (verts.size > 2) {
            val v = verts(rnd.nextInt(verts.size))
            GraphIO.deleteVertices(spark, name, rawVerts(Seq(v)))
            verts = verts.filterNot(_ == v)
            edges = edges.filterNot(e => e._1 == v || e._2 == v)
          }
          val rebuilt = Graph.index(rawVerts(verts), rawEdges(edges), directed = true)
          assert(rowSet(GraphIO.readComponents(spark, name)) ===
            rowSet(GraphIO.componentsOf(rebuilt)), s"seed $seed labels")
          assert(rowSet(GraphIO.readDegrees(spark, name)) ===
            rowSet(GraphIO.degreesOf(rebuilt.edges)), s"seed $seed degrees")
          if (seed % 2 == 1) {
            // certificate validity: F ⊆ canonical(E) and F spans the
            // SAME partition as the graph (min-id labels equal exactly)
            val f = GraphIO.readForest(spark, name)
            val canonStored = rebuilt.edges.select(
              least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst")).distinct()
            assert(f.join(canonStored, Seq("src", "dst"), "left_anti").isEmpty,
              s"seed $seed: certificate rows must be stored edges")
            val fGraph = Graph(rebuilt.vertices,
              f.withColumn("edge_id", xxhash64(col("src"), col("dst"))),
              directed = false)
            assert(rowSet(GraphIO.componentsOf(fGraph)) ===
              rowSet(GraphIO.componentsOf(rebuilt)),
              s"seed $seed: certificate must span the graph's components")
          }
        }
      } finally drop(name)
    }
  }

  test("cascade crash recovery: redelivery completes a vertex delete whose edge half already ran") {
    // the state a crash between deleteVertices' edge rewrite and its
    // vertex swap leaves behind = incident edges gone, vertex row (and
    // its component/rank rows) still present; the redelivered cascade
    // must finish the job, because the no-op guard keys on VERTEX
    // presence and the vertex swap is ordered LAST
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "c"), ("c", "b"), ("a", "d"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_crash", buckets = 4)
    try {
      GraphIO.buildComponents(spark, "ap_crash")
      // simulate the half-committed cascade
      GraphIO.deleteEdges(spark, "ap_crash", rawEdges(Seq(("a", "c"), ("c", "b"))))
      // redelivered full cascade
      GraphIO.deleteVertices(spark, "ap_crash", rawVerts(Seq("c")))
      val rebuilt = Graph.index(
        rawVerts(Seq("a", "b", "d")), rawEdges(Seq(("a", "d"))), directed = true)
      assert(rowSet(GraphIO.readBucketed(spark, "ap_crash").vertices) ===
        rowSet(rebuilt.vertices))
      assert(rowSet(GraphIO.readBucketed(spark, "ap_crash").edges) ===
        rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readComponents(spark, "ap_crash")) ===
        rowSet(GraphIO.componentsOf(rebuilt)))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_crash")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop("ap_crash")
  }

  test("delete burst opt-out: repairComponents=false drops the table loudly; rebuild recovers") {
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_burst", buckets = 4)
    try {
      GraphIO.buildComponents(spark, "ap_burst")
      // a burst of two deletes with repair deferred: no per-batch CC,
      // the label table is GONE (stale would be worse), degrees exact
      GraphIO.deleteEdges(spark, "ap_burst", rawEdges(Seq(("b", "c"))),
        repairComponents = false)
      assert(!spark.catalog.tableExists("ap_burst_components"))
      GraphIO.deleteEdges(spark, "ap_burst", rawEdges(Seq(("c", "d"))),
        repairComponents = false)
      val rebuilt = Graph.index(rawVerts(v0), rawEdges(Seq(("a", "b"))), directed = true)
      assert(rowSet(GraphIO.readDegrees(spark, "ap_burst")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
      // one rebuild after the burst restores the maintained table
      GraphIO.buildComponents(spark, "ap_burst")
      assert(rowSet(GraphIO.readComponents(spark, "ap_burst")) ===
        rowSet(GraphIO.componentsOf(rebuilt)))
    } finally drop("ap_burst")
  }

  test("maintained ranks: warm restart after an append ≡ cold rebuild within tolerance") {
    // a chain plus a disconnected pair; the append attaches the pair —
    // a real perturbation, not a no-op
    val v0 = Seq("a", "b", "c", "d", "e", "f")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"))
    val tol = 1e-10
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_rank", buckets = 4)
    try {
      GraphIO.buildRanks(spark, "ap_rank", maxIterations = 60, tolerance = Some(tol))
      val before = GraphIO.readRanks(spark, "ap_rank")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      GraphIO.appendEdges(spark, "ap_rank", rawEdges(Seq(("d", "e"))))
      // stored ranks are the PRE-append vector until refreshed (stale,
      // not wrong): unchanged by the append itself
      val stale = GraphIO.readRanks(spark, "ap_rank")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(stale === before)

      GraphIO.refreshRanks(spark, "ap_rank",
        maxIterations = 60, tolerance = Some(tol))
      val warm = GraphIO.readRanks(spark, "ap_rank")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      val rebuilt = Graph.index(
        rawVerts(v0), rawEdges(e0 :+ ("d", "e")), directed = true)
      val cold = graft.algorithms.PageRank(
        maxIterations = 60, tolerance = Some(tol)).run(rebuilt)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      assert(warm.keySet === cold.keySet)
      // unique fixpoint: both stopped within tol of it, so they agree
      // to a small multiple of tol
      warm.foreach { case (id, r) =>
        assert(math.abs(r - cold(id)) < 50 * tol, s"vertex $id warm=$r cold=${cold(id)}")
      }
      // mass conserved
      assert(math.abs(warm.values.sum - 1.0) < 1e-6)
    } finally drop("ap_rank")
  }

  test("PageRank.runFrom with the uniform vector ≡ run, bit for bit") {
    import spark.implicits._
    val g = Graph.index(
      rawVerts(Seq("a", "b", "c", "d")),
      rawEdges(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))),
      directed = true)
    val n = 4.0
    val uniform = g.vertices.select(col("id"), lit(1.0 / n).as("rank"))
    val pr = graft.algorithms.PageRank(maxIterations = 5)
    val a = pr.run(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = pr.runFrom(g, uniform).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the seeded vector normalizes to exactly the uniform start (sum is
    // exactly 1.0 in binary for n=4), so every round replays identically
    assert(a === b)
  }

  test("appendEdgesStream: micro-batches fold in; redelivery appends nothing") {
    import spark.implicits._
    val v0 = Seq("a", "b", "c", "d", "e")
    val e0 = Seq(("a", "b"))
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), "ap_s", buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("ap_s_ck").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(String, String)]
      val q = GraphIO.appendEdgesStream(
        stream.toDF().toDF("src", "dst"), "ap_s")
        .option("checkpointLocation", ckpt).start()
      try {
        stream.addData(("b", "c"), ("c", "d"))
        q.processAllAvailable()
        // second batch: one genuinely new edge + one redelivered
        stream.addData(("c", "d"), ("d", "e"))
        q.processAllAvailable()
      } finally q.stop()

      val rebuilt = Graph.index(
        rawVerts(v0),
        rawEdges(e0 ++ Seq(("b", "c"), ("c", "d"), ("d", "e"))), directed = true)
      val got = GraphIO.readBucketed(spark, "ap_s")
      assert(rowSet(got.edges) === rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readDegrees(spark, "ap_s")) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop("ap_s")
  }

  test("refreshLabels: labels-only rebuild leaves a trusted certificate untouched and valid") {
    // 4-cycle: certificate = 3 of the 4 edges; the scoped refresh must
    // rebuild labels without paying (or touching) the certificate, and
    // the untouched certificate must still guard a subsequent cut
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val name = "ap_rlab"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      val fBefore = tableFiles(s"${name}_forest")
      GraphIO.refreshLabels(spark, name)
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(
          Graph.index(rawVerts(v0), rawEdges(e0), directed = true))))
      assert(tableFiles(s"${name}_forest") === fBefore,
        "a labels-only refresh must not rebuild the certificate")
      assert(!GraphIO.refreshPending(spark, name),
        "the scoped face never opens the pending window")
      // the untouched certificate still guards: cut one of its edges,
      // the repair must say exactly what a rebuild-without would
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      def canon(e: (String, String)) =
        (math.min(idOf(e._1), idOf(e._2)), math.max(idOf(e._1), idOf(e._2)))
      val f0 = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
      val cut = e0.find(e => f0.contains(canon(e))).get
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(cut)))
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(Graph.index(
          rawVerts(v0), rawEdges(e0.filterNot(_ == cut)), directed = true))))
    } finally drop(name)
  }

  test("interrupted refresh: the pending marker distrusts the certificate until refreshComponents completes") {
    val v0 = Seq("a", "b", "c", "d")
    val e0 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    val name = "ap_rpend"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      // simulate the crash window: a refreshComponents that died between
      // the label rebuild and the certificate rebuild leaves the marker
      GraphIO.setRefreshPending(spark, name)
      assert(GraphIO.refreshPending(spark, name))
      // the labels-only face refuses — it would bless a possibly-phantom
      // certificate
      intercept[IllegalArgumentException] {
        GraphIO.refreshLabels(spark, name)
      }
      // the bloat meter short-circuits too (ADVICE r15): while pending,
      // the certificate's stats would count phantom witnesses, and a
      // tripped rebuild would be dropped by the next trusting mutation —
      // no rebuild must run, and the table must be left untouched
      val fFiles = tableFiles(s"${name}_forest")
      assert(!GraphIO.retightenForestIfBloated(spark, name, maxRatio = 0.0),
        "retighten must refuse to meter an untrusted certificate")
      assert(tableFiles(s"${name}_forest") === fFiles,
        "a pending-window retighten call must not touch the certificate")
      // a delete drops the untrusted certificate loudly and repairs
      // certificate-less — labels still ≡ rebuild-without
      val idOf = Graph.keyVertices(rawVerts(v0)).collect()
        .map(r => r.getAs[String]("old_id") -> r.getAs[Long]("id")).toMap
      def canon(e: (String, String)) =
        (math.min(idOf(e._1), idOf(e._2)), math.max(idOf(e._1), idOf(e._2)))
      val f0 = GraphIO.readForest(spark, name).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
      val cut = e0.find(e => f0.contains(canon(e))).get
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(cut)))
      assert(!spark.catalog.tableExists(s"${name}_forest"),
        "a mutation must drop an untrusted certificate, not consult it")
      val e1 = e0.filterNot(_ == cut)
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(
          Graph.index(rawVerts(v0), rawEdges(e1), directed = true))))
      assert(GraphIO.refreshPending(spark, name),
        "dropping the certificate does not restore trust in the labels half")
      // the documented cure clears the marker (the certificate itself is
      // rebuilt separately once wanted — it was dropped above)
      GraphIO.refreshComponents(spark, name)
      assert(!GraphIO.refreshPending(spark, name))
      GraphIO.buildForest(spark, name)
      val s = GraphIO.forestStats(spark, name).head()
      assert(s.getAs[Double]("bloat_ratio") === 1.0)
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(
          Graph.index(rawVerts(v0), rawEdges(e1), directed = true))))
    } finally drop(name)
  }

  test("appendEdgesStream bloat hook: a bridging stream trips compaction; a healthy stream never does") {
    import spark.implicits._
    // three singleton components; one bridging batch adds all three
    // crossing pairs to the certificate (bound 2 -> ratio 1.5)
    val v0 = Seq("a", "b", "c")
    val name = "ap_bshook"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(Seq.empty), directed = true), name, buckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("ap_bs_ck").toString
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(String, String)]
      val seen = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val q = GraphIO.appendEdgesStream(
        stream.toDF().toDF("src", "dst"), name,
        bloatCheckEvery = 1,
        bloatListener = Some(r => seen.synchronized { seen += r }),
        retightenOnBloat = true, maxRatio = 1.2)
        .option("checkpointLocation", ckpt).start()
      try {
        stream.addData(("a", "b"), ("b", "c"), ("a", "c"))
        q.processAllAvailable()
        // the hook saw the PRE-compaction bloat and compacted in-batch
        assert(seen.synchronized(seen.nonEmpty))
        assert(seen.synchronized(seen.head).getAs[Double]("bloat_ratio") === 1.5)
        val s1 = GraphIO.forestStats(spark, name).head()
        assert(s1.getAs[Long]("forest_rows") === 2L)
        assert(s1.getAs[Double]("bloat_ratio") === 1.0)
        // healthy batch: a NEW intra-component edge adds no certificate
        // row — the hook reports 1.0 and must NOT rebuild
        val fFiles = tableFiles(s"${name}_forest")
        val nSeen = seen.synchronized(seen.size)
        stream.addData(("b", "a"))
        q.processAllAvailable()
        assert(seen.synchronized(seen.size) > nSeen)
        assert(seen.synchronized(seen.last).getAs[Double]("bloat_ratio") === 1.0)
        assert(tableFiles(s"${name}_forest") === fFiles,
          "a healthy stream must never pay the compaction rebuild")
      } finally q.stop()
      // the stream's maintained state is still ≡ whole-rebuild
      val rebuilt = Graph.index(rawVerts(v0),
        rawEdges(Seq(("a", "b"), ("b", "c"), ("a", "c"), ("b", "a"))), directed = true)
      assert(rowSet(GraphIO.readBucketed(spark, name).edges) === rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(rebuilt)))
    } finally drop(name)
  }

  test("writeBucketed(readBucketed(name), name) compacts a fragmented store in place") {
    val v0 = Seq("a", "b", "c", "d", "e")
    val e0 = Seq(("a", "b"), ("b", "c"))
    val more = Seq(("c", "d"), ("d", "e"))
    val name = "ap_compact"
    GraphIO.writeBucketed(
      Graph.index(rawVerts(v0), rawEdges(e0), directed = false), name, buckets = 4)
    try {
      // each append adds its own files to the bucketed tables
      more.foreach(e => GraphIO.appendEdges(spark, name, rawEdges(Seq(e))))
      // the rewrite reads the very tables it replaces
      GraphIO.writeBucketed(GraphIO.readBucketed(spark, name), name, buckets = 4)
      val rebuilt = Graph.index(rawVerts(v0), rawEdges(e0 ++ more), directed = false)
      val got = GraphIO.readBucketed(spark, name)
      assert(got.directed === rebuilt.directed)
      assert(rowSet(got.vertices) === rowSet(rebuilt.vertices))
      assert(rowSet(got.edges) === rowSet(rebuilt.edges))
      assert(rowSet(GraphIO.readDegrees(spark, name)) ===
        rowSet(GraphIO.degreesOf(rebuilt.edges)))
    } finally drop(name)
  }

  test("writeBucketed drops the old graph's derived tables; rebuilt labels stay exact under appends") {
    val name = "ap_rewrite"
    GraphIO.writeBucketed(Graph.index(rawVerts(Seq("a", "b", "c", "d")),
      rawEdges(Seq(("a", "b"), ("b", "c"), ("c", "d"))), directed = true), name, buckets = 4)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      GraphIO.buildRanks(spark, name, maxIterations = 3)
      // a different graph, at a different bucket count, under the same name
      val v1 = Seq("a", "b", "c", "d", "e", "f")
      val e1 = Seq(("a", "b"), ("e", "f"))
      GraphIO.writeBucketed(
        Graph.index(rawVerts(v1), rawEdges(e1), directed = true), name, buckets = 2)
      Seq("components", "forest", "ranks").foreach { t =>
        assert(!spark.catalog.tableExists(s"${name}_$t"),
          s"${name}_$t describes the old graph and must not survive the rewrite")
      }
      GraphIO.buildComponents(spark, name)
      val add = Seq(("b", "c"), ("d", "e"))
      GraphIO.appendEdges(spark, name, rawEdges(add))
      assert(rowSet(GraphIO.readComponents(spark, name)) ===
        rowSet(GraphIO.componentsOf(
          Graph.index(rawVerts(v1), rawEdges(e1 ++ add), directed = true))))
    } finally drop(name)
  }

  test("every table of a family keeps the layout's bucket spec through the whole lifecycle") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    val name = "ap_layout"
    def verts(vs: Seq[(String, Long)]) = vs.toDF("id", "score")
    GraphIO.writeBucketed(Graph.index(
      verts(Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L))),
      rawEdges(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"))),
      directed = true), name, buckets = 3)
    try {
      GraphIO.buildComponents(spark, name)
      GraphIO.buildForest(spark, name)
      GraphIO.buildRanks(spark, name, maxIterations = 3)
      GraphIO.appendVertices(spark, name, verts(Seq(("f", 6L), ("g", 7L))))
      GraphIO.appendEdges(spark, name, rawEdges(Seq(("e", "f"), ("c", "d"))))
      GraphIO.upsertVertexAttrs(spark, name, verts(Seq(("a", 10L))))
      GraphIO.deleteEdges(spark, name, rawEdges(Seq(("a", "b"))))
      GraphIO.deleteVertices(spark, name, verts(Seq(("g", 7L))).select(col("id")))
      val family = spark.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith(s"${name}_") && !t.endsWith("__epoch")).toSet
      assert(family === GraphIO.layout.keySet.map(t => s"${name}_$t"))
      GraphIO.layout.foreach { case (t, key) =>
        val spec = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(s"${name}_$t")).bucketSpec
        assert(spec === Some(BucketSpec(3, Seq(key), Seq(key))), s"${name}_$t")
      }
    } finally drop(name)
  }
}
