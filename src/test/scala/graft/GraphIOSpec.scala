package graft

import graft.algorithms.PageRank
import graft.dedup.DedupIndex
import graft.similarity.AnnIndex
import graft.sources.{GraphIO, StoreFamily}

class GraphIOSpec extends SparkSpec {

  test("graph parquet round-trip preserves frames and directedness") {
    val g = Fixtures.sample1(spark, directed = false)
    val path = java.nio.file.Files.createTempDirectory("graftio").toString + "/g1"
    GraphIO.write(g, path, partitionByKey = true)
    val back = GraphIO.read(spark, path)
    assert(back.directed === g.directed)
    assert(rowSet(back.vertices) === rowSet(g.vertices))
    assert(rowSet(back.edges) === rowSet(g.edges))
  }

  test("bucketed edges: round-trip + src self-join runs with NO exchange") {
    import org.apache.spark.sql.functions._
    val g = Fixtures.sample1(spark, directed = true)
    GraphIO.writeBucketed(g, "bk_g1", buckets = 4)
    try {
      val back = GraphIO.readBucketed(spark, "bk_g1")
      assert(back.directed === g.directed)
      assert(rowSet(back.vertices) === rowSet(g.vertices))
      assert(rowSet(back.edges) === rowSet(g.edges))
      // the payoff: a src-keyed self-join over the bucketed table plans
      // ZERO shuffles — the write-time bucketing is the exchange
      val e = back.edges.select(col("src"), col("dst"))
      val joined = e.as("a").join(e.as("b"), "src")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed src join must not shuffle:\n$p")
      // and a src-keyed aggregation doesn't shuffle either
      val agg = back.edges.groupBy(col("src")).count()
      agg.collect()
      val p2 = agg.queryExecution.executedPlan.toString
      assert(!p2.contains("Exchange hashpartitioning"),
        s"bucketed src aggregation must not shuffle:\n$p2")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_g1_edges")
      spark.sql("DROP TABLE IF EXISTS bk_g1_vertices")
      spark.sql("DROP TABLE IF EXISTS bk_g1_degrees")
    }
  }

  test("PageRank over a bucketed edge table: routes build plans ZERO exchange, ranks match") {
    import org.apache.spark.sql.functions._
    val g = Fixtures.sample1(spark, directed = true)
    GraphIO.writeBucketed(g, "bk_pr", buckets = 4)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the exchange count below reflects the
      // partitioning story, not tiny-table broadcasting
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val back = GraphIO.readBucketed(spark, "bk_pr")
      val pr = PageRank(maxIterations = 8)

      // the whole routes build (out-degree agg + src-keyed join) reuses
      // the write-time bucketing: no exchange anywhere in the plan
      val r = pr.routes(back)
      r.collect()
      val p = r.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed routes build must not shuffle:\n$p")

      // the per-round message join with the routes as PageRank pins
      // them: a keyed pin of a stored read (file leaves, no exchange,
      // already hash-partitioned on src) returns the frame UNPINNED, so
      // the routes side re-reads the bucketed table with no exchange,
      // and — since writeBucketed buckets the VERTICES by id with the
      // same bucket count — the rank side is already co-partitioned with
      // the src-bucketed routes, so a round costs exactly ONE exchange:
      // the inherent message groupBy(dst). NONE on the (100 TB-sized)
      // edge routing table, none on the rank side. Copying the table into
      // a keyed pin would plan the same one exchange; an unkeyed pin
      // reports UnknownPartitioning under AQE and brings the src exchange
      // back into every round.
      val unpinned = pr.routes(back)
      val routes2 = graft.core.CheckpointPolicy.pin(unpinned, Some("src"))
      assert(routes2 eq unpinned, "a keyed pin of the bucketed routes must not copy them")
      val rank = back.vertices.select(col("id"), lit(1.0).as("rank"))
      val contrib = rank.join(routes2, rank("id") === routes2("src"))
        .groupBy(col("dst")).agg(sum(col("rank") * col("_share")).as("_in"))
      contrib.collect()
      // AQE prints Final + Initial plans; count the executed (final) one
      val pc = contrib.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert("Exchange hashpartitioning".r.findAllIn(pc).size === 1,
        s"bucketed round = the message exchange only:\n$pc")

      // end to end: bucketed-run ranks equal the plain-run ranks
      val a = pr.run(back).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      val b = pr.run(g).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(a.keySet === b.keySet)
      a.foreach { case (id, v) => assert(math.abs(v - b(id)) < 1e-12, s"id $id") }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS bk_pr_edges")
      spark.sql("DROP TABLE IF EXISTS bk_pr_vertices")
      spark.sql("DROP TABLE IF EXISTS bk_pr_degrees")
    }
  }

  test("stagedOverwrite recovery: a pending rename is completed, not deleted") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = "so_crash_t"
    Seq(s"$t", s"${t}__staged").foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    try {
      // simulate the crash window of a prior mutation: the replacement
      // fully committed to __staged, the live table already dropped,
      // the rename never issued — __staged is the ONLY copy
      Seq(10L, 20L, 30L).toDF("x").write.saveAsTable(s"${t}__staged")
      // the retry's write derives its contents FROM the live table —
      // exactly the read that blind staged-clearing would break twice
      // over (staged copy destroyed AND the source table missing)
      graft.sources.CatalogTables.stagedOverwrite(spark, t) { staged =>
        spark.table(t).select((col("x") + 1).as("x"))
          .localCheckpoint().write.saveAsTable(staged)
      }
      assert(spark.table(t).collect().map(_.getLong(0)).toSet === Set(11L, 21L, 31L))
      assert(!spark.catalog.tableExists(s"${t}__staged"))
    } finally
      Seq(s"$t", s"${t}__staged").foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
  }

  /** A persisted store under the family epoch-guard check: its table
    * family, a `create` that commits the first generation, a `commit`
    * that runs one real mutation (one generation per call), and the
    * table an in-flight mutation tries to replace. */
  private case class GuardedStore(
      name: String, family: StoreFamily, table: String,
      create: () => Unit, commit: () => Unit)

  private def checkEpochGuard(store: GuardedStore): Unit = {
    import graft.sources.CatalogTables
    val name = store.name
    val table = s"${name}_${store.table}"
    store.family.drop(spark, name)
    try {
      store.create()
      assert(CatalogTables.familyEpoch(spark, name) === 1L,
        "initial build must advance the family from generation 0")
      store.commit()
      assert(CatalogTables.familyEpoch(spark, name) === 2L,
        "every committed mutation bumps exactly once")
      // SECOND WRITER: while a guarded mutation is in flight, another
      // process commits (emulated by advancing the generation directly,
      // exactly what its final bump would do). The in-flight mutation's
      // next staged swap must abort BEFORE clobbering that commit.
      val before = rowSet(spark.table(table))
      val ex = intercept[java.util.ConcurrentModificationException] {
        store.family.mutate(spark, name) {
          spark.sql(
            s"ALTER TABLE `${name}__epoch` SET TBLPROPERTIES('graft.epoch' = '3')")
          store.family.write(spark, name, store.table, spark.table(table).limit(0))
        }
      }
      assert(ex.getMessage.contains("another writer"))
      assert(rowSet(spark.table(table)) === before,
        "the aborted mutation must not have touched the data tables")
      assert(CatalogTables.familyEpoch(spark, name) === 3L,
        "the surviving writer's generation stands; the aborted one never bumped")
      // an INSERT-only mutation (no staged swap to check at) is caught
      // by the final check-and-bump instead
      val ex2 = intercept[java.util.ConcurrentModificationException] {
        store.family.mutate(spark, name) {
          spark.sql(
            s"ALTER TABLE `${name}__epoch` SET TBLPROPERTIES('graft.epoch' = '9')")
        }
      }
      assert(ex2.getMessage.contains("another writer"))
      // and a clean guarded mutation still commits + bumps afterwards
      store.commit()
      assert(CatalogTables.familyEpoch(spark, name) === 10L)
    } finally store.family.drop(spark, name)
  }

  test("family epoch guard: mutations bump the generation; a concurrent commit aborts, tables intact") {
    val name = "epoch_g1"
    checkEpochGuard(GuardedStore(name, GraphIO.family, "degrees",
      create = () => GraphIO.writeBucketed(Fixtures.sample1(spark, directed = true), name, buckets = 4),
      commit = () => GraphIO.refreshDegrees(spark, name)))
  }

  test("family epoch guard, dedup store: mergeBucketed bumps once; a concurrent commit aborts, tables intact") {
    import spark.implicits._
    val name = "epoch_d1"
    val next = new java.util.concurrent.atomic.AtomicLong(100L)
    def doc(id: Long) = Seq((id, s"document number $id about a topic of its own")).toDF("doc_id", "text")
    checkEpochGuard(GuardedStore(name, DedupIndex.family, "shingles",
      create = () => DedupIndex.writeBucketed(
        DedupIndex.build(doc(1L).unionByName(doc(2L)), "doc_id", "text"), name, numBuckets = 4),
      commit = () => DedupIndex.mergeBucketed(spark, name, doc(next.incrementAndGet()), "doc_id", "text")))
  }

  test("family epoch guard, ANN store: deletePartitioned bumps once; a concurrent commit aborts, tables intact") {
    import spark.implicits._
    val name = "epoch_a1"
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val next = new java.util.concurrent.atomic.AtomicLong(-1L)
    checkEpochGuard(GuardedStore(name, AnnIndex.family, "cells",
      create = () => AnnIndex.writePartitioned(AnnIndex.build(vecs, "vec_id", "embedding",
        k = 2, maxIterations = 2), name),
      commit = () => AnnIndex.deletePartitioned(spark, name,
        Seq(next.incrementAndGet()).toDF("vec_id"), "vec_id")))
  }

  test("epoch-conflict retry: the aborted mutation re-invokes cleanly; end state ≡ sequential A-then-B") {
    import graft.sources.CatalogTables
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val name = "epoch_retry"
    def dropAll(): Unit =
      Seq("_left", "_right", "_right__staged", "__epoch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$name$t`"))
    dropAll()
    try {
      Seq(1L).toDF("x").write.saveAsTable(s"${name}_left")
      Seq(1L).toDF("x").write.saveAsTable(s"${name}_right")
      // writer A's full commit, emulated as the other process would
      // interleave it: write its table, bump the generation
      def writerACommits(): Unit = {
        Seq(100L).toDF("x").write.mode("overwrite").saveAsTable(s"${name}_left")
        val e = CatalogTables.familyEpoch(spark, name)
        if (!spark.catalog.tableExists(s"${name}__epoch"))
          spark.sql(s"CREATE TABLE `${name}__epoch` (epoch BIGINT) USING parquet")
        spark.sql(
          s"ALTER TABLE `${name}__epoch` SET TBLPROPERTIES('graft.epoch' = '${e + 1}')")
      }
      // writer B's mutation — the SAME body both times, exactly what a
      // caller re-invokes after catching the abort
      def writerB(): Unit = CatalogTables.withFamilyEpochGuard(spark, name) {
        CatalogTables.stagedOverwrite(spark, s"${name}_right") { t =>
          spark.table(s"${name}_right").select((col("x") + 10L).as("x"))
            .localCheckpoint().write.saveAsTable(t)
        }
      }
      // first invocation: A commits mid-B → B aborts, its swap unpublished
      intercept[java.util.ConcurrentModificationException] {
        CatalogTables.withFamilyEpochGuard(spark, name) {
          writerACommits()
          CatalogTables.stagedOverwrite(spark, s"${name}_right") { t =>
            spark.table(s"${name}_right").select((col("x") + 10L).as("x"))
              .localCheckpoint().write.saveAsTable(t)
          }
        }
      }
      assert(spark.table(s"${name}_right").collect().map(_.getLong(0)).toSeq === Seq(1L),
        "the aborted swap must not have published")
      assert(spark.table(s"${name}_left").collect().map(_.getLong(0)).toSeq === Seq(100L),
        "the survivor's commit stands")
      // the RETRY CONTRACT: the same mutation, re-invoked against the
      // advanced generation, simply succeeds — no manual cleanup needed
      writerB()
      assert(spark.table(s"${name}_right").collect().map(_.getLong(0)).toSeq === Seq(11L),
        "the retried mutation commits over the advanced generation")
      assert(spark.table(s"${name}_left").collect().map(_.getLong(0)).toSeq === Seq(100L))
      assert(!spark.catalog.tableExists(s"${name}_right__staged"),
        "no staged debris survives the abort-then-retry cycle")
    } finally dropAll()
  }

  test("edge-list text ingestion: comments skipped, ids indexed, dups collapse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edgelist")
    java.nio.file.Files.writeString(dir.resolve("g.tsv"),
      "# snap-style comment\na\tb\nb\tc\na\tb\nc\ta\n")
    val g = graft.sources.GraphIO.readEdgeList(spark, dir.toString)
    assert(g.vertices.count() === 3)
    assert(g.edges.count() === 3, "duplicate a->b must collapse")
    // structure survives re-keying: the 3-cycle is one component
    val cc = graft.algorithms.ConnectedComponents().run(g)
    assert(cc.select("component").distinct().count() === 1)
  }

  test("PageRank: hub of a directed star collects the rank") {
    import spark.implicits._
    // star: 1..5 -> 0; vertex 0 is dangling
    val g = graft.core.Graph.index(
      (0L to 5L).toDF("id"),
      (1L to 5L).map(s => (s, 0L)).toDF("src", "dst"),
      directed = true)
    val pr = PageRank(maxIterations = 20).run(g)
      .join(g.vertices.select($"id", $"old_id"), Seq("id"))
      .select($"old_id", $"rank")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val leafRank = pr.filterKeys(_ != 0L).values
    assert(pr(0L) > leafRank.max * 2, s"hub should dominate: $pr")
    // leaves are symmetric
    assert(leafRank.max - leafRank.min < 1e-12)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }
}
