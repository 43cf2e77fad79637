package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Ann, AnnIndex, KMeans}

class AnnIndexSpec extends SparkSpec {

  private def corpus(n: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat))
    (0L until n.toLong).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + (rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("build + topK ≡ the direct fitPredict + ivfTopK path, bit for bit") {
    val items = corpus(120)
    val queries = items.filter(col("vec_id") < 5)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    val labels = KMeans.fitPredictPortable(items, "vec_id", "embedding",
      k = 4, maxIterations = 4, fitSampleSize = 60)
    val direct = Ann.ivfTopK(
      items.join(labels, Seq("vec_id")), queries,
      "vec_id", "embedding", "cell", k = 5, nprobe = 2)
    assert(rowSet(idx.topK(queries, "vec_id", "embedding", 5, nprobe = 2)) ===
      rowSet(direct))
  }

  test("persisted round-trip probes identically; the stored scan prunes to probed cells") {
    val items = corpus(120)
    val queries = items.filter(col("vec_id") < 5)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    AnnIndex.writePartitioned(idx, "annidx_spec")
    val stored = AnnIndex.readPartitioned(spark, "annidx_spec")
    val live = idx.topK(queries, "vec_id", "embedding", 5, nprobe = 2)
    val fromDisk = stored.topK(queries, "vec_id", "embedding", 5, nprobe = 2)
    assert(rowSet(fromDisk) === rowSet(live))
    val plan = fromDisk.queryExecution.executedPlan.toString
    // the headline properties of the stored probe: no fit and no
    // centroid aggregation anywhere (both paid at build), and the cells
    // scan carries a dynamic-partition-pruning filter so only probed
    // cells are read — the actual IVF scan economy
    assert(!plan.contains("partial_sum") && !plan.contains("posexplode"),
      s"probe must not rebuild centroids:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"cells scan must prune to probed cells:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the stored corpus must not shuffle:\n$plan")
  }

  test("writePartitioned rewrites a stored index from its own tables") {
    val items = corpus(120)
    val queries = items.filter(col("vec_id") < 5)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    val name = "annidx_self"
    def dropAll(): Unit = Seq("centroids", "cells", "centroids__staged", "cells__staged")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    dropAll()
    try {
      AnnIndex.writePartitioned(idx, name)
      val first = AnnIndex.readPartitioned(spark, name)
      val (centroids, cells) = (rowSet(first.centroids), rowSet(first.cells))
      assert(centroids === rowSet(idx.centroids) && cells === rowSet(idx.cells) && cells.size === 120)
      val probe = rowSet(first.topK(queries, "vec_id", "embedding", 5, nprobe = 2))
      // a compaction: the new contents are read from the tables they replace
      AnnIndex.writePartitioned(AnnIndex.readPartitioned(spark, name), name)
      val back = AnnIndex.readPartitioned(spark, name)
      assert(rowSet(back.centroids) === centroids)
      assert(rowSet(back.cells) === cells)
      val fromDisk = back.topK(queries, "vec_id", "embedding", 5, nprobe = 2)
      assert(rowSet(fromDisk) === probe)
      assert(fromDisk.queryExecution.executedPlan.toString.contains("dynamicpruning"))
    } finally dropAll()
  }

  test("append: frozen quantizer, probe-rule assignment, appended vectors retrievable") {
    import spark.implicits._
    val items = corpus(120)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    // append a near-copy of vector 3: it must land in 3's own
    // first-probe cell (assignment uses the probe rule) and come back
    // as 3's top neighbour (identical direction -> maximal dot)
    val v3 = items.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0)
    val appended = AnnIndex.append(idx,
      Seq((1003L, v3)).toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(rowSet(appended.centroids) === rowSet(idx.centroids),
      "append must not touch the quantizer")
    val cellOf = appended.cells.filter(col("id") === 1003L)
      .select("cell").head().getLong(0)
    val firstProbe = idx.topK(
        Seq((1003L, v3)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, nprobe = 1)
    // the probe rule and the assignment rule agree: cell of the top
    // neighbour found with nprobe=1 IS the assigned cell
    val probedCell = idx.cells
      .filter(col("id") === firstProbe.select("nid").head().getLong(0))
      .select("cell").head().getLong(0)
    assert(cellOf === probedCell,
      "appended vector must live where its queries probe first")
    val back = appended.topK(items.filter(col("vec_id") === 3L),
      "vec_id", "embedding", k = 1, nprobe = 1)
      .select("nid").head().getLong(0)
    assert(back === 1003L, "the appended near-copy must rank first for 3")
  }

  test("driftStats + rebuildIfDrifted: shifted append-heavy ingest drifts, re-fit restores recall") {
    import spark.implicits._
    val items = corpus(160)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 80)
    // fresh build: growth exactly 1, per-cell growth uniform -> healthy
    val s0 = AnnIndex.driftStats(idx).head()
    assert(s0.getAs[Double]("growth") === 1.0)
    assert(s0.getAs[Double]("growth_skew") === 1.0)
    assert(s0.getAs[Double]("imbalance_now") === s0.getAs[Double]("imbalance_build"))
    assert(!AnnIndex.rebuildIfDrifted(idx, maxIterations = 4, fitSampleSize = 80)._2,
      "a healthy index must not rebuild")
    // SHIFTED ingest: a brand-new far-away cluster 3x the corpus — the
    // frozen quantizer crams it all into whichever old cells sit
    // nearest, so growth concentrates instead of spreading
    val rnd = new scala.util.Random(99)
    val far = (0 until 480).map { i =>
      (5000L + i, Array.fill(8)(8.0f + (rnd.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val drifted = AnnIndex.append(idx, far, "vec_id", "embedding")
    val s1 = AnnIndex.driftStats(drifted).head()
    assert(s1.getAs[Long]("n_now") === 640L)
    assert(s1.getAs[Double]("growth_skew") > 4.0,
      s"a one-cluster 3x ingest must concentrate growth, got ${s1.getAs[Double]("growth_skew")}")
    // drift's probe cost is OVER-SCAN, not (here) recall: the whole
    // blob crams into one frozen cell, so a blob query's first probe
    // finds all its true neighbours — but scans 480+ of 640 vectors
    // (IVF degenerating toward brute force). imbalance_now carries it:
    assert(s1.getAs[Double]("imbalance_now") > 3.0,
      s"the fat list must dominate: ${s1.getAs[Double]("imbalance_now")}")
    def recallAt10(ix: AnnIndex.Index): Double = {
      val qs = far.filter(col("vec_id") < 5020L)
      val truth = Ann.bruteForceTopK(
        ix.cells.select(col("id").as("vec_id"), col("v").as("embedding")),
        qs, "vec_id", "embedding", k = 10)
        .select(col("qid"), col("nid")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val got = ix.topK(qs, "vec_id", "embedding", k = 10, nprobe = 2)
        .select(col("qid"), col("nid")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
      hits.toDouble / truth.map(_._2.size).sum
    }
    val (refit, rebuilt) = AnnIndex.rebuildIfDrifted(
      drifted, maxIterations = 4, fitSampleSize = 320)
    assert(rebuilt, "growth_skew over threshold must trigger the re-fit")
    // k scaled by sqrt(growth): 4 cells over a 4x corpus -> 8, so the
    // blob thins across sub-cells and probes stop over-scanning
    assert(refit.centroids.count() === 8L)
    val s2 = AnnIndex.driftStats(refit).head()
    assert(s2.getAs[Double]("growth") === 1.0)
    assert(s2.getAs[Double]("growth_skew") === 1.0)
    assert(s2.getAs[Double]("imbalance_now") < s1.getAs[Double]("imbalance_now"),
      s"the re-fit must thin the fat list: ${s2.getAs[Double]("imbalance_now")} " +
        s"vs ${s1.getAs[Double]("imbalance_now")}")
    // and ranking quality inside the (now partitioned) blob holds up
    assert(recallAt10(refit) >= 0.85,
      s"re-fit recall@10 (nprobe=2) in the shifted cluster: ${recallAt10(refit)}")
    assert(!AnnIndex.rebuildIfDrifted(refit, maxIterations = 4, fitSampleSize = 320)._2)
    // the persisted face: store the DRIFTED index, let the trigger
    // re-fit and overwrite in place; a second call is a no-op
    val name = "annidx_drift"
    Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    try {
      AnnIndex.writePartitioned(drifted, name)
      assert(AnnIndex.rebuildPartitionedIfDrifted(spark, name,
        maxIterations = 4, fitSampleSize = 160))
      val stored = AnnIndex.readPartitioned(spark, name)
      assert(AnnIndex.driftStats(stored).head().getAs[Double]("growth_skew") === 1.0)
      assert(!AnnIndex.rebuildPartitionedIfDrifted(spark, name,
        maxIterations = 4, fitSampleSize = 160))
    } finally Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
  }

  test("delete: frozen quantizer, erased vectors never probe back, idempotent") {
    import spark.implicits._
    val items = corpus(120)
    val queries = items.filter(col("vec_id") < 5)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    val del = Seq(7L, 11L, 42L, 9999L).toDF("vec_id") // 9999 never existed
    val after = AnnIndex.delete(idx, del, "vec_id")
    assert(rowSet(after.centroids) === rowSet(idx.centroids),
      "delete must not touch the quantizer")
    // cells ≡ the same frozen quantizer over the corpus minus the ids
    assert(rowSet(after.cells) ===
      rowSet(idx.cells.filter(!col("id").isin(7L, 11L, 42L))))
    // probes can never return an erased vector
    val got = after.topK(queries, "vec_id", "embedding", k = 20, nprobe = 4)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(!got.contains(7L) && !got.contains(11L) && !got.contains(42L))
    // idempotent redelivery
    assert(rowSet(AnnIndex.delete(after, del, "vec_id").cells) ===
      rowSet(after.cells))
  }

  test("deletePartitioned: only touched cell partitions rewrite; emptied cells drop") {
    import spark.implicits._
    val items = corpus(120)
    val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
      maxIterations = 4, fitSampleSize = 60)
    val name = "annidx_del"
    Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    try {
      AnnIndex.writePartitioned(idx, name)
      val stored = AnnIndex.readPartitioned(spark, name)
      // pick a victim cell to EMPTY outright and one vector from
      // another cell; a third cell stays wholly untouched
      val byCell = stored.cells.select(col("cell"), col("id")).collect()
        .groupBy(_.getLong(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).toSeq }
      val cellsSorted = byCell.keys.toSeq.sorted
      val emptyCell = cellsSorted.head
      val shrinkCell = cellsSorted(1)
      val untouchedCell = cellsSorted(2)
      val delIds = byCell(emptyCell) :+ byCell(shrinkCell).head
      // mtime pin: the untouched partition's files must not be rewritten
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val untouchedDir = new java.io.File(s"$wh/${name}_cells/cell=$untouchedCell")
      val before = untouchedDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      AnnIndex.deletePartitioned(spark, name,
        (delIds :+ 424242L).toDF("vec_id"), "vec_id")
      val after = AnnIndex.readPartitioned(spark, name)
      assert(rowSet(after.cells) ===
        rowSet(idx.cells.filter(!col("id").isin(delIds: _*))),
        "stored cells ≡ rebuild-without")
      // the emptied partition is GONE (dynamic overwrite alone would
      // have silently kept its rows)
      assert(after.cells.filter(col("cell") === emptyCell).isEmpty)
      val nowFiles = untouchedDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(nowFiles === before,
        s"untouched partition must keep its exact files: $before vs $nowFiles")
      // no-op redelivery rewrites nothing anywhere
      val shrunkDir = new java.io.File(s"$wh/${name}_cells/cell=$shrinkCell")
      val shrunkBefore = shrunkDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      AnnIndex.deletePartitioned(spark, name,
        delIds.toDF("vec_id"), "vec_id")
      val shrunkAfter = shrunkDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(shrunkAfter === shrunkBefore, "a no-op delete must not rewrite")
    } finally Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
  }

  test("the cells table stays partitioned by cell through the whole lifecycle") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val items = corpus(120)
    val name = "annidx_layout"
    def dropAll(): Unit = Seq("centroids", "cells", "_epoch")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`"))
    def checkLayout(step: String): Unit = {
      val catalog = spark.sessionState.catalog
      val cells = catalog.getTableMetadata(TableIdentifier(s"${name}_cells"))
      assert(cells.partitionColumnNames === Seq("cell") && cells.bucketSpec.isEmpty,
        s"after $step: ${name}_cells must stay partitioned by cell")
      val centroids = catalog.getTableMetadata(TableIdentifier(s"${name}_centroids"))
      assert(centroids.partitionColumnNames.isEmpty && centroids.bucketSpec.isEmpty,
        s"after $step: ${name}_centroids stays plain")
    }
    def ids: Set[Long] =
      AnnIndex.readPartitioned(spark, name).cells.select("id").as[Long].collect().toSet
    dropAll()
    try {
      AnnIndex.writePartitioned(AnnIndex.build(items, "vec_id", "embedding", k = 4,
        maxIterations = 4, fitSampleSize = 60), name)
      checkLayout("writePartitioned")
      val v = items.filter(col("vec_id") === 3L).select("embedding").head().getSeq[Float](0)
      val stream = MemoryStream[(Long, Seq[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("annidx_layout_ckpt").toString
      val q = AnnIndex.appendStream(
          stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", name)
        .option("checkpointLocation", ckpt).start()
      try { stream.addData((1003L, v)); q.processAllAvailable() } finally q.stop()
      checkLayout("an appendStream batch")
      assert(ids === (0L until 120L).toSet + 1003L)
      AnnIndex.deletePartitioned(spark, name, Seq(5L, 1003L).toDF("vec_id"), "vec_id")
      checkLayout("deletePartitioned")
      assert(ids === (0L until 120L).toSet - 5L)
      // any positive skew counts as drift: the rebuild always runs
      assert(AnnIndex.rebuildPartitionedIfDrifted(spark, name, maxGrowthSkew = 0.0))
      checkLayout("rebuildPartitionedIfDrifted")
      assert(ids === (0L until 120L).toSet - 5L)
    } finally dropAll()
  }
}
