import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness (test scope) for the round-11 BASELINE.md evidence: the
  * approxJaccard hot-bucket cap under a planted identical-adjacency star.
  */
object StarJaccardStress {

  /** args: SF_DIR N_LEAVES [CAP]. Unions a planted star (one hub,
    * N_LEAVES leaves) into the g24 supplier-part graph — every leaf's
    * adjacency is exactly {hub}, so all leaves share ALL their LSH band
    * buckets and the UNCAPPED candidate join owes C(N,2) pairs (x16 band
    * multiplicity before distinct) from those buckets alone. CAP > 0
    * times the capped run; the planted cohort's internal pairs (all at
    * jaccard exactly 1.0) are the deliberately-dropped mass — grouping on
    * the adjacency hash recovers them for free.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val n = args(1).toLong
    val cap = if (args.length > 2) args(2).toInt else 64
    val spark = Round11Tools.session()
    val base = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_suppkey").as("src"), pmod(col("l_partkey"), lit(97)).as("dst"))
      .distinct()
    val hub = 5000000000L
    val star = spark.range(n)
      .select(lit(hub).as("src"), (col("id") + hub + 1L).as("dst"))
    val edges = base.select(col("src").cast("long"), col("dst").cast("long"))
      .union(star)
      .withColumn("edge_id", xxhash64(col("src"), col("dst")))
      .localCheckpoint()
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint()
    val g = graft.core.Graph(verts, edges, directed = false)
    println(s"STARJACCARD vertices=${verts.count()} edges=${edges.count()} " +
      s"leaves=$n cap=$cap")
    val t0 = System.nanoTime()
    val pairs = graft.algorithms.Similarity.approxJaccard(
      g, threshold = 0.8, numHashes = 64, bands = 16,
      maxBucketSize = cap).count()
    val label = if (cap > 0) "capped" else "UNCAPPED"
    println(f"STARJACCARD $label%-8s ${(System.nanoTime() - t0) / 1e9}%8.2f s  pairs=$pairs")
    spark.stop()
  }
}

/** args: SF_DIR [BATCH_EDGES]. Times the persisted-graph append
  * lifecycle at stress scale: full `writeBucketed` build of the
  * supplier-part graph, then `appendEdges` of a BATCH_EDGES-sized batch
  * (and a full redelivery of the same batch) — the per-batch cost must
  * track the batch, not the corpus.
  */
object GraphAppendStress {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batchN = if (args.length > 1) args(1).toInt else 1000
    val spark = Round11Tools.session()
    import org.apache.spark.sql.functions._
    // orderkey -> partkey bipartite graph: distinct-edge count tracks the
    // corpus (6M at sfx10, 60M at sfx100), so the append times below
    // are measured against a stored table that actually scales
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("src"),
        (col("l_partkey").cast("long") + 4000000000L).as("dst"))
      .localCheckpoint()
    val verts = raw.select(col("src").as("id"))
      .union(raw.select(col("dst"))).distinct().localCheckpoint()
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"GRAPHAPPEND $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val g = graft.core.Graph.index(verts, raw, directed = true)
    timed(s"build(${raw.count()})") {
      graft.sources.GraphIO.writeBucketed(g, "stress_ap", buckets = 32)
    }
    // batch: pairs between EXISTING vertices (the membership semi-joins
    // keep them), mostly new — redeliveries of stored edges are exactly
    // what the anti-join device is for
    val srcs = raw.select(col("src")).distinct().orderBy(col("src")).limit(100)
    val dsts = raw.select(col("dst")).distinct().orderBy(col("dst"))
      .limit(math.max(1, batchN / 100))
    val batch = srcs.crossJoin(dsts).localCheckpoint()
    println(s"GRAPHAPPEND batch=${batch.count()}")
    timed("components-build") {
      graft.sources.GraphIO.buildComponents(spark, "stress_ap")
    }
    timed("append") {
      graft.sources.GraphIO.appendEdges(spark, "stress_ap", batch)
    }
    timed("append-redeliver") {
      graft.sources.GraphIO.appendEdges(spark, "stress_ap", batch)
    }
    val e = spark.table("stress_ap_edges").count()
    val d = graft.sources.GraphIO.readDegrees(spark, "stress_ap").count()
    val c = graft.sources.GraphIO.readComponents(spark, "stress_ap")
      .select(col("component")).distinct().count()
    println(s"GRAPHAPPEND edges=$e degree_rows=$d components=$c")
    // deletion = the O(E) copy-on-write rewrite, measured at corpus scale
    timed("delete") {
      graft.sources.GraphIO.deleteEdges(spark, "stress_ap", batch)
    }
    timed("delete-redeliver") {
      graft.sources.GraphIO.deleteEdges(spark, "stress_ap", batch)
    }
    val e2 = spark.table("stress_ap_edges").count()
    println(s"GRAPHAPPEND edges_after_delete=$e2 (expected ${e - batch.count()})")
    Seq("vertices", "edges", "degrees", "components").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stress_ap_$t"))
    spark.stop()
  }
}

/** args: SF_DIR [BATCH_EDGES]. Times the maintained-components merge
  * path where it actually fires: a star-per-order graph (component
  * count = order count, ~1.5M at sfx10) whose append batch pairs
  * distinct orders — so the label-merge graph is batch-sized and the
  * O(V) narrow relabel rewrite is the measured cost, against a ONE-time
  * full CC build.
  */
object ComponentMergeStress {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val batchN = if (args.length > 1) args(1).toInt else 1000
    val spark = Round11Tools.session()
    import org.apache.spark.sql.functions._
    // one star component per order: src = orderkey, dst unique per line
    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("src"),
        (col("l_orderkey").cast("long") * 8L + col("l_linenumber").cast("long")
          + 4000000000L).as("dst"))
      .localCheckpoint()
    val verts = raw.select(col("src").as("id"))
      .union(raw.select(col("dst"))).distinct().localCheckpoint()
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"COMPMERGE $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    val g = graft.core.Graph.index(verts, raw, directed = true)
    timed(s"build(${raw.count()})") {
      graft.sources.GraphIO.writeBucketed(g, "stress_cm", buckets = 32)
    }
    timed("components-build") {
      graft.sources.GraphIO.buildComponents(spark, "stress_cm")
    }
    val c0 = graft.sources.GraphIO.readComponents(spark, "stress_cm")
      .select(col("component")).distinct().count()
    // batch: chain 2·batchN distinct orders pairwise -> batchN merges
    val keys = raw.select(col("src")).distinct().orderBy(col("src"))
      .limit(2 * batchN).collect().map(_.getLong(0))
    val pairs = keys.grouped(2).collect { case Array(a, b) => (a, b) }.toSeq
    import spark.implicits._
    val batch = pairs.toDF("src", "dst").localCheckpoint()
    println(s"COMPMERGE batch=${batch.count()} components_before=$c0")
    timed("append-merge") {
      graft.sources.GraphIO.appendEdges(spark, "stress_cm", batch)
    }
    timed("append-redeliver") {
      graft.sources.GraphIO.appendEdges(spark, "stress_cm", batch)
    }
    val c1 = graft.sources.GraphIO.readComponents(spark, "stress_cm")
      .select(col("component")).distinct().count()
    println(s"COMPMERGE components_after=$c1 (expected ${c0 - batchN})")
    Seq("vertices", "edges", "degrees", "components").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS stress_cm_$t"))
    spark.stop()
  }
}

/** args: QUERY [SF_DIR] [REPEATS]. Times one SparkEntry query (count()
  * forced) — the single-row bench for iterating on a heavy query. */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Round11Tools.session()
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(q)(spark, sfDir).count()
      println(f"QTIME $q rep$r ${(System.nanoTime() - t0) / 1e9}%7.2f s rows=$n")
    }
    spark.stop()
  }
}

private object Round11Tools {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
