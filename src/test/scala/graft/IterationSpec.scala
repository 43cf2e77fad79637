package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

import graft.algorithms.{ConnectedComponents, PageRank, UnionFind}
import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel
import graft.sources.GraphIO

/** The one-pass-per-iteration contract: [[CheckpointPolicy.pinObserved]]
  * and the loops built on it (Pregel, PageRank, the SCC driver path),
  * and the job labels that show which components path ran. */
class IterationSpec extends SparkSpec {
  import Columns._

  private def metricsOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), max(col("v")), CheckpointPolicy.exactSum(col("x")))

  test("pinObserved: metrics equal a separate aggregate, local or reliable") {
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 37).as("v"), (col("id") / 7.0).as("x"))
    val want = metricsOf(df).head()
    def check(mode: String): Unit = {
      val (pinned, got) = CheckpointPolicy.pinObserved(df, s"observe $mode")(
        count(lit(1)), max(col("v")), CheckpointPolicy.exactSum(col("x")))
      assert(got.toSeq === want.toSeq, mode)
      assert(rowSet(pinned) === rowSet(df), mode)
      assert(pinned.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        s"$mode must return a pinned frame")
    }
    check("local")
    withCheckpointDir(tempDir("graft-observe"))(check("reliable"))
    // an empty frame observes its zero row instead of blocking
    val (_, empty) = CheckpointPolicy.pinObserved(df.limit(0), "observe empty")(
      count(lit(1)), CheckpointPolicy.exactSum(col("x")))
    assert(empty.getLong(0) === 0L && empty.getDouble(1) === 0.0)
  }

  test("pinObserved labels its jobs and restores the caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val labels = jobDescriptions {
        CheckpointPolicy.pinObserved(spark.range(10).toDF(), "observe label")(count(lit(1)))
        assert(sc.getLocalProperty("spark.job.description") === "caller")
      }
      assert(labels.contains("observe label"), labels)
    } finally sc.setJobDescription(null)
  }

  test("pregel: a NULL message still counts as received — recipients update") {
    import spark.implicits._
    // 0 -> 1 -> 2, and 3 -> 2: vertex 0 sends NULL, the others their id
    val g = Graph((0L to 3L).toDF(ID),
      Seq((0L, 1L), (1L, 2L), (3L, 2L)).toDF(SRC, DST), directed = true)
    val res = Pregel(
      initialState = lit(0L),
      aggExpr = max(col(MSG)),
      msgToDst = Some(when(col(ID) =!= 0L, col(ID))),
      // a recipient counts the supersteps in which it received anything
      updateExpr = Some(col(STATE) + 1L),
      maxIterations = 3)
      .runWithStatus(g)
    val got = res.state.select(col(ID), col(STATE), col(OLD_STATE)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    // vertex 1 receives only vertex 0's NULL in superstep 1 and still
    // updates; vertex 2 hears from 1 and 3. Superstep 2 sends from the
    // vertices that changed (1 and 2; only 1 has a route, into 2), so 2
    // updates again while 1 keeps its superstep-1 state and old_state.
    // Superstep 3 sends from 2, which has no out-edge: nothing changes.
    assert(got(0L) === ((0L, None)))
    assert(got(1L) === ((1L, Some(0L))))
    assert(got(2L) === ((2L, Some(1L))))
    assert(got(3L) === ((0L, None)))
    assert(res.converged && res.iterations === 3)
  }

  test("connected components: at most 3 Spark jobs per Pregel superstep") {
    val g = randomGraph(seed = 7, vertices = 2000, edges = 8000, directed = false)
    val jobs = jobDescriptions(ConnectedComponents(maxIterations = 50).run(g).collect())
    val supersteps = jobs.filter(_.startsWith("pregel superstep ")).toSet.size
    assert(supersteps > 2, s"expected a multi-superstep run, got $supersteps")
    val perStep = jobs.size.toDouble / supersteps
    info(f"${jobs.size} jobs over $supersteps supersteps = $perStep%.2f per superstep")
    assert(perStep <= 3.0, f"${jobs.size} jobs over $supersteps supersteps = $perStep%.2f per superstep")
  }

  test("PageRank: at most 3 Spark jobs per round") {
    val g = randomGraph(seed = 7, vertices = 2000, edges = 8000, directed = true)
    val jobs = jobDescriptions(PageRank(maxIterations = 10).run(g).collect())
    val rounds = jobs.filter(_.startsWith("pagerank round ")).toSet.size
    assert(rounds === 10)
    val perRound = jobs.size.toDouble / rounds
    info(f"${jobs.size} jobs over $rounds rounds = $perRound%.2f per round")
    assert(perRound <= 3.0, f"${jobs.size} jobs over $rounds rounds = $perRound%.2f per round")
  }

  test("a Pregel superstep and a PageRank round shuffle once and broadcast nothing") {
    val undirected = randomGraph(seed = 7, vertices = 2000, edges = 8000, directed = false)
    val directed = randomGraph(seed = 7, vertices = 2000, edges = 8000, directed = true)
    // the pinning pass of each iteration carries its private column
    for ((name, marker, run) <- Seq[(String, String, () => Unit)](
        ("pregel superstep", "_changed", () => ConnectedComponents(maxIterations = 50).run(undirected)),
        ("pagerank round", "_prev", () => PageRank(maxIterations = 4).run(directed)))) {
      val plans = pinPlans(run()).filter(_.contains(marker))
      assert(plans.size > 2, s"$name: ${plans.size} pinning passes")
      plans.foreach { p =>
        assert("Exchange hashpartitioning".r.findAllIn(p).size === 1,
          s"$name must shuffle exactly once:\n$p")
        assert(!p.contains("BroadcastExchange"), s"$name must broadcast nothing:\n$p")
      }
    }
  }

  test("PageRank with tolerance: stops where the observed delta drops below it, ranks match fixed rounds") {
    val g = randomGraph(seed = 11, vertices = 300, edges = 1500, directed = true)
    val tol = 1e-6
    val pr = PageRank(maxIterations = 100, tolerance = Some(tol))
    val converged = ranks(pr.run(g))
    val k = pr.lastIterations
    assert(k > 2 && k < 100, s"stopped after $k rounds")
    // the same k rounds without a tolerance replay bit for bit
    assert(ranks(PageRank(maxIterations = k).run(g)) === converged)
    // round k changed every rank by less than tol; round k-1 did not
    def maxDelta(a: Map[Long, Double], b: Map[Long, Double]) =
      a.keys.map(v => math.abs(a(v) - b(v))).max
    val before = ranks(PageRank(maxIterations = k - 1).run(g))
    val twoBefore = ranks(PageRank(maxIterations = k - 2).run(g))
    assert(maxDelta(converged, before) < tol)
    assert(maxDelta(before, twoBefore) >= tol)
  }

  test("UnionFind.minReach ≡ distributed Pregel min-propagation: labels, supersteps, cap") {
    import spark.implicits._
    for (seed <- 1 to 6; forward <- Seq(true, false)) {
      val rnd = new scala.util.Random(700 + seed)
      val n = 8 + rnd.nextInt(20)
      val edges = Seq.fill(n + rnd.nextInt(2 * n))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF(SRC, DST)
      val verts = (0L until n.toLong).toDF(ID)
      def distributed(cap: Int) = Pregel(
        initialState = col(ID),
        aggExpr = min(col(MSG)),
        msgToSrc = if (forward) None else Some(col(STATE)),
        msgToDst = if (forward) Some(col(STATE)) else None,
        updateExpr = Some(least(col(MSG), col(STATE))),
        maxIterations = cap)
        .runWithStatus(Graph(verts, edges, directed = true))
      val full = distributed(100)
      for (cap <- Seq(100, 2, 1)) {
        val dist = if (cap == 100) full else distributed(cap)
        val local = UnionFind.minReach(verts, edges, SRC, DST, forward, cap).get
        val ctx = s"seed $seed forward $forward cap $cap"
        assert(local.iterations === dist.iterations, ctx)
        assert(local.converged === dist.converged, ctx)
        assert(rowSet(local.state) === rowSet(dist.state.select(col(ID), col(STATE))), ctx)
      }
      assert(full.converged)
    }
  }

  test("appendEdges merges a small store's components on the driver: a probe job, no star rounds") {
    import spark.implicits._
    val name = "iteration_append"
    GraphIO.writeBucketed(Graph.index(Seq("a", "b", "c", "d").toDF("id"),
      Seq(("a", "b"), ("c", "d")).toDF("src", "dst")), name, buckets = 2)
    try {
      GraphIO.buildComponents(spark, name)
      val jobs = jobDescriptions(GraphIO.appendEdges(spark, name, Seq(("b", "c")).toDF("src", "dst")))
      assert(jobs.contains("min-label cc driver probe"), jobs)
      assert(!jobs.exists(_.startsWith("star cc round")), jobs)
      assert(GraphIO.readComponents(spark, name).select("component").distinct().count() === 1L)
    } finally {
      Seq("vertices", "edges", "degrees", "components")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
      spark.sql(s"DROP TABLE IF EXISTS ${name}__epoch")
    }
  }

  test("minReach and spanningPairs label their driver probe jobs") {
    import spark.implicits._
    val verts = spark.range(0, 4, 1, 2).toDF(ID)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF(SRC, DST).repartition(2)
    val reach = jobDescriptions(UnionFind.minReach(verts, edges, SRC, DST, forward = true, 10).get)
    assert(reach.nonEmpty && reach.forall(_ == "min-reach driver probe"), reach)
    val span = jobDescriptions(UnionFind.spanningPairs(edges, SRC, DST).get)
    assert(span.nonEmpty && span.forall(_ == "spanning-pairs driver probe"), span)
  }

  /** The executed final plans of the checkpoint passes `body` runs, in
    * the order they finished. */
  private def pinPlans(body: => Unit): Seq[String] = {
    val plans = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.synchronized {
          plans += qe.executedPlan.toString.split("== Initial Plan ==").head
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously: wait until they stop coming
      val deadline = System.currentTimeMillis() + 20000
      var last = -1
      while (plans.synchronized(plans.size) != last && System.currentTimeMillis() < deadline) {
        last = plans.synchronized(plans.size)
        Thread.sleep(300)
      }
      plans.synchronized(plans.toList)
    } finally spark.listenerManager.unregister(listener)
  }

  private def ranks(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** A seeded random graph of `vertices` ids and `edges` edges. */
  private def randomGraph(seed: Int, vertices: Int, edges: Int, directed: Boolean): Graph = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val es = Seq.fill(edges)((rnd.nextInt(vertices).toLong, rnd.nextInt(vertices).toLong))
    Graph(spark.range(0, vertices, 1, 4).toDF(ID),
      es.toDF(SRC, DST).repartition(4), directed)
  }

  /** Descriptions of the Spark jobs `body` runs (empty for unlabelled
    * jobs), collected under a job group of their own. Listener events
    * arrive asynchronously, so this waits until every job has ended. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"iteration-spec-${System.nanoTime()}"
    val started = mutable.Map.empty[Int, String]
    val ended = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.synchronized {
        val p = Option(e.properties)
        if (p.flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).contains(group))
          started(e.jobId) = p.flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = started.synchronized { ended += e.jobId }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"), interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      def done = started.synchronized(started.nonEmpty && started.keySet.subsetOf(ended))
      val deadline = System.currentTimeMillis() + 20000
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(done, "listener events did not arrive")
      started.synchronized(started.values.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
