package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.algorithms.UnionFind
import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel

/** A keyed pin declares `HashPartitioning(key, n)` only where its rows
  * really sit by `pmod(hash(key), n)`, under both pinning policies. */
class KeyedPinSpec extends SparkSpec {

  private lazy val policies = {
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-keyed").toString)
    Seq(CheckpointPolicy.Local, CheckpointPolicy.Reliable)
  }

  private def n = spark.conf.get("spark.sql.shuffle.partitions").toInt

  private def declared(df: DataFrame): Option[HashPartitioning] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.outputPartitioning).collect { case h: HashPartitioning => h }
      case other => fail(s"not a pinned frame: $other")
    }

  private def frame(rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(col("id"), (col("id") % 13).as("v"))

  test("keyed pin: every row sits in partition pmod(hash(key), n), and the frame declares it") {
    for (policy <- policies) {
      val pinned = policy.pin(frame(5000, 3), Some("id"))
      val h = declared(pinned).getOrElse(fail(s"$policy declared no partitioning"))
      assert(h.numPartitions === n && h.expressions.map(_.sql) === Seq("id"), s"$policy")
      val misplaced = pinned.filter(spark_partition_id() =!= pmod(hash(col("id")), lit(n))).count()
      assert(misplaced === 0L, s"$policy")
      assert(pinned.count() === 5000L, s"$policy")
      // unkeyed pins stay undeclared
      assert(declared(policy.pin(frame(100, 3))).isEmpty, s"$policy")
    }
  }

  test("keyed pin: a join with an independently repartitioned frame returns the unpinned join's rows") {
    val left = frame(4000, 3).withColumn("k", col("id") % 997)
    val right = spark.range(0, 997, 1, 2).select(col("id").as("k"), (col("id") * 3).as("w"))
      .repartition(7, col("k"))
    val want = rowSet(left.join(right, Seq("k")))
    for (policy <- policies) {
      val pinned = policy.pin(left, Some("k"))
      assert(declared(pinned).nonEmpty, s"$policy")
      val joined = pinned.join(right, Seq("k"))
      assert(rowSet(joined) === want, s"$policy")
      // and against a frame keyed the same way: no exchange on either side
      val keyedRight = policy.pin(right, Some("k"))
      val coJoined = pinned.join(keyedRight.hint("shuffle_hash"), Seq("k"))
      assert(rowSet(coJoined) === want, s"$policy")
      val plan = coJoined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$policy co-partitioned join must not shuffle:\n$plan")
    }
  }

  test("keyed pin: rows are kept and declared when every row is filtered out at run time") {
    for (policy <- policies) {
      val pinned = policy.pin(frame(3000, 3).filter(col("v") > 20), Some("id"))
      assert(declared(pinned).nonEmpty, s"$policy")
      assert(pinned.count() === 0L, s"$policy")
      assert(pinned.join(frame(50, 2), Seq("id")).count() === 0L, s"$policy")
    }
  }

  test("keyed pin: a plan not partitioned on the key falls back to the undeclared pin") {
    for (policy <- policies) {
      // rows laid out on id, then declared on v: the executed plan is not
      // partitioned on v, so the pin must stay undeclared
      val laid = frame(3000, 3).repartition(n, col("id"))
      val pinned = policy.pin(laid)
      val back = CheckpointPolicy.declare(pinned, laid, "v")
      assert(back eq pinned, s"$policy")
      assert(declared(back).isEmpty, s"$policy must not declare a partitioning")
      val other = spark.range(0, 13).select(col("id").as("v"), (col("id") * 2).as("w"))
        .repartition(n, col("v"))
      assert(rowSet(back.join(other, Seq("v"))) === rowSet(frame(3000, 3).join(other, Seq("v"))),
        s"$policy")
      // declared on the key it is laid out on, the same pin is keyed
      assert(declared(CheckpointPolicy.declare(pinned, laid, "id")).nonEmpty, s"$policy")
    }
  }

  test("two Pregel loops pinning keyed state concurrently match the driver min-reach") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rnd = new scala.util.Random(17)
    val n = 400
    val verts = (0L until n.toLong).toDF(Columns.ID)
    val edges = Seq.fill(900)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .toDF(Columns.SRC, Columns.DST).repartition(3)
    // the two directions of SCC's min-label round, as SCC issues them
    def reach(forward: Boolean) = Future(Pregel(
      initialState = col(Columns.ID),
      aggExpr = min(col(Columns.MSG)),
      msgToSrc = if (forward) None else Some(col(Columns.STATE)),
      msgToDst = if (forward) Some(col(Columns.STATE)) else None,
      updateExpr = Some(least(col(Columns.MSG), col(Columns.STATE))),
      maxIterations = 200)
      .runWithStatus(Graph(verts, edges, directed = true)))
    val (fwd, bwd) = (reach(forward = true), reach(forward = false))
    for ((res, forward) <- Seq(Await.result(fwd, Duration.Inf) -> true,
        Await.result(bwd, Duration.Inf) -> false)) {
      val want = UnionFind.minReach(verts, edges, Columns.SRC, Columns.DST, forward, 200).get
      assert(res.converged && res.iterations === want.iterations, s"forward $forward")
      assert(rowSet(res.state.select(col(Columns.ID), col(Columns.STATE))) === rowSet(want.state),
        s"forward $forward")
    }
  }

  test("keyed pin: an unknown key fails loudly, Passthrough returns the frame") {
    val df = frame(10, 1)
    assert(CheckpointPolicy.Passthrough.pin(df, Some("id")) eq df)
    intercept[Exception](CheckpointPolicy.Local.pin(df, Some("nope")))
  }
}
