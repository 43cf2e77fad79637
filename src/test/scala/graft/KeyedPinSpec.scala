package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.algorithms.UnionFind
import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.pregel.Pregel

/** A keyed pin declares `HashPartitioning(key, n)` only where its rows
  * really sit by `pmod(hash(key), n)`, whether the session pins locally
  * or into a checkpoint directory. */
class KeyedPinSpec extends SparkSpec {

  /** `body(mode)` without a checkpoint directory, then with one. */
  private def underBothModes(body: String => Unit): Unit = {
    body("local")
    withCheckpointDir(tempDir("graft-keyed"))(body("reliable"))
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
    underBothModes { mode =>
      val pinned = CheckpointPolicy.pin(frame(5000, 3), Some("id"))
      val h = declared(pinned).getOrElse(fail(s"$mode declared no partitioning"))
      assert(h.numPartitions === n && h.expressions.map(_.sql) === Seq("id"), s"$mode")
      val misplaced = pinned.filter(spark_partition_id() =!= pmod(hash(col("id")), lit(n))).count()
      assert(misplaced === 0L, s"$mode")
      assert(pinned.count() === 5000L, s"$mode")
      // unkeyed pins stay undeclared
      assert(declared(CheckpointPolicy.pin(frame(100, 3))).isEmpty, s"$mode")
    }
  }

  test("keyed pin: a join with an independently repartitioned frame returns the unpinned join's rows") {
    val left = frame(4000, 3).withColumn("k", col("id") % 997)
    val right = spark.range(0, 997, 1, 2).select(col("id").as("k"), (col("id") * 3).as("w"))
      .repartition(7, col("k"))
    val want = rowSet(left.join(right, Seq("k")))
    underBothModes { mode =>
      val pinned = CheckpointPolicy.pin(left, Some("k"))
      assert(declared(pinned).nonEmpty, s"$mode")
      val joined = pinned.join(right, Seq("k"))
      assert(rowSet(joined) === want, s"$mode")
      // and against a frame keyed the same way: no exchange on either side
      val keyedRight = CheckpointPolicy.pin(right, Some("k"))
      val coJoined = pinned.join(keyedRight.hint("shuffle_hash"), Seq("k"))
      assert(rowSet(coJoined) === want, s"$mode")
      val plan = coJoined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$mode co-partitioned join must not shuffle:\n$plan")
    }
  }

  test("keyed pin: rows are kept and declared when every row is filtered out at run time") {
    underBothModes { mode =>
      val pinned = CheckpointPolicy.pin(frame(3000, 3).filter(col("v") > 20), Some("id"))
      assert(declared(pinned).nonEmpty, s"$mode")
      assert(pinned.count() === 0L, s"$mode")
      assert(pinned.join(frame(50, 2), Seq("id")).count() === 0L, s"$mode")
    }
  }

  test("keyed pin: a plan not partitioned on the key falls back to the undeclared pin") {
    underBothModes { mode =>
      // rows laid out on id, then declared on v: the executed plan is not
      // partitioned on v, so the pin must stay undeclared
      val laid = frame(3000, 3).repartition(n, col("id"))
      val pinned = CheckpointPolicy.pin(laid)
      val back = CheckpointPolicy.declare(pinned, laid, "v")
      assert(back eq pinned, s"$mode")
      assert(declared(back).isEmpty, s"$mode must not declare a partitioning")
      val other = spark.range(0, 13).select(col("id").as("v"), (col("id") * 2).as("w"))
        .repartition(n, col("v"))
      assert(rowSet(back.join(other, Seq("v"))) === rowSet(frame(3000, 3).join(other, Seq("v"))),
        s"$mode")
      // declared on the key it is laid out on, the same pin is keyed
      assert(declared(CheckpointPolicy.declare(pinned, laid, "id")).nonEmpty, s"$mode")
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

  test("keyed pin: an unknown key fails loudly, a stored read returns the frame") {
    intercept[Exception](CheckpointPolicy.pin(frame(10, 1), Some("nope")))
    val (t, plain) = ("keyed_pin_stored", "keyed_pin_plain")
    def drop(): Unit = Seq(t, plain).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    drop()
    frame(200, 3).write.bucketBy(4, "id").saveAsTable(t)
    frame(200, 3).write.saveAsTable(plain)
    try underBothModes { mode =>
      // an id-keyed aggregate over the bucketed table: file leaves, no
      // exchange, hash-partitioned on the key — re-reading it is the pin
      val stored = spark.table(t).groupBy(col("id")).agg(max(col("v")).as("v"))
      assert(CheckpointPolicy.pin(stored, Some("id")) eq stored, mode)
      val (same, row) = CheckpointPolicy.pinObserved(stored, "stored read", Some("id"))(
        count(lit(1)), max(col("v")))
      assert(same eq stored, mode)
      assert(row.getLong(0) === 200L && row.getLong(1) === 12L, mode)
      // the same read keyed on another column or unkeyed, and a file read
      // laid out on the key by an exchange, are pinned as usual
      // (`declared` fails on an unpinned frame)
      assert(declared(CheckpointPolicy.pin(stored, Some("v"))).map(_.expressions.map(_.sql))
        === Some(Seq("v")), mode)
      assert(declared(CheckpointPolicy.pin(stored)).isEmpty, mode)
      assert(declared(CheckpointPolicy.pin(spark.table(plain).repartition(n, col("id")), Some("id")))
        .nonEmpty, mode)
    } finally drop()
  }
}
