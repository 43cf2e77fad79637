package graft.core

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, classic}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.graft.PlanFrames
import org.apache.spark.sql.types.DecimalType

/** How iterative loops pin per-round state (truncate lineage + materialize).
  *
  * The reference never persists anything — its plans double in depth per
  * superstep (pregel.py:45-75, SURVEY.md §3.2). Every graft loop pins
  * per-round, and the policy decides where the pinned blocks live:
  *
  *  - [[CheckpointPolicy.Local]] (default): `localCheckpoint` — blocks on
  *    executor block managers. Fastest, but NOT fault-tolerant: losing one
  *    executor mid-iteration loses blocks and, with lineage truncated,
  *    kills the job. Right for local mode and short interactive runs.
  *  - [[CheckpointPolicy.Reliable]]: `checkpoint` to the session's
  *    checkpoint directory (HDFS/S3 on a cluster). One write+read of the
  *    pinned state per round buys survival of executor loss — the correct
  *    setting for 100 TB jobs where some executor failure per hour is the
  *    expected case, not the exception. Requires
  *    `spark.sparkContext.setCheckpointDir(...)` up front.
  *
  * A loop that needs a scalar from each round (changed count, dangling
  * mass, delta, fingerprint) takes it from [[pinObserved]], which reads
  * it off the pinning pass itself.
  *
  * A pin with a `key` keeps its partitioning. A plain checkpoint reports
  * `UnknownPartitioning` under AQE, so the next round's join re-shuffles
  * the whole pinned state (or broadcasts it) before it can join. A keyed
  * pin writes its rows hash-partitioned on the key into
  * `spark.sql.shuffle.partitions` partitions and returns a frame that
  * declares `HashPartitioning(key, n)`: two frames keyed on their join
  * columns then join with no exchange (GraphX's co-partitioned vertex
  * view and routing table). The declaration is made only when the
  * executed plan really has that partitioning; otherwise the pin is the
  * plain, undeclared one. The declared frame carries no size estimate of
  * its source plan, so the planner never broadcasts a pinned side.
  *
  * A keyed [[CheckpointPolicy.Local]] pin runs its layout shuffle before
  * it returns but stores each partition when a job first reads it (a
  * lazy `localCheckpoint`), so the loop's first pass over it does the
  * storing instead of a job of its own. Its rows must not change before
  * that first read: do not overwrite the tables it derives from in
  * between.
  */
sealed trait CheckpointPolicy {
  /** Pin `df`: truncate lineage and materialize it now; with a `key`,
    * hash-partitioned on that column, and under Local stored on first
    * read (see the trait's doc). */
  def pin(df: DataFrame, key: Option[String] = None): DataFrame

  /** Pin `df` (on `key`, as [[pin]]) and return, from the same pass over
    * its rows, the one-row aggregate `metric +: metrics` (via
    * `Dataset.observe`). `label` becomes the Spark job description of
    * the pass (e.g. `pregel superstep 7`); the caller's description is
    * restored afterwards.
    *
    * Observed aggregates merge their per-task partials in task
    * COMPLETION order, so a floating-point `sum` would not replay bit
    * for bit between runs: observe exact aggregates (`count`, `max`,
    * `bit_xor`, integral sums, [[CheckpointPolicy.exactSum]]). */
  def pinObserved(df: DataFrame, label: String, key: Option[String] = None)(
      metric: Column, metrics: Column*): (DataFrame, Row) =
    CheckpointPolicy.described(df, label) {
      val obs = Observation()
      val pinned = pinNow(df.observe(obs, metric, metrics: _*), key)
      (pinned, Await.result(obs.future, Duration.Inf))
    }

  /** [[pin]], with every row stored before it returns: the observed pass
    * must run now. */
  protected def pinNow(df: DataFrame, key: Option[String]): DataFrame = pin(df, key)
}

object CheckpointPolicy {

  case object Local extends CheckpointPolicy {
    def pin(df: DataFrame, key: Option[String]): DataFrame =
      keyed(df, key)(_.localCheckpoint(eager = key.isEmpty))

    override protected def pinNow(df: DataFrame, key: Option[String]): DataFrame =
      keyed(df, key)(_.localCheckpoint(eager = true))
  }

  /** No pinning at all: `pin` returns the frame unchanged, key or not,
    * so every round re-evaluates its input plan. WRONG for long loops
    * (lineage doubles per round — the reference's failure this trait
    * exists to fix) but RIGHT when the loop-invariant inputs are already
    * materialized in a layout the per-round plan exploits: re-reading a
    * BUCKETED edge table ([[graft.sources.GraphIO.writeBucketed]]) costs
    * a scan and NO shuffle (GraphIOSpec asserts it), where a keyed pin
    * would copy the table once into executor blocks. Use for the static
    * side of an iteration over bucketed storage; keep Local/Reliable for
    * the evolving per-round state.
    *
    * `pinObserved` runs no pass of its own to observe, so it computes
    * the metrics with one plain aggregate and returns `df` unpinned. */
  case object Passthrough extends CheckpointPolicy {
    def pin(df: DataFrame, key: Option[String]): DataFrame = df

    override def pinObserved(df: DataFrame, label: String, key: Option[String])(
        metric: Column, metrics: Column*): (DataFrame, Row) =
      described(df, label)((df, df.agg(metric, metrics: _*).head()))
  }

  case object Reliable extends CheckpointPolicy {
    def pin(df: DataFrame, key: Option[String]): DataFrame = {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "CheckpointPolicy.Reliable needs spark.sparkContext.setCheckpointDir(...)")
      keyed(df, key)(_.checkpoint(eager = true))
    }
  }

  /** `checkpoint(df)`, or with a key the keyed pin: checkpoint `df`
    * repartitioned into `spark.sql.shuffle.partitions` partitions on the
    * key, then [[declare]] its partitioning. A user repartition is never
    * coalesced by AQE, and the planner drops it when `df` already has
    * that partitioning (a frame derived from a keyed pin or a bucketed
    * scan), so the layout costs a shuffle only when the rows are not laid
    * out yet. */
  private def keyed(df: DataFrame, key: Option[String])(
      checkpoint: DataFrame => DataFrame): DataFrame = key match {
    case None => checkpoint(df)
    case Some(k) =>
      val laid = df.repartition(partitions(df), col(k))
      declare(checkpoint(laid), laid, k)
  }

  private def partitions(df: DataFrame): Int =
    df.sparkSession.asInstanceOf[classic.SparkSession].sessionState.conf.numShufflePartitions

  /** `pinned`, the checkpoint of `source`, re-wrapped in a plan node that
    * declares `HashPartitioning(key, n)` and carries no size estimate of
    * its source — if the plan that produced its rows (AQE's final plan
    * of `source`) has that partitioning. Otherwise `pinned` unchanged. */
  private[graft] def declare(pinned: DataFrame, source: DataFrame, key: String): DataFrame = {
    val executed = source.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val n = partitions(pinned)
    pinned.queryExecution.analyzed match {
      case rdd: LogicalRDD if hashedOn(executed.outputPartitioning, keyOf(executed.output, key), n) =>
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        val declared = HashPartitioning(Seq(keyOf(rdd.output, key)), n)
        PlanFrames.ofRows(session,
          LogicalRDD(rdd.output, rdd.rdd, declared, rdd.outputOrdering)(session))
      case _ => pinned
    }
  }

  private def keyOf(output: Seq[Attribute], k: String): Attribute =
    output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"pin key '$k' is not a column of ${output.map(_.name)}"))

  private def hashedOn(p: Partitioning, key: Attribute, n: Int): Boolean = p match {
    case h: HashPartitioning =>
      h.numPartitions == n && h.expressions.size == 1 && h.expressions.head.semanticEquals(key)
    case c: PartitioningCollection => c.partitionings.exists(hashedOn(_, key, n))
    case _ => false
  }

  /** Order-independent sum of a fractional column for [[CheckpointPolicy.pinObserved]]:
    * each value rounds once to 18 decimal places, then sums exactly, so
    * the result does not depend on the order partials merge in. Values
    * and the sum must stay below 1e20 in magnitude; no rows (or only
    * NULLs) sum to 0. */
  def exactSum(c: Column): Column =
    coalesce(sum(c.cast(DecimalType(38, 18))).cast("double"), lit(0.0))

  /** Run `body` with `label` as the Spark job description of the jobs
    * it starts, restoring the caller's description afterwards. */
  private[graft] def described[A](df: DataFrame, label: String)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(label)
    try body
    finally sc.setLocalProperty(key, prev)
  }
}
