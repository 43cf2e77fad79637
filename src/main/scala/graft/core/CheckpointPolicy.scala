package graft.core

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, classic}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.graft.PlanFrames
import org.apache.spark.sql.types.DecimalType

/** The one way the engine pins a frame (truncates its lineage and
  * materializes it).
  *
  * The reference never persists anything — its plans double in depth per
  * superstep (pregel.py:45-75, SURVEY.md §3.2). Every graft loop pins
  * per-round, and every store mutation pins the frames it reads more than
  * once. Where the pinned blocks live follows the session:
  *
  *  - no checkpoint directory (the default): `localCheckpoint` — blocks
  *    on executor block managers. Fastest, but NOT fault-tolerant: losing
  *    one executor mid-iteration loses blocks and, with lineage
  *    truncated, kills the job. Right for local mode and short
  *    interactive runs.
  *  - `spark.sparkContext.setCheckpointDir(...)` set: `checkpoint` to
  *    that directory (HDFS/S3 on a cluster). One write+read of the pinned
  *    state per round buys survival of executor loss — the correct
  *    setting for 100 TB jobs where some executor failure per hour is the
  *    expected case, not the exception.
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
  * A keyed pin of a stored read is no pin at all: when every leaf of the
  * frame's plan is a file relation, the plan runs no exchange and it is
  * already hash-partitioned on the key (a bucketed table,
  * [[graft.sources.GraphIO.writeBucketed]]), re-reading it costs a scan
  * and no shuffle, where a pin would copy the table into executor blocks
  * once. [[pin]] then returns the frame itself and [[pinObserved]]
  * computes its metrics with one plain aggregate.
  *
  * A keyed pin without a checkpoint directory runs its layout shuffle
  * before it returns but stores each partition when a job first reads it
  * (a lazy `localCheckpoint`), so the loop's first pass over it does the
  * storing instead of a job of its own. Its rows must not change before
  * that first read: do not overwrite the tables it derives from in
  * between.
  */
object CheckpointPolicy {

  /** Pin `df`: truncate lineage and materialize it now; with a `key`,
    * hash-partitioned on that column, stored on first read when no
    * checkpoint directory is set, and returned as is when it is a stored
    * read (see the object's doc). */
  def pin(df: DataFrame, key: Option[String] = None): DataFrame =
    if (key.exists(storedRead(df, _))) df
    else keyed(df, key)(store(df, eager = key.isEmpty))

  /** Pin `df` (on `key`, as [[pin]]) and return, from the same pass over
    * its rows, the one-row aggregate `metric +: metrics` (via
    * `Dataset.observe`). `label` becomes the Spark job description of
    * the pass (e.g. `pregel superstep 7`); the caller's description is
    * restored afterwards. Every row is stored before it returns.
    *
    * Observed aggregates merge their per-task partials in task
    * COMPLETION order, so a floating-point `sum` would not replay bit
    * for bit between runs: observe exact aggregates (`count`, `max`,
    * `bit_xor`, integral sums, [[CheckpointPolicy.exactSum]]). */
  def pinObserved(df: DataFrame, label: String, key: Option[String] = None)(
      metric: Column, metrics: Column*): (DataFrame, Row) =
    described(df, label) {
      if (key.exists(storedRead(df, _))) (df, df.agg(metric, metrics: _*).head())
      else {
        val obs = Observation()
        val pinned = keyed(df.observe(obs, metric, metrics: _*), key)(store(df, eager = true))
        (pinned, Await.result(obs.future, Duration.Inf))
      }
    }

  /** The session's store: `checkpoint` into the checkpoint directory when
    * one is set, else `localCheckpoint`. */
  private def store(df: DataFrame, eager: Boolean): DataFrame => DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) _.checkpoint(eager = true)
    else _.localCheckpoint(eager = eager)

  /** Every leaf of the analyzed plan is a file relation (checked first:
    * the analyzed plan is already built, so a loop's pinned state pays
    * no planning here), and the physical plan runs no exchange and comes
    * out hash-partitioned on `key`. */
  private def storedRead(df: DataFrame, key: String): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    } && {
      val plan = executed(df)
      plan.find(_.isInstanceOf[Exchange]).isEmpty &&
        hashCount(plan.outputPartitioning, keyOf(plan.output, key)).isDefined
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
    val plan = executed(source)
    val n = partitions(pinned)
    pinned.queryExecution.analyzed match {
      case rdd: LogicalRDD
          if hashCount(plan.outputPartitioning, keyOf(plan.output, key)).contains(n) =>
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

  /** AQE's current plan of `df` (its final plan once `df` has run). */
  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The partition count of `p` if it hash-partitions on `key` alone. */
  private def hashCount(p: Partitioning, key: Attribute): Option[Int] = p match {
    case h: HashPartitioning if h.expressions.size == 1 && h.expressions.head.semanticEquals(key) =>
      Some(h.numPartitions)
    case c: PartitioningCollection => c.partitionings.view.flatMap(hashCount(_, key)).headOption
    case _ => None
  }

  /** Order-independent sum of a fractional column for [[pinObserved]]:
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
