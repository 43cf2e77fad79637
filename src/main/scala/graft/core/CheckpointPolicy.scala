package graft.core

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{coalesce, lit, sum}
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
  * it off the pinning pass itself. Under AQE a round then costs one job
  * per shuffle or broadcast stage plus the checkpoint job: a Pregel
  * connected-components superstep on a 105k-edge graph measured 5.5
  * jobs, where a lazy pin followed by a separate count cost 10.25.
  */
sealed trait CheckpointPolicy {
  /** Pin `df`: truncate lineage and materialize it now. */
  def pin(df: DataFrame): DataFrame

  /** Pin `df` and return, from the same pass over its rows, the one-row
    * aggregate `metric +: metrics` (via `Dataset.observe`). `label`
    * becomes the Spark job description of the pass (e.g. `pregel
    * superstep 7`); the caller's description is restored afterwards.
    *
    * Observed aggregates merge their per-task partials in task
    * COMPLETION order, so a floating-point `sum` would not replay bit
    * for bit between runs: observe exact aggregates (`count`, `max`,
    * `bit_xor`, integral sums, [[CheckpointPolicy.exactSum]]). */
  def pinObserved(df: DataFrame, label: String, metric: Column, metrics: Column*): (DataFrame, Row) =
    CheckpointPolicy.described(df, label) {
      val obs = Observation()
      val pinned = pin(df.observe(obs, metric, metrics: _*))
      (pinned, Await.result(obs.future, Duration.Inf))
    }
}

object CheckpointPolicy {

  case object Local extends CheckpointPolicy {
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
  }

  /** No pinning at all: `pin` returns the frame unchanged, so every
    * round re-evaluates its input plan. WRONG for long loops (lineage
    * doubles per round — the reference's failure this trait exists to
    * fix) but RIGHT when the loop-invariant inputs are already
    * materialized in a layout the per-round plan exploits: a
    * checkpointed frame reports UnknownPartitioning under AQE, so
    * localCheckpoint-pinning the routing table of a BUCKETED edge table
    * ([[graft.sources.GraphIO.writeBucketed]]) would force the src
    * exchange back into every round, while re-reading the bucketed
    * table costs a scan and NO shuffle (GraphIOSpec asserts both
    * sides). Use for the static side of an iteration over bucketed
    * storage; keep Local/Reliable for the evolving per-round state.
    *
    * `pinObserved` runs no pass of its own to observe, so it computes
    * the metrics with one plain aggregate and returns `df` unpinned. */
  case object Passthrough extends CheckpointPolicy {
    def pin(df: DataFrame): DataFrame = df

    override def pinObserved(
        df: DataFrame, label: String, metric: Column, metrics: Column*): (DataFrame, Row) =
      described(df, label)((df, df.agg(metric, metrics: _*).head()))
  }

  case object Reliable extends CheckpointPolicy {
    def pin(df: DataFrame): DataFrame = {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "CheckpointPolicy.Reliable needs spark.sparkContext.setCheckpointDir(...)")
      df.checkpoint(eager = true)
    }
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
