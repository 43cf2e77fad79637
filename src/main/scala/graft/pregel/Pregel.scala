package graft.pregel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}

/** Outcome of a Pregel run: the final state plus whether the loop reached
  * a fixed point (no vertex changed) before `maxIterations` — callers that
  * depend on full convergence for *correctness* (e.g. SCC's min-label
  * propagation) must check `converged` instead of trusting truncated
  * labels. */
final case class PregelResult(state: DataFrame, converged: Boolean, iterations: Int)

/** Vertex-centric superstep engine.
  *
  * Re-expression of the reference's pyspark_graph/algorithms/pregel.py:11-90:
  * per superstep, changed vertices evaluate a message expression and send it
  * along edges (to in-neighbours, out-neighbours, or both); inbound messages
  * are aggregated per recipient; recipients update their state; vertices
  * whose state did not change stop sending. Converges when no state changed
  * or after `maxIterations`.
  *
  * Scale hardening absent in the reference (it never persists anything —
  * its `state` plan doubles in depth per superstep):
  *  - the edges are projected once into a pinned routing table
  *    (sender, recipient, direction) that covers every send direction,
  *    so a superstep runs ONE send join;
  *  - the upsert is `state LEFT JOIN aggregated-messages` with a hit
  *    marker — one join where the reference pays join + anti-join +
  *    union (pregel.py:66-68);
  *  - the new state is pinned with [[CheckpointPolicy.pinObserved]],
  *    which reads the changed-vertex count off the pinning pass itself:
  *    lineage stays O(1) and convergence costs no extra job. A
  *    superstep is still several Spark jobs under AQE (each shuffle or
  *    broadcast stage, then the checkpoint): on a 105k-edge, 5k-vertex
  *    graph with 4 shuffle partitions, connected components measured
  *    5.5 jobs per superstep and label propagation, whose two-step mode
  *    adds a shuffle, 7.
  *
  * @param initialState  vertex state before superstep 1; may use all vertex columns
  * @param aggExpr       aggregate over [[Columns.MSG]] combining inbound messages
  * @param msgToSrc      message sent to each in-neighbour (dst -> src); may use
  *                      all vertex columns + state
  * @param msgToDst      message sent to each out-neighbour (src -> dst)
  * @param updateExpr    new state; may use all vertex columns + [[Columns.MSG]];
  *                      defaults to the aggregated message
  * @param comparison    (newState, oldState) => changed? ; default null-safe !=
  * @param maxIterations superstep cap (reference default 10, pregel.py:32)
  * @param checkpoint    where per-superstep state pins live —
  *                      [[CheckpointPolicy.Reliable]] for cluster jobs that
  *                      must survive executor loss
  * @param saltBuckets   power-law hub hardening: when > 1, inbound
  *                      messages aggregate in TWO levels — first by
  *                      (recipient, salt) with `saltBuckets` salts, then
  *                      by recipient — so a hub vertex's reduce work
  *                      spreads over `saltBuckets` reducers before the
  *                      (now tiny) final combine. ONLY sound when
  *                      `aggExpr` is self-decomposable (min/max/sum/
  *                      count-as-sum/bit ops: agg(agg(xs), agg(ys)) ==
  *                      agg(xs ++ ys)); order-sensitive or holistic
  *                      aggregates (collect_list-based hashes, exact
  *                      medians) must keep the default 0. The salt is the
  *                      sender's shuffle partition id, so results are
  *                      invariant — any grouping of a decomposable agg
  *                      yields the same total.
  *
  *                      Default OFF, deliberately: for decomposable aggs
  *                      Spark's hash aggregate already partial-combines
  *                      map-side, so a hub's reduce fan-in is bounded by
  *                      the upstream MAP-TASK count, not its degree, and
  *                      the extra exchange measured ~6x per-superstep
  *                      overhead at toy scale. Reach for this only when
  *                      map-task counts are so high (or the merge so
  *                      expensive) that even one partial row per map task
  *                      overloads a single reducer.
  * @param messageAggregator full replacement for the per-superstep
  *                      `groupBy(id).agg(aggExpr)`: a function from the
  *                      raw message frame (columns [[Columns.ID]],
  *                      [[Columns.MSG]]) to the aggregated one (same two
  *                      columns, one row per recipient). For HOLISTIC
  *                      aggregates that have a decomposable reformulation
  *                      — e.g. `mode` as count-per-(id, value) + argmax,
  *                      both partial-aggregable — this turns a per-hub
  *                      hashmap on one reducer into two skew-free hash
  *                      aggregations. When set, `aggExpr` and
  *                      `saltBuckets` are ignored.
  * @param superstepListener called after every materialized superstep with
  *                      (iteration, seconds since the previous callback) —
  *                      the progress/ops hook for multi-hour propagations
  *                      (emit metrics, watch for per-superstep time growth,
  *                      which signals lineage or checkpoint trouble).
  */
final case class Pregel(
    initialState: Column,
    aggExpr: Column,
    msgToSrc: Option[Column] = None,
    msgToDst: Option[Column] = None,
    updateExpr: Option[Column] = None,
    comparison: (Column, Column) => Column = GraphUtil.neNullSafe,
    maxIterations: Int = 10,
    checkpoint: CheckpointPolicy = CheckpointPolicy.Local,
    saltBuckets: Int = 0,
    messageAggregator: Option[DataFrame => DataFrame] = None,
    superstepListener: Option[(Int, Double) => Unit] = None) {
  import Columns._

  require(msgToSrc.nonEmpty || msgToDst.nonEmpty,
    "need at least one of msgToSrc or msgToDst")
  require(maxIterations > 0, "maxIterations must be greater than 0")

  private val FROM = "_from"
  private val DIR = "_dir"
  private val HIT = "_hit"
  private val CHANGED = "_changed"
  private val SALT = "_salt"

  def run(g: Graph): DataFrame = runWithStatus(g).state

  def runWithStatus(g: Graph): PregelResult = {
    val update = updateExpr.getOrElse(col(MSG))
    // (sender column, recipient column, message) per send direction
    // (pregel.py:77-90): msgToSrc flows dst -> src, msgToDst src -> dst
    val sends = (msgToSrc.map((DST, SRC, _)) ++ msgToDst.map((SRC, DST, _))).toSeq
    val routes = checkpoint.pin(GraphUtil.multipleUnion(sends.zipWithIndex.map {
      case ((from, to, _), d) => g.edges.select(col(from).as(FROM), col(to).as(ID), lit(d).as(DIR))
    }))
    val message = sends.indices.tail.foldLeft(col("_m0")) { (m, d) =>
      when(col(DIR) === d, col(s"_m$d")).otherwise(m)
    }

    var state = g.vertices
      .withColumn(STATE, initialState)
      .withColumn(OLD_STATE, lit(null))
    var changed = state
    var converged = false
    var stepClock = System.nanoTime()
    var i = 0
    while (i < maxIterations && !converged) {
      val messages = changed
        .select(col(ID).as(FROM) +: sends.zipWithIndex.map { case ((_, _, m), d) => m.as(s"_m$d") }: _*)
        .join(routes, Seq(FROM))
        .select(col(ID), message.as(MSG))

      val aggMessages =
        if (messageAggregator.nonEmpty) messageAggregator.get(messages)
        else if (saltBuckets > 1)
          messages
            .withColumn(SALT, pmod(spark_partition_id().cast("long"), lit(saltBuckets.toLong)))
            .groupBy(col(ID), col(SALT)).agg(aggExpr.as(MSG))
            .groupBy(col(ID)).agg(aggExpr.as(MSG))
        else messages.groupBy(col(ID)).agg(aggExpr.as(MSG))

      // upsert: every vertex that received a message (even one whose
      // aggregate is NULL) takes `update` and remembers its previous
      // state; the others keep both columns as they were
      val hit = col(HIT).isNotNull
      val next = state.join(aggMessages.withColumn(HIT, lit(true)), Seq(ID), "left")
        .select(state.columns.toSeq.map {
          case STATE => when(hit, update).otherwise(col(STATE)).as(STATE)
          case OLD_STATE => when(hit, col(STATE)).otherwise(col(OLD_STATE)).as(OLD_STATE)
          case c => col(c)
        } :+ hit.as(HIT): _*)
        .withColumn(CHANGED, coalesce(col(HIT) && comparison(col(STATE), col(OLD_STATE)), lit(false)))
        .drop(HIT)

      i += 1
      val (pinned, observed) = checkpoint.pinObserved(next, s"pregel superstep $i",
        count(when(col(CHANGED), lit(1))))
      state = pinned.drop(CHANGED)
      changed = pinned.filter(col(CHANGED)).drop(CHANGED)
      converged = observed.getLong(0) == 0
      superstepListener.foreach { f =>
        val now = System.nanoTime()
        f(i, (now - stepClock) / 1e9)
        stepClock = now
      }
    }
    PregelResult(state, converged, i)
  }
}
