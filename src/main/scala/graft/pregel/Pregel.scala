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
  *    lineage stays O(1) and convergence costs no extra job. With a
  *    session checkpoint directory set the pins go there, so a cluster
  *    run survives executor loss;
  *  - the routing table is pinned keyed on the sender and the state on
  *    the id (GraphX's co-partitioned routing table and vertex view), so
  *    the send join and the upsert need no exchange and the message
  *    `groupBy` is a superstep's one shuffle. The initial state is pinned
  *    the same way, with every vertex marked changed, so superstep 1
  *    runs the same plan (and generated code) as every later one. Under
  *    AQE a superstep is then two Spark jobs, the message shuffle and the
  *    checkpoint, and each keyed pin before the loop one (its layout
  *    shuffle; superstep 1 stores its rows). On a 105k-edge, 5k-vertex
  *    graph with 4 shuffle partitions, connected components ran 11 jobs
  *    over 4 supersteps, the caller's collect included; label
  *    propagation, whose two-step mode adds a shuffle, ran 9 jobs over 2
  *    supersteps.
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
  * @param messageAggregator full replacement for the per-superstep
  *                      `groupBy(id).agg(aggExpr)`: a function from the
  *                      raw message frame (columns [[Columns.ID]],
  *                      [[Columns.MSG]]) to the aggregated one (same two
  *                      columns, one row per recipient). For HOLISTIC
  *                      aggregates that have a decomposable reformulation
  *                      — e.g. `mode` as count-per-(id, value) + argmax,
  *                      both partial-aggregable — this turns a per-hub
  *                      hashmap on one reducer into two skew-free hash
  *                      aggregations. When set, `aggExpr` is ignored.
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

  def run(g: Graph): DataFrame = runWithStatus(g).state

  def runWithStatus(g: Graph): PregelResult = {
    val update = updateExpr.getOrElse(col(MSG))
    // (sender column, recipient column, message) per send direction
    // (pregel.py:77-90): msgToSrc flows dst -> src, msgToDst src -> dst
    val sends = (msgToSrc.map((DST, SRC, _)) ++ msgToDst.map((SRC, DST, _))).toSeq
    // keyed on the sender, so the send join meets the id-keyed state
    // without an exchange
    val routes = CheckpointPolicy.pin(GraphUtil.multipleUnion(sends.zipWithIndex.map {
      case ((from, to, _), d) => g.edges.select(col(from).as(FROM), col(to).as(ID), lit(d).as(DIR))
    }), Some(FROM))
    val message = sends.indices.tail.foldLeft(col("_m0")) { (m, d) =>
      when(col(DIR) === d, col(s"_m$d")).otherwise(m)
    }

    val init = g.vertices.withColumn(STATE, initialState)
    var pinned = CheckpointPolicy.pin(init
      .withColumn(OLD_STATE, lit(null).cast(init.schema(STATE).dataType))
      .withColumn(CHANGED, lit(true)), Some(ID))
    var state = pinned.drop(CHANGED)
    var converged = false
    var stepClock = System.nanoTime()
    var i = 0
    while (i < maxIterations && !converged) {
      // the hints keep both joins shuffled hash joins that build the
      // vertex-sized side: no broadcast, no sort of the routing table
      val messages = pinned.filter(col(CHANGED))
        .select(col(ID).as(FROM) +: sends.zipWithIndex.map { case ((_, _, m), d) => m.as(s"_m$d") }: _*)
        .hint("shuffle_hash")
        .join(routes, Seq(FROM))
        .select(col(ID), message.as(MSG))

      val aggMessages =
        (if (messageAggregator.nonEmpty) messageAggregator.get(messages)
        else messages.groupBy(col(ID)).agg(aggExpr.as(MSG)))
          .withColumn(HIT, lit(true)).hint("shuffle_hash")

      // upsert: every vertex that received a message (even one whose
      // aggregate is NULL) takes `update` and remembers its previous
      // state; the others keep both columns as they were
      val hit = col(HIT).isNotNull
      val next = state.join(aggMessages, Seq(ID), "left")
        .select(state.columns.toSeq.map {
          case STATE => when(hit, update).otherwise(col(STATE)).as(STATE)
          case OLD_STATE => when(hit, col(STATE)).otherwise(col(OLD_STATE)).as(OLD_STATE)
          case c => col(c)
        } :+ hit.as(HIT): _*)
        .withColumn(CHANGED, coalesce(col(HIT) && comparison(col(STATE), col(OLD_STATE)), lit(false)))
        .drop(HIT)

      i += 1
      val (stepped, observed) = CheckpointPolicy.pinObserved(
        next, s"pregel superstep $i", Some(ID))(
        count(when(col(CHANGED), lit(1))))
      pinned = stepped
      state = pinned.drop(CHANGED)
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
