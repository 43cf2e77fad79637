package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph, GraphUtil}

/** Maximal independent set by deterministic Luby rounds — the classic
  * symmetry-breaking primitive (scheduling conflict-free work, graph
  * coloring seeds, landmark selection over near-duplicate neighborhoods).
  * Each round every undecided vertex draws a priority and joins the set
  * iff it beats every undecided neighbor; winners' neighbors drop out.
  * Expected O(log n) rounds (Luby 1986).
  *
  * The "draw" is a pure (vertex, round) hash — [[graft.sketch.Kmv]]'s
  * 48-bit sha256 prefix — with the vertex id as tiebreak, so the whole
  * run is deterministic, partitioning-independent, and replayable bit
  * for bit by any engine with sha256 (the same auditability device as
  * d17/d18).
  *
  * Scale shape: a round is one neighbor equi-join + one combinable
  * min(struct) aggregate + two anti-joins, all keyed on vertex id — no
  * windows, no per-vertex reducer. The undecided set only shrinks
  * (winners and their neighbors leave every round), frames are
  * checkpointed per round (lineage O(1)), and hitting the round cap
  * before the set empties fails loudly instead of returning a
  * non-maximal set.
  */
object MaximalIndependentSet {
  import Columns._

  /** MIS members as (id, round) — the round each vertex joined. Runs on
    * the canonicalized undirected simple graph. Isolated vertices (and
    * vertices only touching self-loops) all join in round 1. */
  def run(g: Graph,
      maxIterations: Int = 30): DataFrame = {
    val spark = g.vertices.sparkSession
    val canon = GraphUtil.orderEdges(g.edges).select(col(SRC), col(DST))
    val sym = CheckpointPolicy.pin(
      canon.unionAll(canon.select(col(DST).as(SRC), col(SRC).as(DST))))
    var und = CheckpointPolicy.pin(g.vertices.select(col(ID)))
    var undCount = und.count()
    var mis = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add(ID, "long").add("round", "int"))
    var r = 0
    while (undCount > 0L && r < maxIterations) {
      r += 1
      val pri = und.withColumn("_p", graft.sketch.Kmv.portableHash(
        concat(col(ID).cast("string"), lit("#"), lit(r))))
      // min (priority, id) among each undecided vertex's undecided
      // neighbors; vertices with no undecided neighbor win unopposed
      val nbrMin = sym
        .join(pri.select(col(ID).as(DST), col("_p").as("_np")), Seq(DST))
        .join(und.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
        .groupBy(col(SRC))
        .agg(min(struct(col("_np").as("p"), col(DST).as("i"))).as("_mn"))
        .withColumnRenamed(SRC, ID)
      val win = CheckpointPolicy.pin(pri.join(nbrMin, Seq(ID), "left")
        .filter(col("_mn").isNull ||
          struct(col("_p").as("p"), col(ID).as("i")) < col("_mn"))
        .select(col(ID)))
      val out = sym.join(win.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
        .select(col(DST).as(ID)).distinct()
      mis = CheckpointPolicy.pin(mis.unionByName(
        win.select(col(ID), lit(r).as("round"))))
      und = CheckpointPolicy.pin(und
        .join(win, Seq(ID), "left_anti")
        .join(out, Seq(ID), "left_anti"))
      undCount = und.count()
    }
    require(undCount == 0L,
      s"MIS did not settle within $maxIterations rounds ($undCount undecided)")
    mis
  }
}
