import org.apache.spark.sql.functions._

/** Dev harness (test scope only): times each lifecycle phase of the
  * g64_refresh_labels body so the optimization round can see where the
  * seconds go (writeBucketed / buildComponents / buildForest /
  * deleteEdges / appendEdges / refreshLabels / readback).
  *
  *   SMOKE_SF_DIR=/root/testdata/sf0.1 SMOKE_CPUS=32 \
  *     sbt 'Test/runMain LifecyclePhases'
  */
object LifecyclePhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SMOKE_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SMOKE_CPUS", "32").toInt
    val spark = graft.LocalSession(cpus)
    val s = spark
    val d = sfDir
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $label%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    import graft.queries.Tables
    // replicate the g64 body with per-phase timing
    val cust = Tables.customer(s, d)
      .filter(pmod(col("c_custkey"), lit(2L)) === 1L)
      .select(
        (col("c_custkey").cast("long") + 10000L).as("cid"),
        col("c_nationkey").cast("long").as("nk"))
    val nat = Tables.nation(s, d).select(
      col("n_nationkey").cast("long").as("nk"),
      (col("n_regionkey").cast("long") + 1000L).as("rk"))
    val e1 = cust.select(col("cid").as("src"), col("nk").as("dst"))
    val e2 = cust.join(nat, Seq("nk"))
      .select(col("cid").as("src"), col("rk").as("dst"))
    val e3 = nat.select(col("nk").as("src"), col("rk").as("dst"))
    val rawE = e1.unionByName(e2).unionByName(e3)
    val rawV = rawE.select(col("src").as("id"))
      .union(rawE.select(col("dst"))).distinct()
    val name = s"phasetool_${System.nanoTime()}"
    timed("writeBucketed") {
      graft.sources.GraphIO.writeBucketed(
        graft.core.Graph.index(rawV, rawE, directed = false), name, buckets = 8)
    }
    timed("buildComponents") { graft.sources.GraphIO.buildComponents(s, name) }
    timed("buildForest") { graft.sources.GraphIO.buildForest(s, name) }
    timed("deleteEdges") {
      graft.sources.GraphIO.deleteEdges(s, name,
        e1.filter(pmod(col("src") - 10000L, lit(3L)) === 0L)
          .unionByName(e2.filter(pmod(col("src") - 10000L, lit(5L)) === 0L)))
    }
    timed("appendEdges") {
      graft.sources.GraphIO.appendEdges(s, name,
        e1.filter(pmod(col("src") - 10000L, lit(15L)) === 0L))
    }
    timed("refreshLabels") { graft.sources.GraphIO.refreshLabels(s, name) }
    timed("readback") {
      val v = s.table(s"${name}_vertices")
      val m = graft.sources.GraphIO.readComponents(s, name)
        .join(v.select(col("id"), col("old_id")), Seq("id"))
      val reps = m.groupBy(col("component"))
        .agg(min(col("old_id")).as("component_rep"))
      m.join(reps, Seq("component"))
        .select(col("old_id").as("member_id"), col("component_rep")).count()
    }
    Seq("vertices", "edges", "degrees", "components", "forest",
      "refresh_pending").foreach(t => s.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    s.sql(s"DROP TABLE IF EXISTS ${name}__epoch")
    spark.stop()
  }
}
