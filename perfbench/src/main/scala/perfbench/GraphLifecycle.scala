package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Columns, Graph}
import graft.sources.GraphIO

/** `graph_lifecycle`: a seeded bucketed graph store above the driver cap
  * (built once in set-up with its component table), then a loop that
  * interleaves batch-sized appends and deletes with component and degree
  * lookups. */
final class GraphLifecycle(ctx: Ctx) extends Workload {
  import GraphLifecycle._
  private val spark = ctx.spark
  private val name = s"pb_store_${ProcessHandle.current().pid()}_${ctx.seed.abs}"
  private val rnd = new SplittableRandom(ctx.seed ^ 0x5bd1e995L)

  private var comm: Gen.Communities = _
  private var surrogate: Map[Long, Long] = _
  private var allVertices: Array[Long] = _
  // the benchmark's own copy of the live edge set (raw ids)
  private val live = mutable.LinkedHashSet.empty[(Long, Long)]
  private var oracleCache: Option[mutable.HashMap[Long, Long]] = None

  private def warehouse: File = new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  private def storeFiles: Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    Option(warehouse.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(name + "_"))
      .flatMap(walk).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => f.getName -> f.length()).toMap
  }

  private def components: mutable.HashMap[Long, Long] = oracleCache.getOrElse {
    val c = Oracle.components(allVertices, live.iterator.map { case (a, b) => (surrogate(a), surrogate(b)) })
    oracleCache = Some(c); c
  }

  def setup(): Unit = {
    comm = Gen.communityGraph(ctx.seed, Vertices, EdgeCount, 6, 60)
    val fp = new Fingerprint
    comm.edges.pairs.foreach { case (a, b) => fp.add(a, b); live += ((a, b)) }
    ctx.fingerprints("store") = fp.render
    import spark.implicits._
    val vDf = spark.range(0, Vertices, 1, ctx.cpus).toDF(Columns.ID)
    val eDf = comm.edges.pairs.toSeq.toDF(Columns.SRC, Columns.DST).repartition(ctx.cpus)
    val g = ctx.call("setup", "core", "index") {
      val gi = Graph.index(vDf, eDf)
      Graph(gi.vertices.localCheckpoint(), gi.edges.localCheckpoint())
    } { gi => if (gi.edges.count() == EdgeCount) None else Some("edge count changed by indexing") }
      .getOrElse(sys.error("indexing failed"))
    surrogate = g.vertices.select(col(Columns.OLD_ID), col(Columns.ID)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    allVertices = surrogate.values.toArray.sorted
    ctx.step("sources", "write_bucketed")(GraphIO.writeBucketed(g, name, Buckets))
    ctx.step("sources", "build_components")(GraphIO.buildComponents(spark, name))
  }

  /** New edges: mostly inside a community, a few bridging two. */
  private def appendBatch(): Seq[(Long, Long)] = {
    val out = mutable.LinkedHashSet.empty[(Long, Long)]
    while (out.size < AppendSize) {
      val s = rnd.nextInt(Vertices)
      val d =
        if (rnd.nextDouble() < BridgeShare) rnd.nextInt(Vertices)
        else { val (lo, hi) = comm.bounds(comm.community(s)); lo + rnd.nextInt(hi - lo) }
      val e = (s.toLong, d.toLong)
      if (s != d && !live.contains(e)) out += e
    }
    out.toSeq
  }

  /** Live edges of a few random communities: a delete batch that is
    * local, like removing one site's links, so the component repair it
    * triggers stays bounded by those communities. Communities are added
    * until they hold twice the batch, so every batch has the same size. */
  private def deleteBatch(): Seq[(Long, Long)] = {
    val byCommunity = live.toIndexedSeq.groupBy { case (a, _) => comm.community(a.toInt) }
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.toSeq.map(c => byCommunity.get(c).fold(0)(_.size)).sum < 2 * DeleteSize)
      picked += comm.community(rnd.nextInt(Vertices))
    val pool = picked.toIndexedSeq.flatMap(c => byCommunity.getOrElse(c, IndexedSeq.empty))
    val out = mutable.LinkedHashSet.empty[(Long, Long)]
    while (out.size < DeleteSize) out += pool(rnd.nextInt(pool.size))
    out.toSeq
  }

  /** Run one mutation, counting the files and bytes it wrote. */
  private def write(op: String, batch: Seq[(Long, Long)])(run: DataFrame => Unit): Unit = {
    val before = storeFiles
    import spark.implicits._
    val df = batch.toDF(Columns.SRC, Columns.DST)
    ctx.call("write", "sources", op, batch.size)(run(df)) { _ => None }
    if (ctx.timed) {
      val fresh = storeFiles.filter { case (f, _) => !before.contains(f) }
      ctx.add("files_written", fresh.size)
      ctx.add("bytes_written", fresh.values.sum.toDouble)
      ctx.add("delta_bytes", batch.size * 16.0)
    }
  }

  private def lookupIds(touched: Seq[(Long, Long)]): Seq[Long] = {
    val ids = mutable.LinkedHashSet.empty[Long]
    touched.iterator.flatMap { case (a, b) => Iterator(a, b) }.take(LookupSize / 2)
      .foreach(v => ids += surrogate(v))
    while (ids.size < LookupSize) ids += allVertices(rnd.nextInt(allVertices.length))
    ids.toSeq
  }

  private def reads(touched: Seq[(Long, Long)]): Unit = (0 until ReadsPerBatch).foreach { i =>
    val ids = lookupIds(touched)
    if (i % 2 == 0)
      ctx.call("read", "sources", "read_components") {
        GraphIO.readComponents(spark, name).filter(col("id").isin(ids: _*))
          .select(col("id"), col("component")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } { got =>
        val want = components
        val bad = ids.filter(v => !got.get(v).contains(want(v)))
        if (bad.isEmpty) None else Some(s"${bad.size} of ${ids.size} labels differ, e.g. ${bad.head}")
      }
    else
      ctx.call("read", "sources", "read_degrees") {
        GraphIO.readDegrees(spark, name).filter(col("id").isin(ids: _*))
          .select(col("id"), col("out_degree"), col("in_degree")).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      } { got =>
        val idSet = ids.toSet
        val want = mutable.HashMap.empty[Long, (Long, Long)]
        live.foreach { case (a, b) =>
          val (sa, sb) = (surrogate(a), surrogate(b))
          if (idSet(sa)) { val (o, i) = want.getOrElse(sa, (0L, 0L)); want(sa) = (o + 1, i) }
          if (idSet(sb)) { val (o, i) = want.getOrElse(sb, (0L, 0L)); want(sb) = (o, i + 1) }
        }
        val bad = ids.filter(v => got.getOrElse(v, (0L, 0L)) != want.getOrElse(v, (0L, 0L)))
        if (bad.isEmpty) None else Some(s"${bad.size} of ${ids.size} degrees differ, e.g. ${bad.head}")
      }
  }

  private def append(): Seq[(Long, Long)] = {
    val add = appendBatch()
    write("append_edges", add)(GraphIO.appendEdges(spark, name, _))
    live ++= add; oracleCache = None
    add
  }

  private def delete(): Seq[(Long, Long)] = {
    val del = deleteBatch()
    write("delete_edges", del)(GraphIO.deleteEdges(spark, name, _))
    live --= del; oracleCache = None
    del
  }

  /** Both lookups once, then `WarmupWrites` append/delete pairs: the
    * first writes of a session run about 1.3x slower than later ones
    * while their code paths compile, so timing them would measure the JIT.
    * The warm-up writes mutate the store like timed ones; the oracle
    * follows them and the loop's lookups check the result. */
  override def warmup(): Unit = {
    ctx.step("sources", "read_components")(GraphIO.readComponents(spark, name).filter(col("id") === 0L).count())
    ctx.step("sources", "read_degrees")(GraphIO.readDegrees(spark, name).filter(col("id") === 0L).count())
    (1 to WarmupWrites).foreach { _ => append(); delete() }
  }

  def round(r: Int): Unit = {
    reads(append())
    reads(delete())
  }

  override def finish(): Unit =
    ctx.figures("stored_bytes_per_edge") = storeFiles.values.sum.toDouble / live.size

  override def teardown(): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(name + "_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
}

object GraphLifecycle {
  val Vertices = 6000
  val EdgeCount = 101000
  val Buckets = 8
  val AppendSize = 1000
  val DeleteSize = 300
  val BridgeShare = 0.02
  val LookupSize = 200
  val ReadsPerBatch = 4
  val WarmupWrites = 1
}
