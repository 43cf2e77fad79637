package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.DedupIndex
import graft.similarity.AnnIndex

/** `corpus_dedup_ann`: a seeded text corpus with planted near-duplicates
  * and a clustered embedding set. Set-up builds the MinHash dedup index
  * with its near-duplicate cluster table and the IVF vector index; each
  * round folds a document batch in (merge + cluster advance), deletes a
  * few documents, runs a top-k query batch and appends vectors. */
final class CorpusDedupAnn(ctx: Ctx) extends Workload {
  import CorpusDedupAnn._
  private val spark = ctx.spark
  import spark.implicits._

  private val docs = mutable.LinkedHashMap.empty[Long, Gen.Doc]
  private var nextDoc = 1L
  private var idx: DedupIndex.Index = _
  private var ncl: DataFrame = _
  private val centers = Gen.centers(ctx.seed, Centers, Dim)
  private val items = mutable.LinkedHashMap.empty[Long, Array[Long]]
  private var nextItem = 0L
  private var ann: AnnIndex.Index = _
  private var queryRound = 0L
  private val shingleCache = mutable.HashMap.empty[Long, Set[String]]

  private def docsDf(ds: Seq[Gen.Doc]): DataFrame =
    ds.map(d => (d.id, d.text)).toDF("id", "text").repartition(ctx.cpus)

  private def newDocs(count: Int, salt: Long): Seq[Gen.Doc] = {
    val ds = Gen.corpus(ctx.seed * 1000003L + salt, nextDoc, count, Vocab, EditRates,
      NearDupShare, CopyShare, docs.values.toIndexedSeq)
    nextDoc += count
    ds
  }

  private def newVectors(count: Int, salt: Long): Seq[(Long, Array[Float])] = {
    val vs = Gen.vectors(ctx.seed * 7919L + salt, nextItem, count, centers, Noise)
    nextItem += count
    vs
  }

  private def keep(vs: Seq[(Long, Array[Float])]): Unit =
    vs.foreach { case (id, v) => items(id) = v.map(Oracle.quantize) }

  def setup(): Unit = {
    val d0 = newDocs(Docs, 0)
    val fpD = new Fingerprint
    d0.foreach { d => docs(d.id) = d; fpD.addText(d.id, d.text) }
    ctx.fingerprints("corpus") = fpD.render
    val v0 = newVectors(Vectors, 0)
    val fpV = new Fingerprint
    v0.foreach { case (id, v) => fpV.addVector(id, v) }
    ctx.fingerprints("vectors") = fpV.render
    keep(v0)
    idx = ctx.step("dedup", "build")(DedupIndex.build(docsDf(d0), "id", "text"))
    ncl = ctx.step("dedup", "near_clusters")(idx.nearClusters(Threshold).localCheckpoint())
    val vDf = v0.toDF("id", "v").repartition(ctx.cpus)
    ann = ctx.step("similarity", "build") {
      val a = AnnIndex.build(vDf, "id", "v", k = Cells, maxIterations = 2)
      a.cells.count()
      a
    }
  }

  /** The index builds in set-up run every plan shape the loop uses. */
  override def warmup(): Unit = ()

  /** Check the representative-level cluster table against the planted
    * truth and record recall and precision. */
  private def checkClusters(table: Array[(Long, Long)]): Option[String] = {
    val label = table.toMap
    val reps = idx.clusters.select(col("keep_id"), col("ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val repOf = mutable.HashMap.empty[Long, Long]
    reps.foreach { case (k, ids) => ids.foreach(i => repOf(i) = k) }
    val cluster = (id: Long) => label(repOf(id))
    val badLabel = table.find { case (id, c) => c > id || !label.get(c).contains(c) }
    if (badLabel.nonEmpty) return Some(s"label ${badLabel.get} is not the minimum of its cluster")
    if (label.size != reps.length) return Some(s"${label.size} labelled representatives, want ${reps.length}")
    if (repOf.size != docs.size || !docs.keys.forall(repOf.contains))
      return Some(s"index holds ${repOf.size} documents, want ${docs.size}")
    val byText = docs.values.groupBy(_.text).values.filter(_.size > 1)
    if (byText.exists(g => g.map(d => repOf(d.id)).toSet.size > 1))
      return Some("exact copies with different representatives")
    // planted pairs: two live documents of one family
    var planted = 0L; var found = 0L; var sureMissed = 0L
    docs.values.groupBy(_.family).values.filter(_.size > 1).foreach { fam =>
      val f = fam.toIndexedSeq
      for (i <- f.indices; j <- i + 1 until f.size) {
        planted += 1
        val same = cluster(f(i).id) == cluster(f(j).id)
        if (same) found += 1
        else if (Oracle.jaccard(sh(f(i)), sh(f(j))) >= SureJaccard) sureMissed += 1
      }
    }
    // co-clustered document pairs, and how many of them are planted
    val members = docs.values.groupBy(d => cluster(d.id)).values
    val together = members.map(m => m.size.toLong * (m.size - 1) / 2).sum
    val trueTogether = members.map(_.groupBy(_.family).values.map(g => g.size.toLong * (g.size - 1) / 2).sum).sum
    if (ctx.timed) {
      ctx.figures("dedup_recall") = if (planted > 0) found.toDouble / planted else 1.0
      ctx.figures("pair_precision") = if (together > 0) trueTogether.toDouble / together else 1.0
    }
    if (sureMissed > 0) Some(s"$sureMissed planted pairs with Jaccard >= $SureJaccard not clustered")
    else None
  }

  private def sh(d: Gen.Doc): Set[String] = shingleCache.getOrElseUpdate(d.id, Oracle.shingles(d.text))

  private def clusterRows(df: DataFrame): Array[(Long, Long)] =
    df.select(col("id"), col("cluster_id")).collect().map(r => r.getLong(0) -> r.getLong(1))

  def round(r: Int): Unit = {
    // fold a document batch into the index, then advance the clusters
    val batch = newDocs(BatchDocs, 2 * r + 1000)
    val bDf = docsDf(batch)
    val merged = ctx.call("ingest", "dedup", "merge", BatchDocs) {
      DedupIndex.mergeDetailed(idx, bDf, "id", "text")
    } { _ => None }
    merged.foreach { m =>
      batch.foreach(d => docs(d.id) = d)
      idx = m.index
      ctx.call("cluster", "dedup", "advance_clusters") {
        val n = DedupIndex.advanceClusters(m, ncl, Threshold).localCheckpoint()
        (n, clusterRows(n))
      } { case (_, rows) => checkClusters(rows) }.foreach { case (n, _) => ncl = n }
    }

    // a top-k query batch against the IVF index
    queryRound += 1
    val queries = Gen.vectors(ctx.seed * 31L + queryRound, QueryIdBase + queryRound * Queries,
      Queries, centers, Noise)
    val qDf = queries.toDF("id", "v")
    ctx.call("query", "similarity", "topk") {
      ann.topK(qDf, "id", "v", K, nprobe = Probes).select(col("qid"), col("nid"), col("qdot")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    } { got =>
      val byQ = got.groupBy(_._1)
      val wrongDot = got.find { case (q, n, d) =>
        val qv = queries.find(_._1 == q).get._2.map(Oracle.quantize)
        val nv = items(n)
        qv.indices.map(i => qv(i) * nv(i)).sum != d
      }
      var hits = 0L
      queries.foreach { case (q, v) =>
        val exact = Oracle.topK((q, v.map(Oracle.quantize)), items, K).toSet
        hits += byQ.getOrElse(q, Array.empty).count(t => exact(t._2))
      }
      if (ctx.timed) ctx.figures("ann_recall_at_10") = hits.toDouble / (K * Queries)
      if (byQ.size != Queries || byQ.values.exists(_.length != K))
        Some(s"${byQ.size} queries answered, want $Queries with $K neighbours each")
      else wrongDot.map(t => s"score of $t is not the quantized dot product")
    }

    // append vectors under the frozen quantizer
    val add = newVectors(AppendVectors, 2 * r + 2000)
    val aDf = add.toDF("id", "v")
    ctx.call("ingest", "similarity", "append", AppendVectors) {
      val a = AnnIndex.append(ann, aDf, "id", "v")
      val cells = a.cells.localCheckpoint()
      (a.copy(cells = cells), cells.count())
    } { case (_, n) =>
      if (n == items.size + AppendVectors) None else Some(s"$n cells rows, want ${items.size + AppendVectors}")
    }.foreach { case (a, _) => ann = a; keep(add) }

    // delete documents and repair the clusters
    val live = docs.keys.toIndexedSeq
    val rnd = new java.util.SplittableRandom(ctx.seed * 13L + r)
    val del = Seq.fill(DeleteDocs)(live(rnd.nextInt(live.size))).distinct
    val dDf = del.toDF("id")
    ctx.call("delete", "dedup", "delete", del.size) {
      val res = DedupIndex.deleteDetailed(idx, dDf, "id")
      val n = DedupIndex.repairClustersAfterDelete(res, ncl, Threshold).localCheckpoint()
      (res.index, n, clusterRows(n))
    } { case (index, n, rows) =>
      idx = index
      ncl = n
      del.foreach(docs.remove)
      checkClusters(rows)
    }
  }
}

object CorpusDedupAnn {
  val Docs = 3000
  val BatchDocs = 300
  val DeleteDocs = 60
  val Vocab = 4000
  val EditRates = Seq(0.02, 0.05, 0.1, 0.2)
  val NearDupShare = 0.15
  val CopyShare = 0.03
  val Threshold = 0.6
  /** planted pairs this similar are found by LSH with near certainty */
  val SureJaccard = 0.8
  val Vectors = 4000
  val AppendVectors = 300
  val Dim = 32
  val Centers = 24
  val Noise = 0.6
  val Cells = 16
  val Queries = 32
  val K = 10
  val Probes = 2
  val QueryIdBase = 1000000000L
}
