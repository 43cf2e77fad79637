package graft

import org.apache.spark.sql.DataFrame

import graft.core.Graph
import graft.dedup.DedupIndex
import graft.sources.{CatalogTables, GraphIO}

/** Store mutations pin through the session: with a checkpoint directory
  * set, every frame they pin lands in it, and they leave the same tables
  * and the same family epoch as the run with executor-local pins. */
class ReliableStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The rows of every existing `<name>_<table>` and the family's epoch. */
  private def snapshot(name: String, tables: Seq[String]): (Map[String, Set[Seq[Any]]], Long) =
    (tables.filter(t => spark.catalog.tableExists(s"${name}_$t"))
      .map(t => t -> rowSet(spark.table(s"${name}_$t"))).toMap,
      CatalogTables.familyEpoch(spark, name))

  /** `mutate(name)` over a store that `create(name)` made beforehand,
    * once with local pins and once under a fresh checkpoint directory:
    * both runs end in the same snapshot, and only the mutations ran
    * under the directory, so its files are theirs. */
  private def checkReliable(tables: Seq[String], drop: String => Unit)(
      create: String => Unit)(mutate: String => Unit): Unit = {
    def run(name: String, dir: Option[String]) = {
      drop(name)
      create(name)
      dir.fold(mutate(name))(d => withCheckpointDir(d)(mutate(name)))
      snapshot(name, tables)
    }
    val dir = tempDir("graft-store")
    try {
      val (local, localEpoch) = run("rel_local", None)
      val (reliable, reliableEpoch) = run("rel_ckpt", Some(dir))
      assert(local.keySet === tables.toSet, "every table of the store is written")
      assert(reliable === local)
      assert(reliableEpoch === localEpoch)
      assert(filesUnder(dir) > 0, "no checkpoint files written")
    } finally Seq("rel_local", "rel_ckpt").foreach(drop)
  }

  private def edges(es: (String, String)*): DataFrame = es.toDF("src", "dst")

  test("graph store: appendEdges + deleteEdges pin into the checkpoint dir") {
    checkReliable(Seq("vertices", "edges", "degrees", "components", "forest"),
      GraphIO.family.drop(spark, _))(
      create = { name =>
        GraphIO.writeBucketed(Graph.index(Seq("a", "b", "c", "d", "e", "f").toDF("id"),
          edges(("a", "b"), ("b", "c"), ("d", "e")), directed = true), name, buckets = 4)
        GraphIO.buildComponents(spark, name)
        GraphIO.buildForest(spark, name)
      }) { name =>
      // the append merges two components; the delete splits one again
      GraphIO.appendEdges(spark, name, edges(("c", "d"), ("e", "f"), ("a", "b")))
      GraphIO.deleteEdges(spark, name, edges(("c", "d"), ("x", "y")))
    }
  }

  test("dedup store: merge + delete pin into the checkpoint dir") {
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    checkReliable(Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta"),
      DedupIndex.family.drop(spark, _))(
      create = { name =>
        DedupIndex.writeBucketed(DedupIndex.build(Seq(
          1L -> tX, 2L -> tX,
          5L -> "kk ll mm nn oo pp qq rr ss tt",
          7L -> "completely separate text about something else entirely here")
          .toDF("doc_id", "text"), "doc_id", "text"), name, numBuckets = 4)
        DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      }) { name =>
      DedupIndex.mergeBucketed(spark, name, Seq(
        0L -> tX, 12L -> "aa bb cc dd ee ff gg hh ii zz").toDF("doc_id", "text"),
        "doc_id", "text")
      DedupIndex.deleteBucketed(spark, name, Seq(0L, 1L, 5L).toDF("doc_id"), "doc_id")
    }
  }
}
