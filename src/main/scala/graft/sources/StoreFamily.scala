package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** One persisted table family: the `<name>_<table>` catalog tables a
  * store owns, declared by a table spec, and the single writer contract
  * every store shares. The graph store ([[GraphIO]]), the dedup index
  * ([[graft.dedup.DedupIndex]]) and the vector index
  * ([[graft.similarity.AnnIndex]]) are each one instance.
  *
  *  - `layout`: each table's physical layout ([[StoreFamily.Bucketed]],
  *    [[StoreFamily.Partitioned]] or [[StoreFamily.Plain]]);
  *  - `base`: the table whose catalog bucket spec is the family's bucket
  *    count (every bucketed table of a family shares it, so bucketed
  *    joins between them plan no exchange);
  *  - `derived`: the tables a rewrite of the base makes stale, dropped by
  *    [[invalidate]] (marker tables without a layout included).
  *
  * Each instance owns its own lock: mutations of one store serialize
  * within this JVM, different stores never wait on each other. Internal
  * to the engine: the stores' public faces are the API.
  */
private[graft] final class StoreFamily(
    val layout: Map[String, StoreFamily.Layout],
    base: Option[String] = None,
    derived: Seq[String] = Nil) {
  import StoreFamily._

  /** Every table the family can own. */
  private val tables: Seq[String] = (layout.keys.toSeq ++ derived).distinct

  private val lock = new Object

  /** Every mutation runs under BOTH guards: the family lock serializes
    * writers within this JVM (two interleaved read-modify-write cycles
    * would fold their deltas into the same base and lose one update), and
    * the family epoch ([[CatalogTables.withFamilyEpochGuard]]) detects a
    * SECOND PROCESS committing to the same `<name>_*` tables — the staged
    * swaps re-verify the generation and the whole mutation aborts loudly
    * on a stale base. Cross-driver coordination beyond that detection is
    * a catalog/lakehouse concern. */
  def mutate[T](spark: SparkSession, name: String)(body: => T): T =
    lock.synchronized {
      CatalogTables.withFamilyEpochGuard(spark, name)(body)
    }

  /** The family's bucket count: the base table's, read from the catalog
    * metadata (no SQL command, no job). */
  def bucketCount(spark: SparkSession, name: String): Int = {
    val t = s"${name}_${base.getOrElse(sys.error("this family declares no bucketed base table"))}"
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(sys.error(s"$t is not a bucketed table"))
  }

  /** The one writer of a family's tables: `df` lands in `<name>_<table>`
    * laid out as the spec declares. A bucketed table takes `buckets`, else
    * the family count ([[bucketCount]]) — one count holds across the family,
    * because a base rewrite [[invalidate]]s the derived tables first, so
    * every table is created after the base write. An overwrite is a
    * [[CatalogTables.stagedOverwrite]] (the live table stays readable
    * while its replacement is written, so `df` may derive from it); an
    * append writes in place. */
  def write(
      spark: SparkSession, name: String, table: String, df: DataFrame,
      append: Boolean = false, buckets: Option[Int] = None): Unit = {
    val spec = layout(table)
    // resolved before any swap: a concurrent sibling write must not read
    // the base's bucket spec while the base swap replaces it
    val n = spec match {
      case _: Bucketed => buckets.getOrElse(bucketCount(spark, name))
      case _ => 0
    }
    def save(target: String, mode: String): Unit = {
      val w = spec match {
        case Bucketed(keys, cluster) =>
          // `cluster`: exactly n partitions hashed on the keys — the same
          // murmur hash bucketBy assigns bucket ids with — so each write
          // task owns ONE whole bucket and the table lands as one file per
          // bucket instead of up to (input tasks × buckets) fragments
          (if (cluster) df.repartition(n, keys.map(col): _*) else df)
            .write.bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
        case Partitioned(c) =>
          // an overwrite hashes on the partition column first, so each
          // task owns whole partitions and writes one file per partition
          // (not tasks × partitions); an append writes the batch as it is
          (if (append) df else df.repartition(col(c))).write.partitionBy(c)
        case Plain(singleFile) =>
          (if (singleFile) df.coalesce(1) else df).write
      }
      w.mode(mode).saveAsTable(target)
    }
    if (append) save(s"${name}_$table", "append")
    else CatalogTables.stagedOverwrite(spark, s"${name}_$table")(save(_, "overwrite"))
  }

  /** Drop `stale` (by default every derived table): what a base rewrite
    * has made describe data that is gone. */
  def invalidate(spark: SparkSession, name: String, stale: Seq[String] = derived): Unit =
    stale.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`"))

  /** Invalidate `spark`'s cached file listings of every family table. */
  def refresh(spark: SparkSession, name: String): Unit =
    CatalogTables.refreshTables(spark, tables.map(t => s"${name}_$t"))

  /** Drop every table of the family, its epoch marker included. */
  def drop(spark: SparkSession, name: String): Unit =
    invalidate(spark, name, tables :+ "_epoch")

  /** A streaming face: each micro-batch of `source` runs `batch` under
    * the family lock (a batch's read-check-mutate cycle is one unit
    * against the family's other streams), and a batch that returns true
    * (it mutated) refreshes the ORIGIN session's listings. The batches
    * run on Structured Streaming's cloned session, so the staged renames
    * refresh that clone only; the session that built the stream — and
    * that the caller keeps reading from — would otherwise serve
    * FILE_NOT_EXIST from its stale listing. Returns the configured
    * writer; callers add `.option("checkpointLocation", ...)` and
    * `.start()`. */
  def stream(source: DataFrame, name: String)(
      batch: (DataFrame, Long) => Boolean): DataStreamWriter[Row] = {
    val origin = source.sparkSession
    source.writeStream.outputMode("update").foreachBatch {
      (df: DataFrame, batchId: Long) =>
        lock.synchronized {
          if (batch(df, batchId)) refresh(origin, name)
        }
    }
  }
}

private[graft] object StoreFamily {

  sealed trait Layout

  /** Bucketed and sorted on `keys` at the family bucket count;
    * `cluster` first repartitions the frame on the keys into exactly that
    * many partitions (one file per bucket). */
  final case class Bucketed(keys: Seq[String], cluster: Boolean = false) extends Layout

  /** Partitioned by `column` (one directory per value). */
  final case class Partitioned(column: String) extends Layout

  /** Neither bucketed nor partitioned; `singleFile` coalesces to one. */
  final case class Plain(singleFile: Boolean = false) extends Layout
}
