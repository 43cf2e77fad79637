package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** Catalog-table write hygiene under the one family writer,
  * [[StoreFamily.write]], through which the graph, dedup and vector
  * stores write every table.
  *
  * With the default in-memory catalog, table METADATA dies with the
  * session but the warehouse DIRECTORY does not — a fresh session that
  * `saveAsTable`s the same name then fails with LOCATION_ALREADY_EXISTS
  * because `mode("overwrite")` sees no table to drop while the old
  * session's files still occupy the location. An orphaned location
  * under the warehouse is garbage by definition (nothing in the current
  * catalog points at it), so writers drop both the table (if any) and
  * the stale directory before writing.
  */
object CatalogTables {

  /** Crash-safe replacement of a catalog table: `write` the new
    * contents into `<table>__staged` FIRST — the live table stays
    * intact and readable throughout, so plans that derive the new
    * contents FROM the old table need no defensive materialization —
    * then drop the old table and rename the staged one into place
    * (the in-memory and Hive catalogs both move a MANAGED table's
    * directory on rename).
    *
    * This closes the primary-data-loss window of the naive
    * drop-then-write sequence: there, a failure between the drop and
    * the write's commit loses the only copy (a `localCheckpoint` of
    * the replacement is non-replicated and dies with its executors).
    * Here the data always exists durably in either the live or the
    * staged location; the residual window is between the two METADATA
    * ops, where a crash leaves `<table>__staged` complete on disk —
    * recovery is re-issuing the rename, not a rebuild. A leftover
    * staged table from an earlier crash is cleared before writing.
    */
  def stagedOverwrite(spark: SparkSession, table: String)(
      write: String => Unit): Unit = {
    // inside a guarded mutation, re-verify the family generation before
    // EVERY swap: a second writer that committed since this mutation
    // read its base tables is detected here, BEFORE this mutation
    // clobbers that writer's update with a rewrite computed from the
    // stale base (see [[withFamilyEpochGuard]])
    epochCtx.get.foreach { case (family, base) =>
      if (!table.endsWith("__epoch")) assertFamilyEpoch(spark, family, base)
    }
    val staged = s"${table}__staged"
    // Crash recovery FIRST: a prior mutation that died between dropping
    // the live table and renaming `__staged` left the staged copy as
    // the ONLY copy. Blindly clearing it here would destroy that copy —
    // and the retry's own `write` typically reads from the (gone) live
    // table, so nothing could rebuild it. Complete the pending rename
    // instead, restoring the pre-crash "new contents live" state; the
    // retry then proceeds as a normal overwrite on top of it.
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(staged)) {
      spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
      spark.catalog.refreshTable(table)
    }
    prepareOverwrite(spark, staged)
    write(staged)
    prepareOverwrite(spark, table)
    spark.sql(s"ALTER TABLE `$staged` RENAME TO `$table`")
    relocatePartitions(spark, table)
    // the rename re-points the SAME final path at NEW files; a session
    // that read the table before the swap may hold a stale file-listing
    // cache for that path (seen as FILE_NOT_EXIST on the next read in
    // long-lived sessions — the streaming faces re-read every batch)
    spark.catalog.refreshTable(table)
  }

  /** Point every partition of a renamed partitioned table at its
    * directory under the table's new location. The in-memory catalog
    * moves a renamed managed table's directory but re-points a partition
    * only when its URI spells the old path the way the table's does
    * (`file:///…` partitions under a `file:/…` table stay behind), and a
    * partition left pointing at the staged path reads as empty. */
  private def relocatePartitions(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val id = TableIdentifier(table)
    val meta = catalog.getTableMetadata(id)
    if (meta.partitionColumnNames.nonEmpty) {
      val root = new Path(meta.location)
      catalog.alterPartitions(id, catalog.listPartitions(id).map { p =>
        val dir = ExternalCatalogUtils.generatePartitionPath(p.spec, meta.partitionColumnNames, root)
        p.copy(storage = p.storage.copy(locationUri = Some(dir.toUri)))
      })
    }
  }

  /** Invalidate a session's cached file listings for the named tables
    * (missing ones skipped). The streaming lifecycle faces run their
    * batches on Structured Streaming's CLONED session, so the rename in
    * [[stagedOverwrite]] refreshes the clone only — the ORIGIN session
    * that built the stream (and that the caller keeps reading from)
    * would otherwise serve FILE_NOT_EXIST from its stale listing.
    * [[StoreFamily.stream]] captures the origin session at writer
    * construction and calls this after every mutating batch; sessions
    * this library never saw follow the standard Spark contract (REFRESH
    * TABLE after external changes). */
  def refreshTables(spark: SparkSession, tables: Seq[String]): Unit =
    tables.foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }

  /** CROSS-PROCESS write coordination for a persisted table family —
    * the optimistic complement of the JVM-local [[StoreFamily]] locks. Each
    * family (`<name>_vertices`/`_edges`/…, `<name>_clusters`/…,
    * `<name>_cells`/…) carries a generation counter in
    * `<family>__epoch`; every mutation captures the generation when it
    * starts, re-verifies it before each staged swap AND once more
    * before publishing, then bumps it as its final act. Two writers
    * interleaving on the same family therefore cannot BOTH complete:
    * the second to reach a swap (or the final check) sees the advanced
    * generation and aborts loudly, its staged rewrites unpublished, the
    * first writer's tables intact.
    *
    * Honesty about the guarantee: without an atomic compare-and-swap in
    * the catalog this is OPTIMISTIC detection — two writers that pass
    * the same check in the instant before either bumps can still race
    * (the window is one check-to-rename gap, not the whole mutation).
    * The contract is therefore "single writer at a time per family,
    * enforced loudly on violation", not a distributed lock; real
    * multi-writer deployments put a lease or a lakehouse transaction
    * layer in front. A missing epoch table reads as generation 0.
    */
  def withFamilyEpochGuard[T](spark: SparkSession, family: String)(body: => T): T = {
    val outer = epochCtx.get
    // the OUTERMOST mutation of a family owns its guard — but only for
    // the SAME family (ADVICE r13): a mutation of family A nesting a
    // mutation of family B must not run B unguarded while the staged
    // swaps assert A's epoch against B's tables. A cross-family nest
    // gets its own fresh guard; the outer one is restored after.
    if (outer.exists(_._1 == family)) body
    else {
      val base = familyEpoch(spark, family)
      epochCtx.set(Some((family, base)))
      try {
        val out = body
        // final check-and-bump before this mutation counts as committed
        assertFamilyEpoch(spark, family, base)
        // the generation lives in TABLE PROPERTIES of a zero-row marker
        // table: reads and bumps are catalog-metadata operations — no
        // Spark job, no file write — so the guard costs milliseconds
        // per mutation instead of a table rewrite. Durability follows
        // the catalog's (shared + persistent under a metastore, which
        // is exactly the deployment where cross-process detection is
        // meaningful in the first place).
        val t = s"${family}__epoch"
        createMarker(spark, t, "epoch BIGINT")
        spark.sql(
          s"ALTER TABLE `$t` SET TBLPROPERTIES('graft.epoch' = '${base + 1}')")
        out
      } finally epochCtx.set(outer)
    }
  }

  /** Create the zero-row marker table `table` with the one column
    * `column` (a DDL fragment) unless it exists. A dead session's marker
    * leaves an orphaned directory that CREATE TABLE refuses, so the
    * location is cleared first ([[prepareOverwrite]]). */
  def createMarker(spark: SparkSession, table: String, column: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      prepareOverwrite(spark, table)
      spark.sql(s"CREATE TABLE `$table` ($column) USING parquet")
    }

  /** The current generation of a table family (0 when never written) —
    * a pure catalog-metadata read. */
  def familyEpoch(spark: SparkSession, family: String): Long = {
    val t = s"${family}__epoch"
    if (!spark.catalog.tableExists(t)) 0L
    else spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .properties.get("graft.epoch")
      .flatMap(_.toLongOption).getOrElse(0L)
  }

  private def assertFamilyEpoch(
      spark: SparkSession, family: String, base: Long): Unit = {
    val now = familyEpoch(spark, family)
    if (now != base)
      throw new java.util.ConcurrentModificationException(
        s"table family '$family' advanced from generation $base to $now while this " +
          "mutation was running — another writer committed concurrently. Aborting " +
          "WITHOUT publishing this mutation's remaining writes; re-read the tables " +
          "and retry. The persisted stores are single-writer-at-a-time per family.")
  }

  private val epochCtx = new ThreadLocal[Option[(String, Long)]] {
    override def initialValue: Option[(String, Long)] = None
  }

  /** The calling thread's epoch-guard context — pass to
    * [[withEpochContext]] on a worker thread so staged swaps issued from
    * concurrent job streams (guide §2.6 overlap) keep re-verifying the
    * family generation exactly as they would on the mutating thread.
    * Without this, a swap on a fresh thread sees an empty ThreadLocal
    * and silently skips the per-swap stale-base check. */
  private[graft] def epochContext: Option[(String, Long)] = epochCtx.get

  /** Run `body` under the given epoch-guard context (see
    * [[epochContext]]); restores the thread's previous context after. */
  private[graft] def withEpochContext[T](ctx: Option[(String, Long)])(body: => T): T = {
    val prev = epochCtx.get
    epochCtx.set(ctx)
    try body finally epochCtx.set(prev)
  }

  /** Make `table` writable: drop a registered table of that name and
    * delete its data directory.
    *
    * When the table EXISTS, its actual location is resolved from the
    * catalog metadata before anything is deleted — a table
    * registered with a custom LOCATION or under a non-default database
    * must not have an unrelated `warehouse/<name>` directory removed in
    * its stead. The default warehouse path is deleted only when NO table
    * of that name is registered (the genuinely-orphaned-directory case
    * this helper exists for); if the name resolves to something without a
    * location (a view), nothing is deleted.
    */
  def prepareOverwrite(spark: SparkSession, table: String): Unit = {
    val location: Option[String] =
      if (spark.catalog.tableExists(table))
        // read the catalog metadata directly: `DESCRIBE TABLE EXTENDED`
        // runs a full SQL command + collect per call — tens of ms of
        // driver latency on every staged swap; the
        // metadata object carries the same resolved location (None for
        // a view, which deletes nothing — unchanged semantics)
        spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .storage.locationUri.map(_.toString)
      else
        Some(new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase).toString)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    location.foreach { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}
