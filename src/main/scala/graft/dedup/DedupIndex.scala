package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy
import graft.text.TextFunctions

/** Write-once, probe-everywhere MinHash/LSH dedup index — the
  * bucketed-table pattern ([[graft.sources.GraphIO.writeBucketed]])
  * applied to the dedup family.
  *
  * Motivation (VERDICT r8 #1): every fuzzy-dedup consumer — pair
  * generation, cluster closure, quality-survivor selection, the
  * streaming ingest probe — needs the SAME three artifacts: the
  * exact-duplicate representative map, the representatives' shingle
  * sets, and the LSH bucket table. Recomputing them per job reads and
  * shuffles the corpus once per consumer; on a real corpus the index is
  * built once at ingest time and every downstream job reads blocks.
  *
  * The three frames:
  *  - `clusters` (keep_id, n_copies, ids) — one row per distinct text;
  *    `keep_id` is the minimum doc id (the deterministic
  *    representative), `ids` the sorted exact copies. Grouping is on
  *    the text's sha256, so the collapse shuffle moves 32-byte digests,
  *    never documents (the [[graft.streaming.DocStream]] device).
  *  - `shingles` (id, sh) — the representatives' DISTINCT shingle sets
  *    (empty-shingle docs excluded), the exact-Jaccard verify side.
  *  - `buckets` (band, bucket, id) — one row per (band, LSH bucket)
  *    key per representative, computed per row by the codegen'd
  *    [[graft.functions.MinHashSig]]; candidate generation is a
  *    self-equi-join on (band, bucket).
  *
  * Persistence faces:
  *  - [[writeBucketed]]/[[readBucketed]] — catalog tables with
  *    `buckets` bucketed by (band, bucket) and `shingles` bucketed by
  *    (id): the candidate self-join and the verify joins then plan NO
  *    exchange on the stored sides (the shuffle is paid once at write
  *    time), and — the headline — NO signature recomputation: a probe
  *    plan over the stored index contains no MinHashSig at all
  *    (PlansSpec asserts both properties).
  *  - [[write]]/[[read]] — plain portable parquet directories
  *    (repartitioned + sorted on the join keys for row-group pruning),
  *    for one-shot reads or non-catalog deployments.
  *
  * Consumers: [[Index.pairs]] replays [[Dedup.dedupedNearDuplicates]]
  * bit for bit, [[Index.clusterAssign]] replays
  * [[Dedup.nearDupClusters]], and
  * [[graft.streaming.DocStream.fromDedupIndex]] adapts the index for
  * the streaming ingest probe — so one build serves the whole family.
  */
object DedupIndex {

  final case class Index(
      clusters: DataFrame,
      shingles: DataFrame,
      buckets: DataFrame,
      shingleSize: Int,
      numHashes: Int,
      bands: Int) {

    /** Near-duplicate pairs among the representatives —
      * [[Dedup.minhashDuplicates]] over the representative set, reading
      * the stored buckets/shingles instead of recomputing signatures.
      * Output (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
      */
    def pairs(threshold: Double, maxBucketSize: Int = 0): DataFrame = {
      val b = cappedBuckets(buckets, maxBucketSize)
      val cands = b.as("x")
        .join(b.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bucket") === col("y.bucket") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
      cands
        .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(
          col("id_a"), col("id_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }

    /** REPRESENTATIVE-level near-dup cluster map: (id, cluster_id), one
      * row per representative, cluster_id = the minimum representative
      * id of the connected near-dup component (singletons label
      * themselves). The full-closure build of the maintained cluster
      * table ([[DedupIndex.buildNearClusters]]); [[clusterAssign]] is
      * this exploded to exact copies. Min-id labels are deterministic,
      * which is what makes the incremental advance
      * ([[DedupIndex.advanceClusters]]) provably ≡ this rebuilt.
      *
      * The labels are exact on both paths of
      * [[graft.algorithms.AlternatingConnectedComponents.minLabels]]:
      * a pair graph whose star rounds have not converged after 20
      * rounds throws an IllegalStateException instead of returning
      * unconverged labels.
      */
    def nearClusters(threshold: Double, maxBucketSize: Int = 0): DataFrame = {
      import graft.core.Columns
      val reps = clusters.select(col("keep_id").as(Columns.ID))
      val cc = graft.algorithms.AlternatingConnectedComponents
        .minLabels(pairs(threshold, maxBucketSize), "id_a", "id_b")
      reps
        .join(cc, Seq(Columns.ID), "left")
        .select(col(Columns.ID).as("id"),
          coalesce(col(Columns.COMPONENT), col(Columns.ID)).as("cluster_id"))
    }

    /** Fuzzy-dedup cluster assignment — [[Dedup.nearDupClusters]] from
      * the stored index: connected components over the near-dup pair
      * graph among representatives, then every exact copy inherits its
      * representative's component. Output (idColOut, cluster_id), one
      * row per input document. Exact or fails, as [[nearClusters]].
      */
    def clusterAssign(
        threshold: Double,
        idColOut: String,
        maxBucketSize: Int = 0): DataFrame =
      clusterAssignFrom(nearClusters(threshold, maxBucketSize), idColOut)

    /** [[clusterAssign]] from an ALREADY-BUILT representative-level
      * cluster map — the consumer face of the maintained table
      * ([[DedupIndex.readNearClusters]]): every exact copy inherits its
      * representative's cluster, no pair generation, no CC. */
    def clusterAssignFrom(ncl: DataFrame, idColOut: String): DataFrame =
      clusters.select(col("keep_id").as("id"), col("ids"))
        .join(ncl, Seq("id"))
        .select(explode(col("ids")).as(idColOut), col("cluster_id"))
  }

  /** Index health: ONE aggregated diagnostics row over the LSH bucket
    * table (VERDICT r14 item 7 — the
    * [[graft.similarity.AnnIndex.driftStats]] /
    * [[graft.sources.GraphIO.forestStats]] convention, third face).
    * The capped-LSH recall contract is verified at SPEC time, but a
    * long-lived index drifts silently: boilerplate (shared headers,
    * templated pages) concentrates representatives into a few hot
    * (band, bucket) keys, and once `maxBucketSize` starts biting there,
    * every pair whose only collision sat in a dropped bucket is recall
    * silently lost. This pass makes that observable:
    *
    *  - `bucket_rows` / `distinct_buckets` / `max_occupancy` — raw shape;
    *  - `occupancy_p99` — the tail the cap interacts with (approx
    *    percentile, exact enough for a health signal);
    *  - `hot_bucket_count` — buckets past `maxBucketSize`;
    *  - `capped_row_fraction` — the fraction of bucket rows sitting in
    *    dropped buckets: the direct upper bound on how much candidate
    *    mass the cap is discarding (0.0 = the cap never bites).
    *
    * One column-pruned aggregation over the narrow buckets table — at
    * any corpus size this is a map-side-combinable count per key plus a
    * singleton rollup. Remediation is content-level (drop boilerplate
    * before indexing, raise `shingleSize`) or a re-[[build]]; there is
    * deliberately no auto-action — the cap exists to bound cost, so the
    * hook surfaces, the operator decides ([[mergeStream]]'s
    * `bucketCheckEvery` puts this on the ingest cadence). */
  def bucketStats(idx: Index, maxBucketSize: Int): DataFrame = {
    require(maxBucketSize > 0, "bucketStats meters a positive hot-bucket cap")
    val occ = idx.buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_n"))
    // total on empty input (ADVICE r15): a just-built or fully-deleted
    // index has zero buckets, and the singleton agg's sum/max/percentile
    // come back NULL there — a listener's getAs[Long] would NPE on the
    // health row. coalesce to the zeros an empty index honestly reports.
    occ.agg(
      coalesce(sum(col("_n")), lit(0L)).as("bucket_rows"),
      count(lit(1)).as("distinct_buckets"),
      coalesce(max(col("_n")), lit(0L)).as("max_occupancy"),
      coalesce(percentile_approx(col("_n"), lit(0.99), lit(10000))
        .cast("long"), lit(0L)).as("occupancy_p99"),
      coalesce(sum(when(col("_n") > maxBucketSize, lit(1L)).otherwise(lit(0L))),
        lit(0L)).as("hot_bucket_count"),
      coalesce(
        sum(when(col("_n") > maxBucketSize, col("_n")).otherwise(lit(0L)))
          .cast("double") / sum(col("_n")),
        lit(0.0)).as("capped_row_fraction"))
  }

  /** [[bucketStats]] over the PERSISTED index — the face the ingest
    * cadence and an operator's dashboard read. */
  def bucketStats(spark: SparkSession, name: String, maxBucketSize: Int): DataFrame =
    bucketStats(readBucketed(spark, name), maxBucketSize)

  /** The hot-bucket cap, the [[Dedup.minhashDuplicates]] device: drop
    * buckets whose candidate contribution would be quadratic. */
  private def cappedBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) buckets
    else {
      val hot = buckets.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxBucketSize)
        .select(col("band"), col("bucket"))
      buckets.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    }

  /** Build the index frames from a corpus. All three are pinned
    * ([[CheckpointPolicy.pin]]), so every later use — a merge, a query,
    * each table [[writeBucketed]] writes — reads the pinned rows instead
    * of re-running the shingling and MinHash passes.
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32): Index = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // `sha` rides along so a later [[merge]] can match incoming texts
    // against existing groups without the corpus — 32 bytes per distinct
    // text
    // parallelism floor on BOTH heavy per-row stages (the Dedup.spread
    // device, guide §2.5): the sha digests and the representatives'
    // shingling otherwise run on the input file's task count — one task
    // for a single-file corpus, whatever the cluster size
    val keyed = Dedup.spread(
      docs.select(col(idCol).as("id"), col(textCol).as("_text")))
    val clusters = CheckpointPolicy.pin(
      keyed.select(col("id"), sha2(col("_text"), 256).as("_th"))
        .groupBy(col("_th"))
        .agg(
          min(col("id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          sort_array(collect_list(col("id"))).as("ids"))
        .select(col("keep_id"), col("n_copies"), col("ids"), col("_th").as("sha")))
    // representative texts come back by a semi-join on the (narrow)
    // representative-id set — the corpus text never rides the collapse
    // shuffle
    val reps = keyed
      .join(clusters.select(col("keep_id").as("id")), Seq("id"), "left_semi")
    val sh = CheckpointPolicy.pin(
      reps.select(
        col("id"),
        array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col("_text")), shingleSize))
          .as("sh"))
        .filter(size(col("sh")) > 0))
    val buckets = CheckpointPolicy.pin(
      Dedup.minhashSignatures(sh, numHashes)
        .select(col("id"),
          explode(Dedup.lshBuckets(col("sig"), bands, numHashes / bands)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"), col("id")))
    Index(clusters, sh, buckets, shingleSize, numHashes, bands)
  }

  /** Incrementally fold a batch of NEW documents into an existing index
    * — the daily-append lifecycle a crawl pipeline runs, without
    * rebuilding: signature work is proportional to the batch's NEW
    * DISTINCT texts only (exact copies of indexed texts match by sha and
    * never touch MinHashSig; copies inside the batch collapse first).
    *
    * Exactly equivalent to `build(oldCorpus ∪ newDocs)` — representative
    * ids are minima per distinct text, and signatures are a pure
    * function of the TEXT, so when a new copy undercuts an old
    * representative's id the stored signature/bucket rows are RE-KEYED
    * (an id rewrite), never recomputed. TextDedupSpec pins
    * merge ≡ whole-rebuild bit for bit.
    */
  def merge(
      old: Index, newDocs: DataFrame, idCol: String, textCol: String): Index =
    mergeDetailed(old, newDocs, idCol, textCol).index

  /** [[merge]]'s working parts, exposed for the incremental consumers:
    * `rekey` is the (old rep id -> new rep id) rewrite map (batch-
    * bounded: only groups where the batch undercut the stored
    * representative), `newRepIds` the genuinely-new representatives —
    * exactly what [[advanceClusters]] needs to stay batch-sized. */
  final case class MergeResult(
      index: Index, rekey: DataFrame, newRepIds: DataFrame)

  def mergeDetailed(
      old: Index, newDocs: DataFrame, idCol: String, textCol: String): MergeResult = {
    val newGroups = newDocs
      .select(col(idCol).as("id"), sha2(col(textCol), 256).as("sha"))
      .groupBy(col("sha"))
      .agg(
        min(col("id")).as("_nk"),
        count(lit(1)).as("_nn"),
        sort_array(collect_list(col("id"))).as("_nids"))
    // consumed by clusters, the rekey map AND the new-rep set
    val joined = CheckpointPolicy.pin(old.clusters
      .join(newGroups, Seq("sha"), "full"))
    val clusters = CheckpointPolicy.pin(joined.select(
      least(coalesce(col("keep_id"), col("_nk")),
        coalesce(col("_nk"), col("keep_id"))).as("keep_id"),
      (coalesce(col("n_copies"), lit(0L)) + coalesce(col("_nn"), lit(0L)))
        .as("n_copies"),
      array_sort(concat(
        coalesce(col("ids"), array().cast("array<long>")),
        coalesce(col("_nids"), array().cast("array<long>")))).as("ids"),
      col("sha")))
    // matched groups where the batch undercuts the old representative id:
    // rewrite the stored rows' key (tiny frame — changed groups only)
    val rekey = joined
      .filter(col("keep_id").isNotNull && col("_nk").isNotNull &&
        col("_nk") < col("keep_id"))
      .select(col("keep_id").as("_oldid"), col("_nk").as("_newid"))
    def rekeyed(df: DataFrame): DataFrame = df
      .join(broadcast(rekey), df("id") === rekey("_oldid"), "left")
      .select(df.columns.map {
        case "id" => coalesce(col("_newid"), col("id")).as("id")
        case c => col(c)
      }.toSeq: _*)
    // genuinely new texts: the ONLY MinHashSig work in the whole merge
    val newReps = joined.filter(col("keep_id").isNull)
      .select(col("_nk").as(idCol))
    val newShs = newDocs
      .join(newReps, Seq(idCol), "left_semi")
      .select(
        col(idCol).as("id"),
        array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col(textCol)), old.shingleSize))
          .as("sh"))
      .filter(size(col("sh")) > 0)
    val newBks = Dedup.minhashSignatures(newShs, old.numHashes)
      .select(col("id"),
        explode(Dedup.lshBuckets(col("sig"), old.bands,
          old.numHashes / old.bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"), col("id"))
    MergeResult(
      Index(
        clusters,
        CheckpointPolicy.pin(rekeyed(old.shingles).unionByName(newShs)),
        CheckpointPolicy.pin(rekeyed(old.buckets).unionByName(newBks)),
        old.shingleSize, old.numHashes, old.bands),
      CheckpointPolicy.pin(rekey),
      CheckpointPolicy.pin(newReps.select(col(idCol).as("id"))))
  }

  /** Advance a representative-level near-dup cluster table across a
    * [[mergeDetailed]] — the [[graft.sources.GraphIO]] component-merge
    * device transplanted to the dedup family (VERDICT r11 item 2):
    * appending documents only ever ADDS near-dup pairs, and new pairs
    * only ever MERGE clusters, so the full CC closure
    * ([[Index.nearClusters]], the d35-standalone 133 s at 100x) never
    * re-runs. Per batch:
    *
    *  1. REKEY — where the batch undercut a stored representative id,
    *     rewrite both the key and the label columns through the
    *     (batch-bounded, broadcast) rekey map: min-id labels track the
    *     id bijection exactly, so this is a rename, not a recompute;
    *  2. PROBE — LSH candidates for the batch's new representatives
    *     against the merged bucket table (new x old AND new x new; the
    *     stored side rides its (band, bucket) bucketing in the
    *     persisted face), verified by exact Jaccard over the merged
    *     shingles — signature work was already batch-sized in the merge;
    *  3. MERGE — map the verified pairs' endpoints to their CURRENT
    *     labels, run CC over the tiny label-merge graph (≤ 2·batch
    *     nodes), and relabel the O(reps) narrow table through the
    *     broadcast old→new mapping. A batch that merges nothing skips
    *     the relabel.
    *
    * Advance ≡ whole-rebuild on cluster ids (TextDedupSpec pins it):
    * pairs among OLD representatives are a pure function of their
    * unchanged texts, new pairs all touch a new representative — the
    * probe's exact candidate set — and min-label CC is confluent under
    * edge arrival order. With a hot-bucket cap the maintained table is
    * the stronger artifact: the cap applies to each batch's probe as
    * buckets stood THEN, so pairs verified before a bucket crossed the
    * cap keep contributing, where a capped rebuild would drop them
    * (recall(maintained) ⊇ recall(capped rebuild); equality is exact in
    * the uncapped setting).
    */
  def advanceClusters(
      m: MergeResult,
      oldClusters: DataFrame,
      threshold: Double,
      maxBucketSize: Int = 0): DataFrame = {
    import graft.core.Columns
    val rk = m.rekey
    // 1. rekey both columns (two broadcast lookups, one narrow pass)
    val k1 = rk.select(col("_oldid").as("_ko"), col("_newid").as("_kn"))
    val k2 = rk.select(col("_oldid").as("_lo"), col("_newid").as("_ln"))
    val rekeyedC = oldClusters
      .join(broadcast(k1), oldClusters("id") === col("_ko"), "left")
      .join(broadcast(k2), oldClusters("cluster_id") === col("_lo"), "left")
      .select(
        coalesce(col("_kn"), oldClusters("id")).as("id"),
        coalesce(col("_ln"), oldClusters("cluster_id")).as("cluster_id"))
    // new representatives start as their own singleton cluster
    val cur0 = rekeyedC.unionByName(
      m.newRepIds.select(col("id"), col("id").as("cluster_id")))
    // min-label REPAIR for rekeyed clusters: a rekeyed rep's id DROPPED,
    // and if it undercuts its cluster's current label the plain value
    // rename above cannot see it (the label is some OTHER member's id —
    // cluster {3, 7} labelled 3, batch copy 1 re-keys 7→1: rebuild says
    // label 1). Recompute min(id) for just the clusters holding a
    // rekeyed rep — member scan bounded by their mass, map bounded by
    // the batch's rekey count.
    val rekeyTouched = CheckpointPolicy.pin(rekeyedC
      .join(broadcast(rk.select(col("_newid").as("id"))), Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct())
    val newMin = CheckpointPolicy.pin(cur0
      .join(broadcast(rekeyTouched), Seq("cluster_id"), "left_semi")
      .groupBy(col("cluster_id")).agg(min(col("id")).as("_m"))
      .filter(col("cluster_id") =!= col("_m"))
      .select(col("cluster_id").as("_oldl"), col("_m").as("_newl")))
    val cur = cur0
      .join(broadcast(newMin), cur0("cluster_id") === col("_oldl"), "left")
      .select(col("id"), coalesce(col("_newl"), cur0("cluster_id")).as("cluster_id"))
    // 2. LSH probe: candidates touching a NEW representative, against
    // the merged bucket table (hot-bucket cap applied to the buckets as
    // they stand NOW — the batch-probe recall contract above)
    val probe = cappedBuckets(m.index.buckets, maxBucketSize)
    val nb = probe.join(m.newRepIds, Seq("id"), "left_semi")
    val cands = nb.as("x")
      .join(probe.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") =!= col("y.id"))
      .select(
        least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
    val sh = m.index.shingles
    val newPairs = cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))) >= threshold)
      .select(col("id_a"), col("id_b"))
    // 3. label-merge graph over CURRENT labels — batch-sized
    val touched = CheckpointPolicy.pin(newPairs
      .join(cur.select(col("id").as("id_a"), col("cluster_id").as("_la")), Seq("id_a"))
      .join(cur.select(col("id").as("id_b"), col("cluster_id").as("_lb")), Seq("id_b"))
      .select(col("_la"), col("_lb"))
      .filter(col("_la") =!= col("_lb"))
      .distinct())
    if (touched.isEmpty) cur
    else {
      val labels = graft.algorithms.AlternatingConnectedComponents
        .minLabels(touched, "_la", "_lb")
      val mapping = CheckpointPolicy.pin(labels
        .filter(col(Columns.ID) =!= col(Columns.COMPONENT))
        .select(col(Columns.ID).as("_old"), col(Columns.COMPONENT).as("_new")))
      cur.join(broadcast(mapping), cur("cluster_id") === col("_old"), "left")
        .select(col("id"),
          coalesce(col("_new"), col("cluster_id")).as("cluster_id"))
    }
  }

  /** Streaming face of [[merge]] — the daily-append lifecycle run
    * directly from the ingest stream [[graft.streaming.DocStream]]
    * probes with: each micro-batch folds into the persisted bucketed
    * tables (read → [[merge]] → [[writeBucketed]]), so the index the
    * probe side reads is always the merge of everything delivered.
    *
    * Semantics & hygiene:
    *  - every `merge` output frame is pinned BEFORE the
    *    overwrite, so rewriting the tables a lazy plan was reading from
    *    cannot self-invalidate;
    *  - `foreachBatch` is at-least-once on recovery, and [[merge]] is
    *    NOT idempotent for redelivered ids (a replayed copy would
    *    inflate `n_copies`), so delivered ids already present in the
    *    stored clusters are anti-joined away first — one pass over the
    *    compact clusters table per micro-batch buys exactly-once index
    *    contents;
    *  - batch work stays proportional to the batch (signatures for new
    *    DISTINCT texts only — the [[merge]] contract); the table
    *    rewrite itself is corpus-sized, which is the bucketed-catalog
    *    trade (zero-exchange probes) — an append-friendly format keeps
    *    the same merge logic with O(batch) writes.
    *
    * Returns the configured writer; callers add `.option(
    * "checkpointLocation", ...)` and `.start()`.
    */
  /** BUCKET-HEALTH HOOK (opt-in, VERDICT r14 item 7 — the
    * [[graft.similarity.AnnIndex.appendStream]] drift pattern):
    * `bucketCheckEvery = N` runs the one-row [[bucketStats]] pass after
    * every Nth micro-batch and hands the row to `bucketListener` —
    * surface, don't decide (see [[bucketStats]] for why there is no
    * auto-action). `statsBucketCap` is the hot-bucket cap the stats
    * meter against — pass the `maxBucketSize` your probes use. The
    * check keys on the engine's batchId, so a recovery replay keeps
    * the cadence. */
  def mergeStream(
      docs: DataFrame, idCol: String, textCol: String,
      name: String,
      bucketCheckEvery: Int = 0,
      bucketListener: Option[org.apache.spark.sql.Row => Unit] = None,
      statsBucketCap: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // the family stream holds the lock across the whole batch: the
    // anti-join below and the merge it feeds are one unit against a
    // concurrent deleteStream on the same tables
    family.stream(docs, name) { (batch, batchId) =>
      val spark = batch.sparkSession
      val idx = readBucketed(spark, name)
      val known = idx.clusters.select(explode(col("ids")).as(idCol))
      // collapse intra-batch duplicates DETERMINISTICALLY first (a
      // producer-retry duplicate would otherwise pass the anti-join
      // twice and inflate n_copies; min(text) — not dropDuplicates,
      // whose pick is partition-order-dependent — pins which payload
      // wins when a retry changed the text, so reruns build identical
      // indexes); the anti-join then removes cross-batch redelivery
      val fresh = batch
        .groupBy(col(idCol))
        .agg(min(col(textCol)).as(textCol))
        .join(known, Seq(idCol), "left_anti")
      val merged = !fresh.isEmpty
      if (merged) mergeBucketed(spark, name, fresh, idCol, textCol)
      if (bucketCheckEvery > 0 && (batchId + 1) % bucketCheckEvery == 0 &&
          bucketListener.nonEmpty)
        bucketListener.foreach(_(
          bucketStats(spark, name, statsBucketCap).head()))
      merged
    }

  /** Fold a batch of NEW documents into the PERSISTED index tables —
    * the batch face [[mergeStream]] wraps: read → [[mergeDetailed]] →
    * [[writeBucketed]], and, when [[buildNearClusters]] has opted the
    * graph in, the batch-sized [[advanceClusters]] of the maintained
    * cluster table (its staged overwrite reads the live table while
    * writing the replacement, the [[graft.sources.CatalogTables]]
    * device). Callers own the exactly-once guard (drop ids already
    * indexed — the [[mergeStream]] anti-join). */
  def mergeBucketed(
      spark: SparkSession, name: String, newDocs: DataFrame,
      idCol: String, textCol: String): Unit = family.mutate(spark, name) {
    val idx = readBucketed(spark, name)
    val m = mergeDetailed(idx, newDocs, idCol, textCol)
    val advanced =
      nclParams(spark, name).map { case (threshold, maxBucketSize) =>
        // pinned: the writeBucketed below overwrites the bucket/shingle
        // tables; the merge frames the advance probes are themselves
        // pinned, but the advance output must not replan against the
        // rewritten tables either
        CheckpointPolicy.pin(advanceClusters(m, readNearClusters(spark, name),
          threshold = threshold, maxBucketSize = maxBucketSize))
      }
    writeIndexTables(m.index, name)
    advanced.foreach(family.write(spark, name, "nearclusters", _))
  }

  /** [[deleteDetailed]]'s working parts: `touchedShas` the groups the
    * batch actually named (empty → the whole delete is a no-op — the
    * redelivery guard), `rekey` the (old rep id -> new rep id) map where
    * the deleted id WAS the representative but copies survive, and
    * `emptiedRepIds` the representatives whose whole group vanished
    * (their text leaves the corpus — the only event that can change the
    * near-dup pair graph). All batch-bounded and pinned. */
  final case class DeleteResult(
      index: Index, touchedShas: DataFrame,
      rekey: DataFrame, emptiedRepIds: DataFrame)

  def deleteDocs(
      old: Index, ids: DataFrame, idCol: String): Index =
    deleteDetailed(old, ids, idCol).index

  /** Physically remove documents from the index — the GDPR /
    * right-to-be-forgotten face ([[graft.sources.GraphIO.deleteVertices]]'s
    * dedup twin), completing the family's CRUD. Rows are REWRITTEN OUT,
    * never tombstoned (a tombstone retains the data it is supposed to
    * erase). Exactly ≡ `build(corpus minus the ids)` (TextDedupSpec pins
    * it), because every build step is replayed on the touched groups
    * alone:
    *
    *  - groups are located by ONE broadcast `array_contains` probe of
    *    the compact clusters table — batch-bounded output, the corpus
    *    text never moves;
    *  - a group losing a NON-representative copy just shrinks its `ids`
    *    array (signatures untouched — they are a function of the text);
    *  - a group losing its REPRESENTATIVE while copies survive promotes
    *    the minimum survivor, and the stored shingle/bucket rows REKEY
    *    (an id rename, the [[merge]] undercut device in reverse — never
    *    a recompute);
    *  - a group losing its LAST copy leaves entirely: its rep's
    *    shingle/bucket rows are anti-joined away — the one case that
    *    changes the near-dup pair graph (see
    *    [[repairClustersAfterDelete]]);
    *  - ids the index never held match nothing — idempotent like every
    *    lifecycle face.
    */
  def deleteDetailed(
      old: Index, ids: DataFrame, idCol: String): DeleteResult = {
    val del = CheckpointPolicy.pin(ids.select(col(idCol).as("_del")).distinct())
    val touched = CheckpointPolicy.pin(old.clusters
      .join(broadcast(del), array_contains(col("ids"), col("_del")))
      .groupBy(col("sha"))
      .agg(
        first(col("keep_id")).as("keep_id"),
        first(col("ids")).as("ids"),
        collect_list(col("_del")).as("_dels"))
      .withColumn("_kept", array_except(col("ids"), col("_dels")))) // bounded by the batch's groups
    val surviving = touched.filter(size(col("_kept")) > 0)
    val emptied = CheckpointPolicy.pin(touched.filter(size(col("_kept")) === 0)
      .select(col("keep_id").as("id")))
    val rekey = CheckpointPolicy.pin(surviving
      .filter(array_contains(col("_dels"), col("keep_id")))
      .select(col("keep_id").as("_oldid"), array_min(col("_kept")).as("_newid")))
    val clusters = CheckpointPolicy.pin(
      old.clusters.join(touched.select(col("sha")), Seq("sha"), "left_anti")
        .select(col("keep_id"), col("n_copies"), col("ids"), col("sha"))
        .unionByName(surviving.select(
          array_min(col("_kept")).as("keep_id"),
          size(col("_kept")).cast("long").as("n_copies"),
          col("_kept").as("ids"),
          col("sha"))))
    def rekeyDropped(df: DataFrame): DataFrame = {
      val alive = df.join(emptied, Seq("id"), "left_anti")
      alive.join(broadcast(rekey), alive("id") === col("_oldid"), "left")
        .select(df.columns.map {
          case "id" => coalesce(col("_newid"), col("id")).as("id")
          case c => col(c)
        }.toSeq: _*)
    }
    DeleteResult(
      Index(
        clusters,
        CheckpointPolicy.pin(rekeyDropped(old.shingles)),
        CheckpointPolicy.pin(rekeyDropped(old.buckets)),
        old.shingleSize, old.numHashes, old.bands),
      touched.select(col("sha")),
      rekey, emptied)
  }

  /** Bounded repair of the maintained cluster table after a delete —
    * [[graft.sources.GraphIO]]'s delete-repair device for the dedup
    * family. Deletion changes the pair graph ONLY where a group's last
    * copy left (its text leaves the corpus — possibly a transitive
    * BRIDGE, so its cluster can split); groups that merely shrank or
    * re-keyed keep their text, hence their pairs. So: components
    * untouched by an emptied or rekeyed rep pass through unchanged;
    * affected components' surviving representatives get their pair
    * subgraph re-derived from the post-delete buckets/shingles (bounded
    * by the affected cluster mass — no pair ever crossed a cluster
    * boundary) and CC re-labels them min-id. Repair ≡ the closure
    * rebuilt over the post-delete index, row for row (TextDedupSpec
    * pins it, split case included) — exactly in the uncapped setting;
    * under a hot-bucket cap the usual [[advanceClusters]] nuance
    * applies (a bucket dropping back under the cap re-admits pairs for
    * affected clusters only). */
  def repairClustersAfterDelete(
      r: DeleteResult, oldNcl: DataFrame, threshold: Double,
      maxBucketSize: Int = 0): DataFrame = {
    import graft.core.Columns
    val touchedIds = CheckpointPolicy.pin(r.emptiedRepIds
      .unionByName(r.rekey.select(col("_oldid").as("id")))
      .distinct())
    val lbl = CheckpointPolicy.pin(oldNcl.join(broadcast(touchedIds), Seq("id"), "left_semi")
      .select(col("cluster_id").as("_lbl")).distinct())
    val unaffected = oldNcl
      .join(broadcast(lbl), oldNcl("cluster_id") === col("_lbl"), "left_anti")
      .select(col("id"), col("cluster_id"))
    val inAffected = oldNcl
      .join(broadcast(lbl), oldNcl("cluster_id") === col("_lbl"), "left_semi")
      .join(r.emptiedRepIds, Seq("id"), "left_anti")
    // bounded by the affected cluster mass
    val survivors = CheckpointPolicy.pin(inAffected
      .join(broadcast(r.rekey), inAffected("id") === col("_oldid"), "left")
      .select(coalesce(col("_newid"), inAffected("id")).as("id")))
    // every affected cluster vanished outright — nothing to re-derive
    if (survivors.isEmpty) return unaffected
    val pb = cappedBuckets(r.index.buckets, maxBucketSize)
      .join(survivors, Seq("id"), "left_semi")
    val cands = pb.as("x")
      .join(pb.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sh = r.index.shingles
    val edges = cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .filter(
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))) >= threshold)
    val cc = graft.algorithms.AlternatingConnectedComponents.minLabels(edges, "id_a", "id_b")
    val repaired = survivors
      .join(cc, survivors("id") === cc(Columns.ID), "left")
      .select(survivors("id"),
        coalesce(col(Columns.COMPONENT), survivors("id")).as("cluster_id"))
    unaffected.unionByName(repaired)
  }

  /** Remove documents from the PERSISTED index tables — the batch GDPR
    * face: read → [[deleteDetailed]] → [[writeBucketed]] (staged, so the
    * live tables survive until the replacements commit), plus the
    * bounded [[repairClustersAfterDelete]] when the maintained cluster
    * table exists. A delete that matches nothing rewrites nothing. */
  def deleteBucketed(
      spark: SparkSession, name: String, ids: DataFrame,
      idCol: String): Unit = family.mutate(spark, name) {
    val idx = readBucketed(spark, name)
    val r = deleteDetailed(idx, ids, idCol)
    if (r.touchedShas.isEmpty) return
    val repaired =
      nclParams(spark, name).map { case (threshold, maxBucketSize) =>
        CheckpointPolicy.pin(repairClustersAfterDelete(r, readNearClusters(spark, name),
          threshold = threshold, maxBucketSize = maxBucketSize))
      }
    writeIndexTables(r.index, name)
    repaired.foreach(family.write(spark, name, "nearclusters", _))
  }

  /** Streaming face of [[deleteBucketed]] — the delete side of a CDC
    * document feed (the [[graft.sources.GraphIO.deleteEdgesStream]]
    * shape): each micro-batch physically removes the ids it names
    * through the same idempotent path — already-removed ids match
    * nothing and rewrite nothing — so at-least-once redelivery is
    * absorbed. Pair with [[mergeStream]] on a routed CDC stream:
    * inserts to that sink, deletes to this one. Returns the configured
    * writer; callers add `.option("checkpointLocation", ...)` and
    * `.start()`. */
  def deleteStream(ids: DataFrame, idCol: String, name: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    family.stream(ids, name) { (batch, _) =>
      !batch.isEmpty && { deleteBucketed(batch.sparkSession, name, batch, idCol); true }
    }

  /** The persisted index's table family: `_shingles` and `_buckets`
    * bucketed on their join keys, `_nearclusters` on `id`, all at the
    * `_shingles` bucket count; `_clusters` plain, the parameter rows one
    * file each. A new index makes the maintained cluster pair stale.
    * Every mutation runs under `family.mutate` — the lock (the lifecycle
    * doc pairs [[mergeStream]] and [[deleteStream]] on a routed CDC
    * stream, whose callbacks run on CONCURRENT threads against the same
    * `<name>_*` tables) plus the cross-process epoch guard. */
  private[graft] val family = {
    import graft.sources.StoreFamily.{Bucketed, Plain}
    new graft.sources.StoreFamily(
      Map(
        "clusters" -> Plain(),
        "shingles" -> Bucketed(Seq("id")),
        "buckets" -> Bucketed(Seq("band", "bucket")),
        "meta" -> Plain(singleFile = true),
        "nearclusters" -> Bucketed(Seq("id")),
        "nclmeta" -> Plain(singleFile = true)),
      base = Some("shingles"),
      derived = Seq("nearclusters", "nclmeta"))
  }

  /** Maintained-cluster parameters, gated on BOTH tables: None when no
    * maintained table exists; throws when `<name>_nearclusters` is
    * present without `<name>_nclmeta` — the signature of a
    * buildNearClusters interrupted between its two staged writes, where
    * silently skipping the advance would let later [[readNearClusters]]
    * reads serve a stale table as truth. */
  private def nclParams(spark: SparkSession, name: String): Option[(Double, Int)] = {
    val nclT = s"${name}_nearclusters"
    val metaT = s"${name}_nclmeta"
    if (!spark.catalog.tableExists(nclT)) None
    else if (!spark.catalog.tableExists(metaT))
      throw new IllegalStateException(
        s"$nclT exists but $metaT is missing (interrupted buildNearClusters?) — " +
          s"re-run DedupIndex.buildNearClusters('$name', ...) to restore the pair")
    else {
      val meta = spark.table(metaT).head() // bounded: one parameter row
      Some((meta.getDouble(0), meta.getInt(1)))
    }
  }

  /** Build the OPT-IN maintained near-dup cluster table of a persisted
    * index: one full [[Index.nearClusters]] closure (the expensive CC
    * over the whole pair graph — the 133 s d35-standalone cost at 100x,
    * BASELINE.md), stored id-bucketed as `<name>_nearclusters` with its
    * parameters in `<name>_nclmeta`. Once present, [[mergeBucketed]] /
    * [[mergeStream]] advance it per batch ([[advanceClusters]]) — the
    * closure never re-runs. Consumers read it back with
    * [[readNearClusters]] and explode to documents via
    * [[Index.clusterAssignFrom]]. */
  def buildNearClusters(
      spark: SparkSession, name: String, threshold: Double,
      maxBucketSize: Int = 0): Unit = family.mutate(spark, name) {
    val ncl = CheckpointPolicy.pin(readBucketed(spark, name)
      .nearClusters(threshold, maxBucketSize))
    writeNearClusters(spark, name, ncl, threshold, maxBucketSize)
  }

  /** The WRITE half of [[buildNearClusters]]: persist an
    * already-computed cluster closure as the maintained table pair.
    * Public so a caller that caches the closure across runs (the bench
    * memo — the d10/d12/d19 precedent) can restore the persisted state
    * without re-paying the closure CC; `ncl` must be the closure of the
    * stored index at exactly these parameters (the advance/repair faces
    * trust `_nclmeta` to describe `_nearclusters`). The table is
    * id-bucketed at the index's own bucket count, so it co-buckets with
    * `<name>_shingles`. */
  def writeNearClusters(
      spark: SparkSession, name: String, ncl: DataFrame, threshold: Double,
      maxBucketSize: Int = 0): Unit = family.mutate(spark, name) {
    import spark.implicits._
    family.write(spark, name, "nearclusters", ncl)
    family.write(spark, name, "nclmeta",
      Seq((threshold, maxBucketSize)).toDF("threshold", "max_bucket_size"))
  }

  /** The maintained representative-level cluster table — always ≡
    * `readBucketed(name).nearClusters(threshold)` rebuilt, across any
    * sequence of merges (TextDedupSpec pins it; see [[advanceClusters]]
    * for the capped-recall nuance). */
  def readNearClusters(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_nearclusters")

  private def metaFrame(idx: Index): DataFrame = {
    val spark = idx.clusters.sparkSession
    import spark.implicits._
    Seq((idx.shingleSize, idx.numHashes, idx.bands))
      .toDF("shingle_size", "num_hashes", "bands")
  }

  /** Persist as catalog tables `<name>_{clusters,shingles,buckets,meta}`
    * with the join-key bucketing that makes every later probe
    * exchange-free on the stored side. Overwrites. A maintained cluster
    * table of an earlier index under this name (`<name>_nearclusters`,
    * `<name>_nclmeta`) is dropped: it describes an index that is gone
    * (rebuild it with [[buildNearClusters]]).
    */
  def writeBucketed(idx: Index, name: String, numBuckets: Int = 32): Unit = {
    val spark = idx.clusters.sparkSession
    family.mutate(spark, name) {
      family.invalidate(spark, name)
      writeIndexTables(idx, name, Some(numBuckets))
    }
  }

  /** The four index tables of [[writeBucketed]], leaving the maintained
    * cluster table alone: [[mergeBucketed]] and [[deleteBucketed]]
    * advance that table themselves. `numBuckets` defaults to the stored
    * index's. Staged overwrites (the family writer): each live table
    * stays intact and readable until its replacement commits, so lazy
    * frames deriving the new contents FROM the stored tables stay valid.
    * Callers hold `family.mutate`. */
  private def writeIndexTables(
      idx: Index, name: String, numBuckets: Option[Int] = None): Unit = {
    val spark = idx.clusters.sparkSession
    val n = Some(numBuckets.getOrElse(family.bucketCount(spark, name)))
    family.write(spark, name, "clusters", idx.clusters)
    family.write(spark, name, "shingles", idx.shingles, buckets = n)
    family.write(spark, name, "buckets", idx.buckets, buckets = n)
    family.write(spark, name, "meta", metaFrame(idx))
  }

  def readBucketed(spark: SparkSession, name: String): Index = {
    val m = spark.table(s"${name}_meta").head()
    Index(
      spark.table(s"${name}_clusters"),
      spark.table(s"${name}_shingles"),
      spark.table(s"${name}_buckets"),
      m.getInt(0), m.getInt(1), m.getInt(2))
  }

  /** Plain-parquet face: `<path>/{clusters,shingles,buckets,_meta}`
    * directories, repartitioned + sorted within partitions on the join
    * keys so parquet row-group min/max stats prune key-range probes.
    * Portable (no catalog); the bucketed face is the zero-exchange one.
    */
  def write(idx: Index, path: String): Unit = {
    idx.clusters.write.mode("overwrite").parquet(s"$path/clusters")
    idx.shingles.repartition(col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/shingles")
    idx.buckets.repartition(col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").parquet(s"$path/buckets")
    metaFrame(idx).coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
  }

  def read(spark: SparkSession, path: String): Index = {
    val m = spark.read.parquet(s"$path/_meta").head()
    Index(
      spark.read.parquet(s"$path/clusters"),
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/buckets"),
      m.getAs[Int]("shingle_size"), m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"))
  }
}
