package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Ingestion-time near-duplicate detection: flag documents arriving on a
  * stream (a crawl, an upload queue) against a STATIC reference corpus —
  * the "is this batch of new data already in the training set?"
  * primitive that batch dedup ([[graft.dedup.Dedup]]) cannot express.
  *
  * Shape: the corpus is indexed ONCE ([[indexCorpus]] — MinHash LSH
  * buckets plus the shingle sets for exact verification, both
  * materialized so every micro-batch reads blocks instead of recomputing
  * the corpus); each incoming document computes its signature per ROW
  * (codegen'd [[graft.functions.MinHashSig]], no shuffle), joins the
  * bucket index (a stream-static equi-join — STATELESS in Structured
  * Streaming), deduplicates candidate pairs within the watermark, and
  * exact-verifies survivors against the corpus shingle sets. Every
  * stateful byte is bounded: candidate-dedup state expires with the
  * watermark horizon and the index is fixed at build time.
  *
  * The same function runs on a batch frame (plain `dropDuplicates`
  * replaces the watermarked variant), which is how the driver oracle
  * checks it (query d10) — the streaming path is spec-checked live on a
  * MemoryStream.
  */
object DocStream {

  /** Materialized LSH index of the reference corpus.
    * `buckets`: (bk, corpus_id) — one row per (band, bucket) key;
    * `shingles`: (corpus_id, corpus_sh) — distinct shingle sets for the
    * exact-Jaccard verify. Build once, reuse across micro-batches. */
  final case class CorpusIndex(
      buckets: DataFrame, shingles: DataFrame,
      shingleSize: Int, numHashes: Int, bands: Int)

  def indexCorpus(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32): CorpusIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = CheckpointPolicy.pin(corpus.select(
      col(idCol).as("corpus_id"),
      array_distinct(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), shingleSize))
        .as("corpus_sh"))
      .filter(size(col("corpus_sh")) > 0))
    val buckets = CheckpointPolicy.pin(Dedup
      .minhashSignatures(
        sh.select(col("corpus_id").as("id"), col("corpus_sh").as("sh")), numHashes)
      .select(col("id").as("corpus_id"),
        explode(Dedup.lshBuckets(col("sig"), bands, numHashes / bands)).as("bk")))
    CorpusIndex(buckets, sh, shingleSize, numHashes, bands)
  }

  /** [[CorpusIndex]] built over exact-duplicate REPRESENTATIVES plus the
    * copy-cluster map that expands a representative hit back to its
    * copies: `clusters` is (corpus_id, corpus_n_copies) where corpus_id
    * is the minimum doc id of each distinct-text group. A duplicate-heavy
    * corpus (the realistic crawl shape) otherwise indexes every copy into
    * the same LSH buckets, and every incoming probe then verifies + emits
    * once per copy — quadratic in the copy counts on both sides. */
  final case class DedupedCorpusIndex(index: CorpusIndex, clusters: DataFrame)

  /** [[indexCorpus]] with exact-dedup collapse first: one combinable
    * groupBy on the text keeps the minimum id per distinct text (plus the
    * copy count), and only the representatives are signed and bucketed.
    * The index this builds is smaller by the corpus duplication factor,
    * and — because every copy has the same shingle set, hence the same
    * Jaccard to everything — loses nothing: a hit against the
    * representative IS a hit against each copy, recoverable through
    * `clusters`. At warehouse scale persist `clusters`/`index` to a table
    * instead of the pins used here. */
  def indexCorpusDeduped(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32): DedupedCorpusIndex = {
    // collapse on the text's sha256, NOT the text: the grouping shuffle
    // then moves 32-byte digests instead of documents, and the
    // representative TEXTS are fetched back by a semi-join on the
    // (usually broadcastable) representative-id set — the full corpus
    // text never shuffles. Identical groups up to a sha256 collision
    // (~2^-128; a collision would only merge two near-identical index
    // entries).
    val groups = corpus
      .select(col(idCol), sha2(col(textCol), 256).as("_th"))
      .groupBy(col("_th"))
      .agg(min(col(idCol)).as("corpus_id"), count(lit(1)).as("corpus_n_copies"))
    val clusters = CheckpointPolicy.pin(groups
      .select(col("corpus_id"), col("corpus_n_copies")))
    val reps = corpus.join(
      clusters.select(col("corpus_id").as(idCol)), Seq(idCol), "left_semi")
    val idx = indexCorpus(reps.select(col(idCol), col(textCol)),
      idCol, textCol, shingleSize, numHashes, bands)
    DedupedCorpusIndex(idx, clusters)
  }

  /** Adapt a persisted [[graft.dedup.DedupIndex.Index]] for the
    * streaming/batch ingest probe — the write-once-probe-everywhere
    * path: the index is built (or [[graft.dedup.DedupIndex.read]]) once
    * and every micro-batch joins its stored bucket/shingle tables; no
    * corpus signature is ever recomputed (the probe plan contains
    * MinHashSig only for the INCOMING rows). Equivalent frames to
    * [[indexCorpusDeduped]]: same sha-collapse representative map, same
    * shingle sets, same banded bucket keys.
    */
  def fromDedupIndex(idx: graft.dedup.DedupIndex.Index): DedupedCorpusIndex =
    DedupedCorpusIndex(
      CorpusIndex(
        idx.buckets.select(
          struct(col("band"), col("bucket")).as("bk"), col("id").as("corpus_id")),
        idx.shingles.select(col("id").as("corpus_id"), col("sh").as("corpus_sh")),
        idx.shingleSize, idx.numHashes, idx.bands),
      idx.clusters.select(
        col("keep_id").as("corpus_id"), col("n_copies").as("corpus_n_copies")))

  /** Result of [[dedupedNearDupAgainstCorpus]]:
    *  - `hits` — one row per (incoming REPRESENTATIVE, corpus
    *    representative) near-dup pair: (idCol [, tsCol], corpus_id,
    *    corpus_n_copies, jaccard);
    *  - `copyCounts` — the map from incoming representative to its copy
    *    count, joined to `hits` on idCol to expand a representative hit
    *    to all its exact copies. Batch: (idCol, n_copies) over the whole
    *    input. Streaming: a separate watermark-windowed aggregation
    *    (window, idCol, n_copies) that the caller runs as its own sink —
    *    counts cannot ride the hits stream because the total per-key
    *    count is only known when the watermark closes the window,
    *    while hits should flow as soon as the probe verifies. */
  final case class DedupedCorpusHits(hits: DataFrame, copyCounts: DataFrame)

  /** Dedup-first [[nearDupAgainstCorpus]] — the composition every
    * duplicate-heavy ingest stream needs (the batch twins are
    * [[graft.dedup.Dedup.dedupedNearDuplicates]] and
    * [[graft.similarity.Ann.dedupedNearDupPairs]]): an incoming slice
    * that is 90% exact copies otherwise probes the LSH index once per
    * COPY instead of once per distinct text, and emits every verified
    * pair once per copy on each side.
    *
    * Collapse step, stream/batch agnostic like the probe itself:
    *  - batch — one combinable groupBy(text) keeping the min id (the
    *    deterministic representative the oracle replays);
    *  - streaming — `dropDuplicatesWithinWatermark` keyed by the 64-hex
    *    sha256 of the text (bounded state: one digest per distinct text
    *    inside the horizon, not the text itself), keeping the FIRST-seen
    *    copy as representative; downstream of it the probe is the same
    *    stream-static bucket join. Copy counts come from the separate
    *    `copyCounts` windowed aggregation (see [[DedupedCorpusHits]]).
    */
  def dedupedNearDupAgainstCorpus(
      docs: DataFrame, index: DedupedCorpusIndex,
      idCol: String, textCol: String,
      tsCol: Option[String] = None,
      threshold: Double = 0.5,
      horizon: String = "10 minutes"): DedupedCorpusHits = {
    require(!docs.isStreaming || tsCol.nonEmpty,
      "streaming input needs tsCol for the dedup + candidate watermarks")
    val keep = col(idCol) +: tsCol.map(col).toSeq
    val (reps, copyCounts) =
      if (docs.isStreaming) {
        val keyed = docs
          .select(keep :+ col(textCol) :+ sha2(col(textCol), 256).as("_th"): _*)
          .withWatermark(tsCol.get, horizon)
        val reps = keyed.dropDuplicatesWithinWatermark(Seq("_th")).drop("_th")
        val counts = keyed
          .groupBy(window(col(tsCol.get), horizon), col("_th"))
          .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
          .select(col("window"), col(idCol), col("n_copies"))
        (reps, counts)
      } else {
        // same narrow-shuffle collapse as indexCorpusDeduped: group on
        // the sha, fetch representative texts back by id semi-join
        val groups = docs
          .select(col(idCol), sha2(col(textCol), 256).as("_th"))
          .groupBy(col("_th"))
          .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
        val reps = docs
          .join(groups.select(col(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol))
        (reps, groups.select(col(idCol), col("n_copies")))
      }
    val hits = probe(
        reps, index.index, idCol, textCol, tsCol, threshold, horizon,
        applyWatermark = !docs.isStreaming)
      // clusters is small by construction (distinct corpus texts only,
      // two narrow columns) — ride the existing stream-static join shape
      .join(index.clusters, Seq("corpus_id"))
      .select(keep ++ Seq(col("corpus_id"), col("corpus_n_copies"), col("jaccard")): _*)
    DedupedCorpusHits(hits, copyCounts)
  }

  /** Near-duplicate hits of `docs` (streaming or batch) against the
    * indexed corpus: one row per (doc, corpus doc) pair with exact
    * shingle Jaccard >= `threshold`. Output columns: idCol (+ tsCol when
    * given), corpus_id, jaccard.
    *
    * On a streaming frame `tsCol` is REQUIRED: candidate pairs
    * deduplicate with `dropDuplicatesWithinWatermark` keyed
    * (idCol, corpus_id), so a document matching a corpus entry in
    * several LSH bands is verified once, and the dedup state expires
    * after `horizon` of event time.
    */
  def nearDupAgainstCorpus(
      docs: DataFrame, index: CorpusIndex,
      idCol: String, textCol: String,
      tsCol: Option[String] = None,
      threshold: Double = 0.5,
      horizon: String = "10 minutes"): DataFrame =
    probe(docs, index, idCol, textCol, tsCol, threshold, horizon,
      applyWatermark = true)

  /** [[nearDupAgainstCorpus]] body; `applyWatermark = false` when the
    * caller already declared the event-time watermark upstream (the
    * dedup-first path — Spark disallows redefining a watermark below a
    * stateful operator). */
  private def probe(
      docs: DataFrame, index: CorpusIndex,
      idCol: String, textCol: String,
      tsCol: Option[String],
      threshold: Double,
      horizon: String,
      applyWatermark: Boolean): DataFrame = {
    require(!docs.isStreaming || tsCol.nonEmpty,
      "streaming input needs tsCol for the candidate-dedup watermark")
    val keep = col(idCol) +: tsCol.map(col).toSeq
    val base0 = docs.select(keep :+
      array_distinct(
        TextFunctions.shingles(
          TextFunctions.tokens(col(textCol)), index.shingleSize)).as("_sh"): _*)
      .filter(size(col("_sh")) > 0)
    val base =
      if (docs.isStreaming && applyWatermark) base0.withWatermark(tsCol.get, horizon)
      else base0
    val exploded = base
      .withColumn("_sig", graft.functions.MinHashSig(col("_sh"), index.numHashes))
      .select(keep ++ Seq(col("_sh"),
        explode(Dedup.lshBuckets(col("_sig"), index.bands,
          index.numHashes / index.bands)).as("bk")): _*)
    val cands0 = exploded.join(index.buckets, Seq("bk"))
    val cands =
      if (docs.isStreaming)
        cands0.dropDuplicatesWithinWatermark(Seq(idCol, "corpus_id"))
      else cands0.dropDuplicates(idCol, "corpus_id")
    cands.join(index.shingles, Seq("corpus_id"))
      .select(keep ++ Seq(col("corpus_id"),
        (size(array_intersect(col("_sh"), col("corpus_sh"))).cast("double") /
          size(array_union(col("_sh"), col("corpus_sh")))).as("jaccard")): _*)
      .filter(col("jaccard") >= threshold)
  }
}
