package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy
import graft.multimodal.Multimodal

/** Ingestion-time PERCEPTUAL dedup for media: flag images (or any binary
  * payloads) arriving on a stream against a static corpus index — the
  * [[DocStream]] pattern applied to the multimodal family, closing the
  * "is this upload batch already in the training set?" loop for
  * non-text data.
  *
  * Shape mirrors DocStream exactly:
  *  - the corpus is indexed ONCE ([[indexCorpus]]): exact byte-duplicate
  *    collapse on the payload sha256 (digests shuffle, payloads never),
  *    dHash64 per representative, and the 4x16-bit pigeonhole chunk
  *    table, all materialized;
  *  - each incoming item computes its dHash per row (a narrow
  *    partition-batched map — no shuffle), explodes its 4 chunks, joins
  *    the static chunk table (stream-static equi-join, STATELESS in
  *    Structured Streaming), dedups candidates within the watermark,
  *    and verifies with the exact XOR+popcount;
  *  - hits carry the corpus representative's copy count so one hit
  *    expands to all byte-identical corpus copies.
  *
  * The same function runs on a batch frame (plain `dropDuplicates`
  * replaces the watermarked variant) — which is how the driver oracle
  * checks it (query m04); the streaming path is spec-driven live on a
  * MemoryStream.
  */
object MediaStream {

  /** Materialized perceptual index of the reference corpus:
    * `chunks` (c, v, corpus_id) — one row per 16-bit dHash chunk per
    * representative; `hashes` (corpus_id, corpus_dhash) for the exact
    * verify; `clusters` (corpus_id, corpus_n_copies) — the exact-dup
    * representative map. Build once, probe every micro-batch. */
  final case class MediaIndex(
      chunks: DataFrame, hashes: DataFrame, clusters: DataFrame)

  /** @param maxBucketSize when > 0, corpus chunk buckets — (chunk index,
    *        16-bit value) keys — with more members than the cap are left
    *        OUT of the materialized chunk table (the
    *        [[graft.dedup.Dedup.dropHotChunks]] device). The stream side
    *        cannot be counted (it is unbounded), so the cap lives on the
    *        static index: with it, one incoming item's 4 chunks can meet
    *        at most `4 * maxBucketSize` corpus candidates, whatever
    *        degenerate population (solid-color thumbnails dHashing every
    *        chunk to 0) the corpus holds. Recall is lost only for items
    *        whose EVERY matching corpus chunk is over-cap — members of
    *        large perceptually-identical corpus clusters; byte-identical
    *        uploads are still caught exactly by a sha256 probe of
    *        `clusters`' digests, which is the cheaper first line anyway.
    *        0 (default) = no cap.
    */
  def indexCorpus(media: DataFrame, maxBucketSize: Int = 0): MediaIndex = {
    val groups = media
      .select(col("media_id"), sha2(col("content"), 256).as("_ph"))
      .groupBy(col("_ph"))
      .agg(min(col("media_id")).as("corpus_id"),
        count(lit(1)).as("corpus_n_copies"))
    val clusters = CheckpointPolicy.pin(groups
      .select(col("corpus_id"), col("corpus_n_copies")))
    val reps = media.join(
      clusters.select(col("corpus_id").as("media_id")), Seq("media_id"), "left_semi")
    val hashes = CheckpointPolicy.pin(Multimodal.dHashes(reps).toDF()
      .select(col("media_id").as("corpus_id"), col("dhash").as("corpus_dhash")))
    val allChunks = hashes.select(
      col("corpus_id"), col("corpus_dhash"),
      explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c as c, shiftright(corpus_dhash, c * 16) & 65535 as v))")).as("ck"))
      .select(col("ck.c").as("c"), col("ck.v").as("v"), col("corpus_id"))
    val chunks = CheckpointPolicy.pin(graft.dedup.Dedup
      .dropHotChunks(allChunks, struct(col("c"), col("v")), maxBucketSize))
    MediaIndex(chunks, hashes, clusters)
  }

  /** Perceptual near-dup hits of `incoming` (streaming or batch) against
    * the indexed corpus: one row per (incoming item, corpus
    * representative) with Hamming distance <= `maxDist`, plus the
    * representative's copy count. Output: media_id (+ tsCol when given),
    * corpus_id, corpus_n_copies, hamming.
    *
    * Streaming input REQUIRES `tsCol`: candidate pairs dedup with
    * `dropDuplicatesWithinWatermark` keyed (media_id, corpus_id) — an
    * item matching a corpus entry in several chunks verifies once, and
    * the state expires after `horizon` of event time. The pigeonhole is
    * exhaustive for maxDist <= 3, so hits are exact, not approximate.
    */
  /** Internal row shape for the hash map when an event-time column
    * rides along (public: Catalyst's generated deserializer cannot
    * access private classes). */
  final case class TsItem(
      media_id: Long, ts: java.sql.Timestamp,
      content: Array[Byte], format: String)

  def nearDupAgainstCorpus(
      incoming: DataFrame, index: MediaIndex,
      tsCol: Option[String] = None,
      maxDist: Int = 3,
      horizon: String = "10 minutes"): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole is exhaustive only for maxDist <= 3")
    require(!incoming.isStreaming || tsCol.nonEmpty,
      "streaming input needs tsCol for the candidate-dedup watermark")
    val keep = col("media_id") +: tsCol.map(col).toSeq
    val spark = incoming.sparkSession
    import spark.implicits._
    // the event-time column rides THROUGH the per-row hash map (a
    // narrow mapPartitions) — re-joining it afterwards would be a
    // stream-stream self join, which needs state this path must not hold
    val hashed = tsCol match {
      case Some(ts) =>
        val h = incoming
          .select(col("media_id"), col(ts).cast("timestamp").as("ts"),
            col("content"), col("format")).as[TsItem]
          .mapPartitions(_.map { m =>
            val (hh, _) = Multimodal.dHash(
              Multimodal.MediaItem(m.media_id, m.content, m.format, -1, -1))
            (m.media_id, m.ts, hh)
          }).toDF("media_id", ts, "dhash")
        if (incoming.isStreaming) h.withWatermark(ts, horizon) else h
      case None =>
        incoming.select(col("media_id"), col("content"), col("format"))
          .as[(Long, Array[Byte], String)]
          .mapPartitions(_.map { case (id, c, f) =>
            (id, Multimodal.dHash(Multimodal.MediaItem(id, c, f, -1, -1))._1)
          }).toDF("media_id", "dhash")
    }
    val exploded = hashed.select(keep ++ Seq(col("dhash"),
      explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c as c, shiftright(dhash, c * 16) & 65535 as v))")).as("ck")): _*)
      .select(keep ++ Seq(col("dhash"),
        col("ck.c").as("c"), col("ck.v").as("v")): _*)
    val cands0 = exploded.join(index.chunks, Seq("c", "v"))
    val cands =
      if (incoming.isStreaming)
        cands0.dropDuplicatesWithinWatermark(Seq("media_id", "corpus_id"))
      else cands0.dropDuplicates("media_id", "corpus_id")
    cands
      // the candidate row carries only the matched chunk; fetch the full
      // corpus hash back BY KEY for the exact verify (tiny static side)
      .join(index.hashes, Seq("corpus_id"))
      .join(index.clusters, Seq("corpus_id"))
      .select(keep ++ Seq(col("corpus_id"), col("corpus_n_copies"),
        bit_count(col("dhash").bitwiseXOR(col("corpus_dhash"))).as("hamming")): _*)
      .filter(col("hamming") <= maxDist)
  }
}
