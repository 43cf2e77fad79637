package graft.multimodal

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with a typed metadata
  * struct; per-item decode/feature-extraction runs as partition-local
  * imperative code over the binary payloads.
  *
  * Decode is REAL for the formats the bare JVM can read:
  *
  *  - images (png/jpg/jpeg/bmp/gif/wbmp): `javax.imageio.ImageIO`, part
  *    of the Java SE desktop module — no external codec libraries.
  *    Features are luminance statistics (Rec.601 integer weights, so the
  *    values are deterministic across JVMs);
  *  - audio (wav, PCM 8/16-bit): a pure-Scala RIFF chunk walker —
  *    features are amplitude statistics;
  *  - anything else (mp4, webp, flac, …) falls back to [[byteStats]] —
  *    deterministic byte-histogram moments over the raw payload — and is
  *    marked `kind = "raw"` so downstream can filter undecoded items.
  *    Swapping in a native codec means adding one case to [[decode]].
  *
  * Scale notes: `mapPartitions` keeps the per-item decode cost off the
  * driver and amortizes per-partition setup (codec init) across the
  * partition's rows — the Scala analog of a batched pandas UDF. Payloads
  * never shuffle: feature extraction is a narrow map, and downstream
  * joins carry only (id, features).
  */
object Multimodal {

  final case class MediaItem(
      media_id: Long,
      content: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  /** `kind` is image|audio|raw. For images `width`/`height` are decoded
    * pixel dimensions; for audio `width` is the sample rate and `height`
    * the channel count; for raw both are -1.
    *
    * `mean_byte`/`byte_entropy`/`features` are per-kind on the same
    * scale: images use 0-255 luminance, audio uses absolute 16-bit
    * amplitude folded to 0-255, raw uses the payload bytes — in every
    * case an 8-bin normalized histogram rides in `features`.
    */
  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      mean_byte: Double,
      byte_entropy: Double,
      features: Array[Float],
      kind: String,
      width: Int,
      height: Int)

  /** Wrap the documents table as a media table: the text payload stands in
    * for an encoded payload (`content` binary + fake dimensions from the
    * payload size). In production this is [[mediaFromBinaryFiles]] or a
    * parquet of encoded frames.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      lit("fake/raw").as("format"),
      (length(col("text")) % 64 + 1).cast("int").as("width"),
      (length(col("text")) % 48 + 1).cast("int").as("height"))

  /** Real file-source wiring: read a directory of encoded media files
    * through Spark's `binaryFile` source — one row per file with the raw
    * bytes, never decoded on the driver. `media_id` is the path hash
    * (deterministic across runs); `format` is the lowercased extension;
    * dimensions are unknown before decode (-1, filled by the decoder).
    *
    * Scale notes: binaryFile splits per FILE (payloads are never chunked
    * mid-file), so partition count tracks file count; set
    * `spark.sql.files.maxPartitionBytes`/`openCostInBytes` so a partition
    * holds a sane batch of files, and prefer packing many small media
    * files into parquet (binary column) for the 100 TB case — this reader
    * is the ingestion edge that produces exactly that table.
    */
  def mediaFromBinaryFiles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      glob: Option[String] = None): DataFrame = {
    val reader = spark.read.format("binaryFile")
    glob.foreach(g => reader.option("pathGlobFilter", g))
    reader.load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        col("content"),
        lower(regexp_extract(col("path"), "\\.([^.]+)$", 1)).as("format"),
        lit(-1).as("width"),
        lit(-1).as("height"),
        col("path"),
        col("length"))
  }

  private val ImageFormats = Set("png", "jpg", "jpeg", "bmp", "gif", "wbmp")

  /** Histogram → (mean, entropy-in-bits, 8-bin normalized) over `n`
    * counted values in [0, 255]. */
  private def histFeatures(hist: Array[Long], n: Long, sum: Long)
      : (Double, Double, Array[Float]) = {
    val mean = if (n == 0) 0.0 else sum.toDouble / n
    var entropy = 0.0
    if (n > 0) {
      var j = 0
      while (j < 256) {
        if (hist(j) > 0) {
          val p = hist(j).toDouble / n
          entropy -= p * math.log(p) / math.log(2)
        }
        j += 1
      }
    }
    val bins = new Array[Float](8)
    var k = 0
    while (k < 256) { bins(k / 32) += hist(k).toFloat; k += 1 }
    if (n > 0) { var m = 0; while (m < 8) { bins(m) /= n; m += 1 } }
    (mean, entropy, bins)
  }

  /** Fallback features: deterministic byte-histogram moments of the raw
    * payload — keeps undecodable items flowing with honest `kind="raw"`.
    */
  def byteStats(item: MediaItem): MediaFeatures = {
    val bytes = item.content
    val hist = new Array[Long](256)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      hist(b) += 1
      sum += b
      i += 1
    }
    val (mean, entropy, bins) = histFeatures(hist, bytes.length.toLong, sum)
    MediaFeatures(item.media_id, bytes.length.toLong, mean, entropy, bins,
      "raw", -1, -1)
  }

  /** ImageIO decode (JDK built-in readers: png/jpeg/bmp/gif/wbmp).
    * Luminance per pixel by the Rec.601 integer formula
    * (299 r + 587 g + 114 b) / 1000 — all-integer, so bit-identical on
    * any JVM. Returns None when no reader accepts the bytes.
    */
  def decodeImage(item: MediaItem): Option[MediaFeatures] = {
    val img =
      try javax.imageio.ImageIO.read(new ByteArrayInputStream(item.content))
      catch { case _: Exception => null }
    if (img == null) None
    // decompression-bomb guard: a tiny payload can decode to a huge
    // raster; cap decoded pixels (128M ≈ a 11k x 11k frame) and let the
    // item flow on as kind="raw" instead of OOMing the executor
    else if (img.getWidth.toLong * img.getHeight > (1L << 27)) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val hist = new Array[Long](256)
      var sum = 0L
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val p = row(x)
          val lum = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
            114 * (p & 0xff)) / 1000
          hist(lum) += 1
          sum += lum
          x += 1
        }
        y += 1
      }
      val (mean, entropy, bins) = histFeatures(hist, w.toLong * h, sum)
      Some(MediaFeatures(item.media_id, item.content.length.toLong,
        mean, entropy, bins, "image", w, h))
    }
  }

  /** Pure-Scala RIFF/WAVE walker for PCM 8- and 16-bit audio. Amplitude
    * statistics over |sample| folded to the 0-255 scale (16-bit samples
    * are right-shifted 7 after abs). Returns None unless a valid
    * fmt+data chunk pair with PCM encoding is present.
    */
  def decodeWav(item: MediaItem): Option[MediaFeatures] = {
    val b = item.content
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32(i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    def tag(i: Int): String =
      if (i + 4 <= b.length) new String(b, i, 4, "US-ASCII") else ""
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var pos = 12
    var fmtOk = false
    var channels = 0
    var sampleRate = 0
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= b.length) {
      val id = tag(pos)
      val sz = u32(pos + 4).toInt
      // a crafted/corrupt chunk size must not walk the cursor backwards
      // (infinite loop) or claim more than the payload holds
      if (sz < 0 || sz > b.length - pos - 8) return None
      if (id == "fmt " && pos + 8 + 16 <= b.length) {
        val audioFormat = u16(pos + 8)
        channels = u16(pos + 10)
        sampleRate = u32(pos + 12).toInt
        bits = u16(pos + 22)
        fmtOk = audioFormat == 1 && (bits == 8 || bits == 16) && channels > 0
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = math.min(sz, b.length - dataOff)
      }
      pos += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0 || dataLen <= 0) return None
    val hist = new Array[Long](256)
    var sum = 0L
    var n = 0L
    if (bits == 16) {
      var i = dataOff
      while (i + 1 < dataOff + dataLen) {
        val s = (u16(i) << 16) >> 16 // sign-extend
        val a = math.min(math.abs(s), 32767) >> 7
        hist(a) += 1; sum += a; n += 1
        i += 2
      }
    } else {
      var i = dataOff
      while (i < dataOff + dataLen) {
        val a = math.abs((b(i) & 0xff) - 128) * 2 // 8-bit PCM is unsigned
        val c = math.min(a, 255)
        hist(c) += 1; sum += c; n += 1
        i += 1
      }
    }
    val (mean, entropy, bins) = histFeatures(hist, n, sum)
    Some(MediaFeatures(item.media_id, b.length.toLong, mean, entropy, bins,
      "audio", sampleRate, channels))
  }

  /** Per-item decode dispatch by declared format, with honest fallback:
    * image/audio items whose bytes fail their decoder degrade to
    * `kind="raw"` byte statistics rather than erroring the partition.
    */
  def decode(item: MediaItem): MediaFeatures = item.format match {
    case f if ImageFormats(f) => decodeImage(item).getOrElse(byteStats(item))
    case "wav" => decodeWav(item).getOrElse(byteStats(item))
    case _ => byteStats(item)
  }

  /** Partition-batched feature extraction: one decoder pass per partition,
    * payloads pruned after the map.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content", "format", "width", "height")
      .as[MediaItem]
      .mapPartitions { it =>
        // per-partition decoder setup would go here (codec init, model load)
        it.map(decode)
      }
  }

  /** 64-bit difference hash from a 9x8 grid of cell means: bit r*8+c is
    * set when cell(r, c) < cell(r, c+1) — the standard perceptual dHash
    * bit rule (gradient direction survives re-encode/resize/brightness
    * shifts that change every raw byte). All-integer: cell mean is
    * floor(sum/size), so the hash is a pure function of the pixel/byte
    * content on any JVM and replayable by a SQL engine. */
  private def gridHash(cells: Array[Long]): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c) < cells(r * 9 + c + 1)) h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** dHash64 of a decoded image: 9x8 cell grid over the raster, cell =
    * floor(integer Rec.601 luminance sum / pixel count), cell block
    * [floor(c*w/9), floor((c+1)*w/9)) x [floor(r*h/8), floor((r+1)*h/8))
    * (empty blocks on tiny rasters read 0). */
  def dHashImage(item: MediaItem): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new ByteArrayInputStream(item.content))
      catch { case _: Exception => null }
    if (img == null) None
    else if (img.getWidth.toLong * img.getHeight > (1L << 27)) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      val cells = new Array[Long](72)
      val row = new Array[Int](w)
      var r = 0
      while (r < 8) {
        val y0 = (r.toLong * h / 8).toInt
        val y1 = ((r + 1).toLong * h / 8).toInt
        val sums = new Array[Long](9)
        val cnts = new Array[Long](9)
        var y = y0
        while (y < y1) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var c = 0
          while (c < 9) {
            val x0 = (c.toLong * w / 9).toInt
            val x1 = ((c + 1).toLong * w / 9).toInt
            var x = x0
            while (x < x1) {
              val p = row(x)
              sums(c) += (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
                114 * (p & 0xff)) / 1000
              cnts(c) += 1
              x += 1
            }
            c += 1
          }
          y += 1
        }
        var c = 0
        while (c < 9) {
          cells(r * 9 + c) = if (cnts(c) > 0) sums(c) / cnts(c) else 0L
          c += 1
        }
        r += 1
      }
      Some(gridHash(cells))
    }
  }

  /** Byte-grid dHash64 fallback for payloads the JVM cannot decode
    * (kind="raw"): the payload splits into 72 contiguous slices
    * [floor(i*n/72), floor((i+1)*n/72)), cell = floor(byte sum / slice
    * length) (empty slices read 0), same 9x8 bit rule. Not perceptual —
    * but deterministic, exact-integer, and oracle-replayable, which
    * keeps undecodable items inside the SAME dedup machinery instead of
    * dropping them. Empty payloads hash to 0. */
  def dHashBytes(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val cells = new Array[Long](72)
    var i = 0
    while (i < 72) {
      val from = (i.toLong * n / 72).toInt
      val until = ((i + 1).toLong * n / 72).toInt
      if (until > from) {
        var s = 0L
        var j = from
        while (j < until) { s += bytes(j) & 0xff; j += 1 }
        cells(i) = s / (until - from)
      }
      i += 1
    }
    gridHash(cells)
  }

  /** Per-item perceptual hash dispatch: decoded-image grid when the
    * declared format has a JVM reader and the bytes decode, byte-grid
    * fallback otherwise. Returns (hash, kind). */
  def dHash(item: MediaItem): (Long, String) = item.format match {
    case f if ImageFormats(f) =>
      dHashImage(item).map((_, "image")).getOrElse((dHashBytes(item.content), "raw"))
    case _ => (dHashBytes(item.content), "raw")
  }

  final case class MediaHash(media_id: Long, dhash: Long, kind: String)

  /** Partition-batched dHash extraction — payloads pruned after the map,
    * one decoder pass per partition (the [[extractFeatures]] shape). */
  def dHashes(media: DataFrame): Dataset[MediaHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content", "format", "width", "height")
      .as[MediaItem]
      .mapPartitions(_.map { m =>
        val (h, k) = dHash(m)
        MediaHash(m.media_id, h, k)
      })
  }

  /** Result of [[dHashNearDups]]: `pairs` (id_a, id_b, hamming) among
    * exact-duplicate representatives; `copyClusters` (keep_id, n_copies)
    * expanding a representative back to its byte-identical copies. */
  final case class MediaNearDups(pairs: DataFrame, copyClusters: DataFrame)

  /** Perceptual near-duplicate image detection, dedup-first (VERDICT r8
    * #4) — the #1 multimodal curation operation, built from existing
    * machinery: exact byte-duplicate collapse on the payload sha256
    * (digests shuffle, payloads do not — the DocStream device), dHash64
    * per representative (narrow partition-batched map), then candidate
    * pairs by the 4x16-bit pigeonhole (Hamming <= 3 forces one identical
    * 16-bit chunk — the [[graft.dedup.Dedup.simhashDuplicates]] /
    * binary-ANN XOR+popcount shape) verified with the exact popcount.
    * Candidates come from an equi-join on (chunk index, chunk value);
    * nothing is all-pairs.
    *
    * @param maxBucketSize when > 0, chunk buckets with more members are
    *        dropped from candidate generation (the
    *        [[graft.dedup.Dedup.dropHotChunks]] device). Image corpora
    *        have degenerate perceptual populations — solid-color
    *        thumbnails dHash every chunk to the same value — and one such
    *        value makes that bucket quadratic. The exact-dup collapse
    *        upstream already removed BYTE-identical images, so the pairs
    *        the cap can lose are large clusters of perceptually-identical
    *        but byte-distinct images; precision is untouched (the exact
    *        popcount verify still runs). 0 = no cap.
    */
  def dHashNearDups(
      media: DataFrame,
      maxDist: Int = 3,
      maxBucketSize: Int = 0): MediaNearDups = {
    require(maxDist <= 3, "4-chunk pigeonhole is exhaustive only for maxDist <= 3")
    val groups = media
      .select(col("media_id"), sha2(col("content"), 256).as("_ph"))
      .groupBy(col("_ph"))
      .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val clusters = CheckpointPolicy.pin(groups.select(col("keep_id"), col("n_copies")))
    val reps = media.join(
      clusters.select(col("keep_id").as("media_id")), Seq("media_id"), "left_semi")
    val hashed = CheckpointPolicy.pin(dHashes(reps).toDF())
    val allChunks = hashed.select(
      col("media_id").as("id"), col("dhash"),
      explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c as c, shiftright(dhash, c * 16) & 65535 as v))")).as("ck"))
    val chunks =
      graft.dedup.Dedup.dropHotChunks(allChunks, col("ck"), maxBucketSize)
    val pairs = chunks.as("x")
      .join(chunks.as("y"),
        col("x.ck") === col("y.ck") && col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    MediaNearDups(pairs, clusters)
  }

  final case class FrameStats(
      media_id: Long, frame_idx: Int, n_bytes: Int, mean_raw: Double)

  /** Frame sampling: chop each payload into fixed-size frames and emit
    * per-frame statistics — the one-to-many decode shape of video frame
    * extraction / audio windowing, as a partition-batched `flatMap` (one
    * decoder pass per partition, output rows ≈ bytes/frameSize per
    * item, payloads pruned after the map). The mean is the exact
    * integer byte sum over the exact frame length — one IEEE division —
    * rounded to 6 in the plan, so a SQL oracle replays it.
    */
  def frameStats(media: DataFrame, frameSize: Int): DataFrame = {
    require(frameSize >= 1, s"frameSize must be >= 1, got $frameSize")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "content", "format", "width", "height")
      .as[MediaItem]
      .mapPartitions { it =>
        it.flatMap { m =>
          m.content.grouped(frameSize).zipWithIndex.map { case (fr, i) =>
            val sum = fr.foldLeft(0L)((a, b) => a + (b & 0xff))
            FrameStats(m.media_id, i, fr.length, sum.toDouble / fr.length)
          }
        }
      }
      .toDF()
      .select(col("media_id"), col("frame_idx"), col("n_bytes"),
        round(col("mean_raw"), 6).as("mean_byte"))
  }
}
