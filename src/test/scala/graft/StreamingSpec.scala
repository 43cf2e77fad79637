package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

class StreamingSpec extends SparkSpec {

  private val H = 3600L * 1000 * 1000 * 1000 // hour in ns
  private def ev(id: Long, tNs: Long, user: Long, v: Double = 1.0) =
    Event(id, tNs, user, "click", v)

  test("windowedCounts over a MemoryStream matches hand-computed windows") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStream.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      stream.addData(ev(1, 10L * H, 7), ev(2, 10L * H + 1000, 7), ev(3, 11L * H, 7), ev(4, 10L * H, 8))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(col("user_id"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(rows === Seq((7L, 1L), (7L, 2L), (8L, 1L)))
    } finally q.stop()
  }

  test("GraphStream degree sketch: edge stream with redelivery equals the batch face") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = graft.streaming.GraphStream.neighborSketchStream(
        stream.toDF().toDF("src", "dst"), p = 4)
      .writeStream.format("memory").queryName("degsketch")
      .outputMode("update").start()
    // vertex 1: 40 distinct neighbours split across batches with overlap
    // and an intra-batch multi-edge; vertex 2: 3 neighbours, redelivered
    // wholesale in batch 2 (the appendEdgesStream at-least-once shape)
    val b1 = (0L until 25L).map(d => (1L, d)) ++
      Seq((1L, 5L), (2L, 100L), (2L, 101L), (2L, 102L))
    val b2 = (20L until 40L).map(d => (1L, d)) ++
      Seq((2L, 100L), (2L, 101L), (2L, 102L))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
      // latest emission per vertex (update mode re-emits refreshed rows)
      val latest = spark.table("degsketch")
        .groupBy(col("id"))
        .agg(min(struct(col("n_zero"), col("s_sum"), col("est_raw"))).as("m"))
        .select(col("id").cast("long").as("id"), col("m.n_zero"),
          col("m.s_sum"), col("m.est_raw"))
      val batch = graft.streaming.GraphStream.neighborSketch(
        (b1 ++ b2).toDF("src", "dst"), p = 4)
        .select(col("id"), col("n_zero"), col("s_sum"), col("est_raw"))
      // register merge is an idempotent max: split + multi-edge +
      // redelivery all land on the batch estimate bit for bit
      assert(rowSet(latest) === rowSet(batch))
    } finally q.stop()
  }

  test("trendingCounts: sliding windows on a MemoryStream, 2 windows per event") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStream.trendingCounts(stream.toDF())
      .writeStream.format("memory").queryName("trend").outputMode("complete").start()
    try {
      stream.addData(
        Event(1, 10L * H + H / 2, 7, "a", 1.0),
        Event(2, 10L * H + H / 2, 8, "a", 1.0),
        Event(3, 10L * H + H / 2, 7, "b", 1.0),
        Event(4, 13L * H + H / 2, 7, "a", 1.0))
      q.processAllAvailable()
      val got = spark.table("trend")
        .select((unix_micros(col("window_start")) / (3600L * 1000000L))
          .cast("long").as("h"), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      // 10.5h events -> windows starting 6h and 9h; 13.5h -> 9h and 12h
      assert(got === Map(
        (6L, "a") -> 2L, (6L, "b") -> 1L,
        (9L, "a") -> 3L, (9L, "b") -> 1L,
        (12L, "a") -> 1L))
    } finally q.stop()
  }

  test("streaming sessionize emits a session once the gap passes, keeps state across batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gap = 30L * 60 * 1000 * 1000 * 1000
    val stream = MemoryStream[Event]
    val q = EventStream.sessionize(stream.toDS(), gap)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // batch 1: two close events -> one open session, nothing emitted
      stream.addData(ev(1, 1000, 7, 2.0), ev(2, 2000, 7, 3.0))
      q.processAllAvailable()
      assert(spark.table("sess").isEmpty)
      // batch 2: an event after the gap closes the first session
      stream.addData(ev(3, 2000 + gap + 1, 7, 5.0))
      q.processAllAvailable()
      val sessions = spark.table("sess").as[EventStream.Session].collect()
      assert(sessions.toSeq === Seq(EventStream.Session(7L, 1000L, 2000L, 2L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs same-user events inside the horizon") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = 1000L * 1000 * 1000 // second in ns
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val q = EventStream.correlateStreams(clicks.toDF(), buys.toDF(),
        withinSeconds = 3600)
      .writeStream.format("memory").queryName("corr").outputMode("append").start()
    try {
      clicks.addData(ev(1, 10L * H, 7), ev(2, 10L * H, 8))
      buys.addData(
        ev(100, 10L * H + 600 * S, 7), // 10 min after click 1 -> match
        ev(101, 13L * H, 7),           // 3 h later -> outside horizon
        ev(102, 10L * H + 60 * S, 9))  // no same-user click
      q.processAllAvailable()
      val rows = spark.table("corr")
        .select(col("user_id"), col("l_id"), col("r_id"), col("lag_seconds"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      assert(rows === Seq((7L, 1L, 100L, 600L)))
    } finally q.stop()
  }

  test("streaming dedup drops an event_id replayed in a later batch") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStream.dedupStream(stream.toDF(), horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      stream.addData(ev(1, 10L * H, 7), ev(2, 10L * H + 1000, 7), ev(1, 10L * H, 7))
      q.processAllAvailable()
      // replay of id 1 in a later batch, still inside the horizon
      stream.addData(ev(1, 10L * H + 2000, 7), ev(3, 10L * H + 3000, 8))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("doc-pipeline stages (quality gate + chunking) run on a live stream") {
    // the training-data prep stages are stateless per-row transforms, so
    // the SAME Column expressions drive readStream inputs unchanged —
    // prove it on a MemoryStream and check against the batch result
    import spark.implicits._
    import graft.text.TextFunctions._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val t = tokens(col("text"))
      df.filter(qualityScore(col("text")) >= 0.1 && langId(col("text")) =!= "und")
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0L), expr("(size(t0) + 3) div 4") - 1L),
          i => slice(col("t0"), (i * 4 + 1L).cast("int"), lit(4))))
          .as(Seq("chunk_idx", "c")),
          col("t0"))
        .select(col("doc_id"), col("chunk_idx"),
          sha2(array_join(col("c"), " "), 256).as("sha"))
    }
    def withToks(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("t0", tokens(col("text")))
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "..."),                       // punctuation wall: gated out
      (3L, "zzz qqq vvv www"))           // no language markers: gated out
    val stream = MemoryStream[(Long, String)]
    val q = pipeline(withToks(stream.toDF().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("docstream").start()
    try {
      stream.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("docstream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val batch = pipeline(withToks(docs.toDF("doc_id", "text"))).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(streamed === batch)
      assert(streamed.map(_._1) === Set(1L), "gates must drop docs 2 and 3")
      assert(streamed.size === 3, "11 tokens -> three 4-token chunks")
    } finally q.stop()
  }

  test("streaming near-dup against a static corpus index flags dup/near-dup, passes fresh docs") {
    import spark.implicits._
    import graft.streaming.DocStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen"
    val idx = DocStream.indexCorpus(
      Seq((100L, base), (101L, other)).toDF("doc_id", "text"), "doc_id", "text")

    val stream = MemoryStream[(Long, Long, String)]
    val hits = DocStream.nearDupAgainstCorpus(
      stream.toDF().toDF("doc_id", "ts_ns", "text")
        .withColumn("ts", timestamp_micros((col("ts_ns") / 1000).cast("long"))),
      idx, "doc_id", "text", tsCol = Some("ts"), threshold = 0.4)
    val q = hits.writeStream.format("memory").queryName("neardup").start()
    try {
      // batch 1: an exact copy of a corpus doc + a fresh doc
      stream.addData((1L, 1000L * H, base), (2L, 1000L * H, "unrelated words entirely distinct content here today"))
      q.processAllAvailable()
      // batch 2: a near-duplicate (one token edited)
      stream.addData((3L, 1001L * H, base.replace("sigma", "zigma")))
      q.processAllAvailable()
      val rows = spark.table("neardup")
        .select("doc_id", "corpus_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byDoc = rows.groupBy(_._1)
      assert(byDoc(1L).toSeq === Seq((1L, 100L, 1.0)), "exact copy flags J=1 vs its corpus twin")
      assert(!byDoc.contains(2L), "fresh doc passes clean")
      val near = byDoc(3L).toSeq
      assert(near.map(n => (n._1, n._2)) === Seq((3L, 100L)))
      assert(near.head._3 > 0.4 && near.head._3 < 1.0)
      // batch result through the SAME function equals the streamed result
      val batchRows = DocStream.nearDupAgainstCorpus(
        Seq((1L, base), (2L, "unrelated words entirely distinct content here today"),
          (3L, base.replace("sigma", "zigma"))).toDF("doc_id", "text"),
        idx, "doc_id", "text", threshold = 0.4)
        .select("doc_id", "corpus_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.toSet === batchRows)
    } finally q.stop()
  }

  test("HTML crawl stream: extractMainText composes ahead of the ingest near-dup probe") {
    // the end-to-end crawl ingest story (r16): raw pages arrive on the
    // stream, the codegen'd markup strip + boilerplate filter runs as a
    // plain column map INSIDE the streaming plan, and the near-dup probe
    // sees extracted prose — so two pages wrapping the SAME article in
    // DIFFERENT site chrome flag as exact duplicates (J = 1.0), which
    // raw-HTML shingles would never say
    import spark.implicits._
    import graft.streaming.DocStream
    import graft.text.Html
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prose = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen"
    def page(site: String, body: String): String =
      s"<html><head><title>$site</title><script>track('$site')</script></head>" +
        s"<body><nav><a href='/'>$site home</a> <a href='/a'>$site about</a></nav>" +
        s"<p>$body</p><footer><a href='/tos'>$site terms</a></footer></body></html>"
    // corpus pages indexed AFTER extraction (site A chrome)
    val corpusPages = Seq((100L, page("siteA", prose)), (101L, page("siteA", other)))
      .toDF("doc_id", "html")
    val idx = DocStream.indexCorpus(
      corpusPages.select(col("doc_id"),
        Html.extractMainText(col("html")).as("text")),
      "doc_id", "text")
    // raw crawl stream: the extraction is a column map on the stream side
    val stream = MemoryStream[(Long, Long, String)]
    val extracted = stream.toDF().toDF("doc_id", "ts_ns", "html")
      .withColumn("ts", timestamp_micros((col("ts_ns") / 1000).cast("long")))
      .select(col("doc_id"), col("ts"),
        Html.extractMainText(col("html")).as("text"))
    val hits = DocStream.nearDupAgainstCorpus(
      extracted, idx, "doc_id", "text", tsCol = Some("ts"), threshold = 0.4)
    val q = hits.writeStream.format("memory").queryName("crawldup").start()
    try {
      stream.addData(
        (1L, 1000L * H, page("siteB", prose)), // same article, different chrome
        (2L, 1000L * H, page("siteB",
          "unrelated words entirely distinct content here today again")))
      q.processAllAvailable()
      val rows = spark.table("crawldup")
        .select("doc_id", "corpus_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq((1L, 100L, 1.0)),
        "chrome-swapped copy must flag J=1.0 vs its corpus twin; fresh doc passes")
      // control: WITHOUT extraction the same pair is not an exact dup —
      // the chrome pollutes the raw-HTML shingles
      val rawJ = graft.dedup.Dedup.ngramJaccardPairs(
        Seq((1L, page("siteA", prose)), (2L, page("siteB", prose)))
          .toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 3, threshold = 0.0)
        .select("jaccard").collect().map(_.getDouble(0))
      assert(rawJ.forall(_ < 1.0),
        "raw pages with different chrome must not read as exact duplicates")
    } finally q.stop()
  }

  test("streaming perceptual media dedup flags edited payloads, passes fresh ones") {
    import spark.implicits._
    import graft.streaming.MediaStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // corpus: one payload with an exact copy (collapses to rep 100) and
    // one unrelated payload
    val a = Array.tabulate[Byte](720)(i => (i % 97).toByte)
    val far = Array.tabulate[Byte](720)(i => ((i * 31) % 255).toByte)
    val corpus = Seq((100L, a), (101L, a.clone()), (102L, far))
      .toDF("media_id", "content")
      .withColumn("format", lit("bin"))
      .withColumn("width", lit(-1)).withColumn("height", lit(-1))
    val idx = MediaStream.indexCorpus(corpus)

    val edited = a.clone(); edited(100) = 7 // near-dup of the rep
    val fresh = Array.tabulate[Byte](720)(i => ((i * 131 + 7) % 251).toByte)
    val stream = MemoryStream[(Long, Long, Array[Byte])]
    val hits = MediaStream.nearDupAgainstCorpus(
      stream.toDF().toDF("media_id", "ts_ns", "content")
        .withColumn("ts", timestamp_micros((col("ts_ns") / 1000).cast("long")))
        .withColumn("format", lit("bin")),
      idx, tsCol = Some("ts"), maxDist = 3)
    val q = hits.writeStream.format("memory").queryName("mediadup").start()
    try {
      stream.addData((1L, 1000L * H, a.clone()), (2L, 1000L * H, fresh))
      q.processAllAvailable()
      stream.addData((3L, 1001L * H, edited))
      q.processAllAvailable()
      val rows = spark.table("mediadup")
        .select("media_id", "corpus_id", "corpus_n_copies", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      // exact copy: hamming 0 against rep 100, carrying BOTH corpus copies
      assert(rows.contains((1L, 100L, 2L, 0)))
      // edited payload: small nonzero hamming against the same rep
      assert(rows.exists(r => r._1 == 3L && r._2 == 100L && r._4 <= 3))
      // fresh payload passes clean
      assert(!rows.exists(_._1 == 2L))
      // the SAME function on a batch frame gives the streamed rows
      val batchRows = MediaStream.nearDupAgainstCorpus(
        Seq((1L, a.clone()), (2L, fresh), (3L, edited))
          .toDF("media_id", "content").withColumn("format", lit("bin")),
        idx, maxDist = 3)
        .select("media_id", "corpus_id", "corpus_n_copies", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      assert(rows === batchRows)
    } finally q.stop()
  }

  test("DedupIndex.mergeStream folds micro-batches into the tables; redelivery is a no-op") {
    import spark.implicits._
    import graft.dedup.DedupIndex
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val base = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      5L -> "completely different text about spark catalyst optimizer plans")
    DedupIndex.writeBucketed(
      DedupIndex.build(base, "doc_id", "text"), "msidx", numBuckets = 4)
    val b1 = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again", // undercuts rep 1
      10L -> "a brand new page that was never indexed before today okay")
    val b2 = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again", // REDELIVERED
      12L -> "the quick brown fox jumps over the lazy cat again and again",
      12L -> "the quick brown fox jumps over the lazy cat again and again") // intra-batch dup
    val stream = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("msidx_ckpt").toString
    val q = DedupIndex.mergeStream(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
        "msidx")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = DedupIndex.readBucketed(spark, "msidx")
    // the rebuild reference holds each DELIVERED id exactly once: the
    // cross-batch redelivery (0) and the intra-batch duplicate (12)
    // must both fold once
    val whole = DedupIndex.build(
      base.unionByName(docs(b1: _*)).unionByName(docs(b2.tail.distinct: _*)),
      "doc_id", "text")
    assert(rowSet(got.clusters) === rowSet(whole.clusters),
      "stream-merge ≡ whole rebuild (redelivered + duplicated ids folded exactly once)")
    assert(rowSet(got.shingles) === rowSet(whole.shingles))
    assert(rowSet(got.buckets) === rowSet(whole.buckets))
    assert(rowSet(got.pairs(0.4)) === rowSet(whole.pairs(0.4)))
    assert(rowSet(got.pairs(0.4)).nonEmpty)
  }

  test("mergeStream bucket-health hook: a boilerplate flood trips the metric; clean ingest reads clean") {
    import spark.implicits._
    import graft.dedup.DedupIndex
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS bhidx_$t"))
    val base = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "completely different text about spark catalyst optimizer plans")
    DedupIndex.writeBucketed(
      DedupIndex.build(base, "doc_id", "text"), "bhidx", numBuckets = 4)
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      val stream = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("bhidx_ckpt").toString
      val q = DedupIndex.mergeStream(
          stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
          "bhidx",
          bucketCheckEvery = 1,
          bucketListener = Some(r => seen.synchronized { seen += r }),
          statsBucketCap = 4)
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // clean batch: distinct vocabularies — the cap never bites
        stream.addData((10L to 14L).map(i =>
          i -> (1 to 12).map(j => s"v${i}_$j").mkString(" ")))
        q.processAllAvailable()
        assert(seen.synchronized(seen.nonEmpty))
        assert(seen.synchronized(seen.last).getAs[Double]("capped_row_fraction") === 0.0)
        // boilerplate flood: 25 near-identical docs — the same cadence
        // pass now reports hot buckets and discarded candidate mass
        val prefix = (1 to 60).map(i => s"tok$i").mkString(" ")
        stream.addData((100L to 124L).map(i => i -> s"$prefix suffix$i"))
        q.processAllAvailable()
        val last = seen.synchronized(seen.last)
        assert(last.getAs[Long]("hot_bucket_count") >= 8L,
          "the flood must trip the hot-bucket metric on the ingest cadence")
        assert(last.getAs[Double]("capped_row_fraction") > 0.3)
      } finally q.stop()
    } finally dropAll()
  }

  test("DedupIndex.deleteStream: CDC deletes erase per micro-batch; redelivery removes nothing") {
    import spark.implicits._
    import graft.dedup.DedupIndex
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docs(
      1L -> tA, 2L -> tA, 3L -> tA,
      5L -> "completely different text about spark catalyst optimizer plans",
      9L -> "a brand new page that was never indexed before today okay")
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS dsidx_$t"))
    dropAll()
    val ckpt = java.nio.file.Files.createTempDirectory("dsidx_ckpt").toString
    try {
      DedupIndex.writeBucketed(
        DedupIndex.build(corpus, "doc_id", "text"), "dsidx", numBuckets = 4)
      DedupIndex.buildNearClusters(spark, "dsidx", threshold = 0.4)
      val stream = MemoryStream[Long]
      val q = DedupIndex.deleteStream(
          stream.toDF().toDF("doc_id"), "doc_id", "dsidx")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        stream.addData(1L, 5L)       // rep removal (rekey 1->2) + group empties
        q.processAllAvailable()
        stream.addData(1L, 5L, 3L)   // redelivered + one more copy
        q.processAllAvailable()
      } finally q.stop()
      val got = DedupIndex.readBucketed(spark, "dsidx")
      val rebuilt = DedupIndex.build(
        docs(2L -> tA, 9L -> "a brand new page that was never indexed before today okay"),
        "doc_id", "text")
      assert(rowSet(got.clusters) === rowSet(rebuilt.clusters),
        "stream-delete ≡ rebuild-without (redelivery erased exactly once)")
      assert(rowSet(got.shingles) === rowSet(rebuilt.shingles))
      assert(rowSet(got.buckets) === rowSet(rebuilt.buckets))
      assert(rowSet(DedupIndex.readNearClusters(spark, "dsidx")) ===
        rowSet(got.nearClusters(0.4)),
        "maintained cluster table repaired through the stream")
    } finally dropAll()
  }

  test("AnnIndex.deleteStream: CDC vector erases apply per micro-batch; redelivery is a no-op") {
    import spark.implicits._
    import graft.similarity.AnnIndex
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val items = (0L until 60L).map(i =>
      (i, Seq.fill(8)((rnd.nextGaussian()).toFloat))).toDF("vec_id", "embedding")
    Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS annds_$t"))
    val ckpt = java.nio.file.Files.createTempDirectory("annds_ckpt").toString
    try {
      val idx = AnnIndex.build(items, "vec_id", "embedding", k = 4,
        maxIterations = 3, fitSampleSize = 30)
      AnnIndex.writePartitioned(idx, "annds")
      val stream = MemoryStream[Long]
      val q = AnnIndex.deleteStream(
          stream.toDF().toDF("vec_id"), "vec_id", "annds")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        stream.addData(3L, 7L)
        q.processAllAvailable()
        stream.addData(3L, 11L) // 3 redelivered
        q.processAllAvailable()
      } finally q.stop()
      val got = AnnIndex.readPartitioned(spark, "annds")
      assert(rowSet(got.cells) ===
        rowSet(idx.cells.filter(!col("id").isin(3L, 7L, 11L))),
        "stream-delete ≡ rebuild-without on the stored cells")
      assert(rowSet(got.centroids) === rowSet(idx.centroids),
        "the quantizer stays frozen through stream deletes")
    } finally Seq("centroids", "cells").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS annds_$t"))
  }

  test("media index hot-chunk cap bounds per-item candidates; real hits survive") {
    import spark.implicits._
    import graft.streaming.MediaStream
    // corpus holds 8 byte-distinct solid payloads (all dHash 0 — one
    // degenerate (c, 0) bucket per chunk index) plus one structured
    // payload; the cap keeps the structured chunks and drops the solid
    // ones, so a probe can meet at most 4 * cap corpus candidates.
    val solids = (10L to 17L).map(i =>
      (i, Array.fill[Byte](700 + 4 * i.toInt)((i % 7).toByte)))
    val a = Array.tabulate[Byte](720)(i => (i % 97).toByte)
    val corpus = (solids ++ Seq((1L, a)))
      .toDF("media_id", "content")
      .withColumn("format", lit("bin"))
      .withColumn("width", lit(-1)).withColumn("height", lit(-1))
    val idx = MediaStream.indexCorpus(corpus, maxBucketSize = 5)
    // the materialized chunk table dropped the 4 hot (c, 0) buckets: only
    // the structured payload's 4 chunks remain
    assert(idx.chunks.count() === 4L)
    val edited = a.clone(); edited(100) = 7
    val solidProbe = Array.fill[Byte](640)(3.toByte)
    val got = MediaStream.nearDupAgainstCorpus(
      Seq((100L, edited), (101L, solidProbe))
        .toDF("media_id", "content").withColumn("format", lit("bin")),
      idx, maxDist = 3)
      .select("media_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the real near-dup still hits; the degenerate probe meets nothing
    // (the documented recall trade — sha256 exact probing is the first
    // line for identical payloads)
    assert(got === Set((100L, 1L)))
  }

  test("dedup-first streaming near-dup probes once per distinct text; windowed copy counts") {
    import spark.implicits._
    import graft.streaming.DocStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen"
    val near = base.replace("sigma", "zigma")
    val fresh = "unrelated words entirely distinct content here today"

    // duplicate-heavy corpus: the index must collapse the 3 exact copies
    // of `base` to their min-id representative before bucketing
    val idx = DocStream.indexCorpusDeduped(
      Seq((100L, base), (101L, base), (102L, base), (103L, other))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(idx.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((100L, 3L), (103L, 1L)), "clusters keep min id + copy count")
    assert(idx.index.buckets.select("corpus_id").distinct()
      .collect().map(_.getLong(0)).toSet === Set(100L, 103L),
      "only representatives are bucketed")

    val stream = MemoryStream[(Long, Long, String)]
    val r = DocStream.dedupedNearDupAgainstCorpus(
      stream.toDF().toDF("doc_id", "ts_ns", "text")
        .withColumn("ts", timestamp_micros((col("ts_ns") / 1000).cast("long"))),
      idx, "doc_id", "text", tsCol = Some("ts"), threshold = 0.4)
    val qh = r.hits.writeStream.format("memory").queryName("ddhits").start()
    val qc = r.copyCounts.writeStream.format("memory").queryName("ddcounts").start()
    try {
      // one batch: 3 exact copies of a near-duplicate + 2 copies of a
      // fresh doc — the probe must fire once per DISTINCT text
      stream.addData(
        (1L, 1000L * H, near), (2L, 1000L * H, near), (3L, 1000L * H, near),
        (4L, 1000L * H, fresh), (5L, 1000L * H, fresh))
      qh.processAllAvailable()
      val hits = spark.table("ddhits")
        .select("doc_id", "corpus_id", "corpus_n_copies", "jaccard").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      assert(hits.length === 1, "3 exact copies -> ONE representative probe hit")
      assert(Set(1L, 2L, 3L).contains(hits.head._1), "rep is one of the copies")
      assert(hits.head._2 === 100L && hits.head._3 === 3L,
        "hit lands on the corpus representative, carrying its copy count")
      assert(hits.head._4 > 0.4 && hits.head._4 < 1.0)
      // advance the watermark past the horizon to close the count windows
      stream.addData((9L, 1002L * H, fresh))
      qc.processAllAvailable()
      val counts = spark.table("ddcounts").select("doc_id", "n_copies")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(counts === Set((1L, 3L), (4L, 2L)),
        "closed windows emit min-id + copy count per distinct text")
      // batch path through the SAME function: same rep hits (min-id rep)
      // and the same copy counts
      val b = DocStream.dedupedNearDupAgainstCorpus(
        Seq((1L, near), (2L, near), (3L, near), (4L, fresh), (5L, fresh))
          .toDF("doc_id", "text"),
        idx, "doc_id", "text", threshold = 0.4)
      val bh = b.hits.select("doc_id", "corpus_id", "corpus_n_copies", "jaccard")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      assert(bh.toSeq === Seq((1L, 100L, 3L, hits.head._4)))
      assert(b.copyCounts.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        === Set((1L, 3L), (4L, 2L)))
    } finally { qh.stop(); qc.stop() }
  }

  test("subgraph keeps only surviving-endpoint edges; filterEdges keeps vertices") {
    import org.apache.spark.sql.functions.col
    val g = Fixtures.labelled(spark, directed = true)
    // keep vertices with old ids 0..3: edges 0->1, 1->2, 2->0 survive, 3->4 and 3->5 drop
    val sub = g.subgraph(vertexPredicate = col("old_id") <= 3L)
    assert(sub.vertices.count() === 4)
    assert(sub.edges.count() === 3)
    val fe = g.filterEdges(col("old_src") === 3L)
    assert(fe.vertices.count() === 6)
    assert(fe.edges.count() === 2)
  }

  test("batch sessionizeBatch: golden sessions incl. the trailing open one") {
    import spark.implicits._
    val gap = 100L
    val events = Seq(
      ev(1, 0, 7, 1.0), ev(2, 50, 7, 1.0), // session 1
      ev(3, 200, 7, 1.0), // session 2 (gap 150 > 100)
      ev(4, 0, 8, 1.0)) // user 8, one session
      .toDF()
    val got = EventStream.sessionizeBatch(events, gap)
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((7L, 0L, 50L, 2L), (7L, 200L, 200L, 1L), (8L, 0L, 0L, 1L)))
  }

  test("multimodal: stubbed decode over binary payloads, deterministic features") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "abcd")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes === 4)
    assert(feats(1L).mean_byte === 97.0)
    assert(feats(1L).byte_entropy === 0.0) // single symbol
    assert(feats(2L).byte_entropy === 2.0) // four distinct symbols
    assert(feats(1L).features.sum === 1.0f) // normalized histogram
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(docs))
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(again(2L) === feats(2L).features.toSeq)
  }

  test("multimodal: binaryFile source reads raw files into the media schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-media")
    java.nio.file.Files.write(dir.resolve("a.jpg"), "fake-jpeg-payload".getBytes)
    java.nio.file.Files.write(dir.resolve("b.png"), Array[Byte](0, 1, 2, 3))
    java.nio.file.Files.write(dir.resolve("skip.txt"), "not-media".getBytes)

    val media = Multimodal.mediaFromBinaryFiles(
      spark, dir.toString, glob = Some("*.{jpg,png}"))
    val rows = media.collect()
      .map(r => r.getAs[String]("format") ->
        (new String(r.getAs[Array[Byte]]("content")), r.getAs[Long]("length")))
      .toMap
    assert(rows.keySet === Set("jpg", "png"), "glob must exclude .txt")
    assert(rows("jpg")._1 === "fake-jpeg-payload")
    assert(rows("png")._2 === 4L)

    // the read table feeds the same partition-batched decode path
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 2)
    assert(feats.forall(_.n_bytes > 0))
  }

  test("AnnIndex.appendStream: O(batch) inserts into cell partitions; redelivery a no-op") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.similarity.AnnIndex
    val rnd = new scala.util.Random(77)
    val centers = Array.fill(3)(Array.fill(8)(rnd.nextGaussian().toFloat))
    def near(c: Int): Seq[Float] =
      centers(c).map(x => x + (rnd.nextGaussian() * 0.1).toFloat).toSeq
    val base = (0L until 60L).map(i => (i, near((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    val idx = AnnIndex.build(base, "vec_id", "embedding", k = 3,
      maxIterations = 3, fitSampleSize = 30)
    AnnIndex.writePartitioned(idx, "annidx_stream")
    val v1 = near(0); val v2 = near(1); val v3 = near(2)
    val stream = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("annidx_ckpt").toString
    val q = AnnIndex.appendStream(
        stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        "annidx_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      stream.addData((2001L, v1), (2002L, v2)); q.processAllAvailable()
      stream.addData((2001L, v1), (2003L, v3), (2003L, v3)) // redelivery + intra-batch dup
      q.processAllAvailable()
    } finally q.stop()
    val stored = AnnIndex.readPartitioned(spark, "annidx_stream")
    // stream-append ≡ batch append of the distinct new vectors
    val ref = AnnIndex.append(idx,
      Seq((2001L, v1), (2002L, v2), (2003L, v3)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(rowSet(stored.cells) === rowSet(ref.cells),
      "each delivered id folds exactly once, assigned by the frozen quantizer")
    assert(rowSet(stored.centroids) === rowSet(idx.centroids),
      "the stored quantizer never changes on append")
    // the appended vector is retrievable through the stored probe: a
    // fresh query with 2001's own vector probes 2001's assigned cell
    // first (assignment uses the probe rule), and with k covering the
    // cell, 2001 is among the hits
    val hit = stored.topK(Seq((9999L, v1)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 60, nprobe = 1)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(hit.contains(2001L),
      s"appended vector must be probe-visible in its own cell, got $hit")
  }

  test("appendStream drift hook: drifting ingest trips the rebuild, healthy ingest never does") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.similarity.AnnIndex
    val rnd = new scala.util.Random(177)
    val centers = Array.fill(3)(Array.fill(8)(rnd.nextGaussian().toFloat))
    def near(c: Int): Seq[Float] =
      centers(c).map(x => x + (rnd.nextGaussian() * 0.05).toFloat).toSeq
    val base = (0L until 60L).map(i => (i, near((i % 3).toInt)))
      .toDF("vec_id", "embedding")
    def build(name: String): graft.similarity.AnnIndex.Index = {
      val idx = AnnIndex.build(base, "vec_id", "embedding", k = 3,
        maxIterations = 3, fitSampleSize = 30)
      AnnIndex.writePartitioned(idx, name)
      idx
    }
    def run(name: String, rows: Seq[(Long, Seq[Float])],
        seen: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]): Unit = {
      val stream = MemoryStream[(Long, Seq[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory(s"${name}_ckpt").toString
      val q = AnnIndex.appendStream(
          stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", name,
          driftCheckEvery = 1, driftListener = Some(r => seen.synchronized { seen += r }),
          rebuildOnDrift = true, maxGrowthSkew = 1.5)
        .option("checkpointLocation", ckpt).start()
      try {
        rows.grouped(math.max(1, rows.size / 2)).foreach { g =>
          stream.addData(g: _*); q.processAllAvailable()
        }
      } finally q.stop()
    }
    // HEALTHY: same-distribution ingest — the hook surfaces stats every
    // batch and never rebuilds (the frozen quantizer stays byte-equal)
    val idxH = build("annidx_dh")
    val seenH = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    run("annidx_dh", (1001L until 1031L).map(i => (i, near((i % 3).toInt))), seenH)
    assert(seenH.nonEmpty, "the cadence must surface at least one stats row")
    assert(seenH.forall(_.getAs[Double]("growth_skew") <= 1.5),
      s"uniform ingest must not read as drift: ${seenH.map(_.getAs[Double]("growth_skew"))}")
    assert(rowSet(AnnIndex.readPartitioned(spark, "annidx_dh").centroids)
      === rowSet(idxH.centroids), "healthy ingest must never re-fit the quantizer")
    // DRIFTING: norm-preserving transforms the quantizer never
    // partitioned, 4x the corpus — growth_skew trips, the hook re-fits,
    // and the re-fit scales k by ceil(sqrt(growth))
    build("annidx_dd")
    val seenD = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    // ONE tight blob (norm-preserving transform of a single cluster):
    // it all lands in whichever frozen cell sits nearest, so that
    // cell's growth outruns the overall growth — the skew signature
    val drifting = (0 until 240).map { i =>
      (3000L + i, near(0).reverse.map(x => -x))
    }
    run("annidx_dd", drifting, seenD)
    val kAfter = AnnIndex.readPartitioned(spark, "annidx_dd").centroids.count()
    assert(kAfter > 3, s"drifting ingest must trigger the re-fit (k stayed $kAfter)")
    // the re-fit index still serves: every stored id remains probe-reachable
    val stored = AnnIndex.readPartitioned(spark, "annidx_dd")
    assert(stored.cells.count() === 300L, "re-fit preserves the corpus")
  }

  test("BudgetGate: straddler admitted, budget state survives batches, no-budget stratum rejects") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.BudgetGate
    val stream = MemoryStream[(Long, String, Long)]
    val q = BudgetGate.admitStream(
        stream.toDF().toDF("id", "source", "w"), "id", "w", "source",
        Map("A" -> 100L))
      .writeStream.format("memory").queryName("bg").outputMode("update").start()
    try {
      stream.addData((1L, "A", 60L), (2L, "A", 30L))
      q.processAllAvailable()
      // cum carried across the batch boundary: 3 straddles (90 < 100,
      // weight 20 overshoots), 4 is past the budget, B has none
      stream.addData((3L, "A", 20L), (4L, "A", 5L), (5L, "B", 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("bg").collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) === ((0L, true)))
    assert(got(2L) === ((60L, true)))
    assert(got(3L) === ((90L, true)), "the straddling document is admitted")
    assert(got(4L) === ((110L, false)), "past the budget everything rejects")
    assert(got(5L) === ((0L, false)), "stratum without a budget admits nothing")
  }

  test("BudgetGate ≡ batch tokenBudgetSample when arrival order is the hash order") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.BudgetGate
    import graft.sample.Sampling
    val docs = (1L to 12L).map(i => (i, "S", 5L + i % 7))
    val static = docs.toDF("doc_id", "source", "w")
    val batchKept = Sampling.tokenBudgetSample(
        static, "doc_id", "w", "source", Seq(("S", 40L)).toDF("source", "budget"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap // doc_id -> cum_before
    val hashOrder = static
      .orderBy(Sampling.idHash(col("doc_id")), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val stream = MemoryStream[(Long, String, Long)]
    val q = BudgetGate.admitStream(
        stream.toDF().toDF("id", "source", "w"), "id", "w", "source",
        Map("S" -> 40L))
      .writeStream.format("memory").queryName("bg2").outputMode("update").start()
    try {
      // one document per micro-batch so arrival order IS the hash order
      hashOrder.foreach { d => stream.addData(d); q.processAllAvailable() }
    } finally q.stop()
    val admitted = spark.table("bg2").collect()
      .filter(_.getBoolean(4)).map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(admitted === batchKept,
      "same order, same gate: the stream must admit exactly the batch prefix")
  }
}
