package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Training-data pipeline queries over the `documents` table: dedup
  * (exact, MinHash LSH, SimHash, exact n-gram Jaccard), text analysis
  * (token counts, quality, language ID, fingerprints).
  *
  * Oracle notes: DuckDB replicates tokenization with
  * `string_split(text, ' ')` + list lambdas and shingles with a list
  * comprehension; hash-based operators (MinHash, SimHash, winnowing) have
  * no cross-engine hash and get rows-only checks — their *verification*
  * step (exact Jaccard) is itself oracle-checked via d04.
  */
object DocQueries {
  import Tables._
  import TextFunctions._

  /** Session-scoped memo of the shared MinHash/LSH dedup index
    * ([[graft.dedup.DedupIndex]]) and its derived frames — the
    * write-once-consume-everywhere contract inside one session: d10,
    * d12, d19 and d24 all need the same representative map + signature
    * buckets, and before this memo each rebuilt them from the corpus
    * (d19 paid ~110 of its 123.5 s at 100x re-running the d12
    * composition — VERDICT r8). Keyed by (session identity, sf dir), so
    * a fresh session or a different data dir always rebuilds; frames are
    * pinned, which ties them to the building session.
    */
  private object SharedDedupIndex {
    // WeakHashMap keyed on the SESSION OBJECT: a stopped session's
    // entries (holding pinned frames bound to its context)
    // become unreachable with the session itself — no leak across
    // sequential sessions in one JVM, and no identity-hash reuse ever
    // returning frames of a dead context (code-review r9 finding)
    private val cache =
      new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, AnyRef]]()
    private def memo[T <: AnyRef](s: SparkSession, key: String)(build: => T): T =
      cache.synchronized {
        // plain get-or-build under one lock: the builds themselves run
        // Spark jobs, but queries execute sequentially in Verify/Bench
        val m = cache.computeIfAbsent(s,
          _ => scala.collection.mutable.Map.empty[String, AnyRef])
        m.getOrElseUpdate(key, build).asInstanceOf[T]
      }

    /** full-corpus index at the family's shared parameters (3-shingles,
      * 128 hashes, 32 bands) */
    def index(s: SparkSession, d: String): graft.dedup.DedupIndex.Index =
      memo(s, s"$d|full") {
        graft.dedup.DedupIndex.build(documents(s, d), "doc_id", "text",
          shingleSize = 3, numHashes = 128, bands = 32)
      }

    /** fuzzy-dedup cluster assignment at threshold 0.4 (d12's contract),
      * shared by d12 and d19 */
    def clusters(s: SparkSession, d: String): DataFrame =
      memo(s, s"$d|clusters0.4") {
        CheckpointPolicy.pin(index(s, d).clusterAssign(threshold = 0.4, idColOut = "doc_id"))
      }

    /** corpus-remainder (doc_id % 10 != 0) index for the ingest-probe
      * queries — a different representative set than the full corpus
      * (representatives are minima WITHIN the slice), so it cannot be
      * derived from [[index]] */
    def corpus90(s: SparkSession, d: String): graft.dedup.DedupIndex.Index =
      memo(s, s"$d|corpus90") {
        graft.dedup.DedupIndex.build(
          documents(s, d).filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
          "doc_id", "text", shingleSize = 3, numHashes = 128, bands = 32)
      }

    /** the cluster CLOSURE over [[corpus90]] at threshold 0.4 — d36's
      * maintained-table seed, memoized so bench repeats time the table
      * restore + ADVANCE, not the closure CC that used to drown the
      * mutate signal (VERDICT r12 item 5) */
    def ncl90(s: SparkSession, d: String): DataFrame =
      memo(s, s"$d|ncl90_0.4") {
        CheckpointPolicy.pin(corpus90(s, d).nearClusters(0.4))
      }

    /** the full-corpus closure at 0.4 — d37's seed, same contract */
    def nclFull(s: SparkSession, d: String): DataFrame =
      memo(s, s"$d|nclfull_0.4") {
        CheckpointPolicy.pin(index(s, d).nearClusters(0.4))
      }

    /** the PERSISTED face: the full-corpus index written once per
      * session as bucketed catalog tables, read back for probing */
    def persisted(s: SparkSession, d: String): graft.dedup.DedupIndex.Index =
      memo(s, s"$d|persisted") {
        val name = "graft_dedup_idx_" +
          java.lang.Long.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)
        graft.dedup.DedupIndex.writeBucketed(index(s, d), name)
        graft.dedup.DedupIndex.readBucketed(s, name)
      }
  }

  /** d38's synthetic crawled page, built from the documents row
    * identically in BOTH engines (ONE template, two renderings): Left =
    * literal HTML, Right = a column stringified into the page. The
    * `__paras__` piece splits the text into one <p> per sentence. The
    * chrome is deliberately adversarial: head content that must vanish
    * wholesale, a link-dense nav, an entity-bearing meta line that is
    * long enough to SURVIVE the block filter (so entity decoding is
    * oracle-checked inside main_text, not only full_text), and a
    * pure-link footer. The meta line carries the full r17 decoder
    * surface (VERDICT r16 item 2): decimal and hex numeric refs, named
    * refs beyond the XML five, a cp1252-remapped C1 ref, plus an
    * unknown name and a surrogate ref that must SURVIVE as literals. */
  private val htmlPageTemplate: Seq[Either[String, String]] = Seq(
    Left("<html><head><title>Doc "), Right("doc_id"),
    Left("</title><style>p { color: #222 }</style><script>track(1);" +
      "</script></head><body><nav><a href=\"/\">home</a> " +
      "<a href=\"/sources\">sources</a> <a href=\"/about\">about</a></nav><h1>"),
    Right("source"), Left(" document "), Right("doc_id"),
    Left("</h1><p>"), Right("__paras__"),
    Left("</p><div class=\"meta\">language: "), Right("lang"),
    Left(" &amp; characters: "), Right("n_chars"),
    Left(" &#8212; the curator&#x2019;s caf&eacute; &ldquo;notes&rdquo;" +
      " &#150; keep &wat; and &#xD800; literal</div>" +
      "<footer><a href=\"/tos\">terms of service</a> " +
      "<a href=\"/privacy\">privacy policy</a></footer></body></html>"))

  private def htmlPageCol: org.apache.spark.sql.Column =
    concat(htmlPageTemplate.map {
      case Left(s) => lit(s)
      case Right("__paras__") => regexp_replace(col("text"), "\\. ", ".</p><p>")
      case Right(c) => col(c).cast("string")
    }: _*)

  private def htmlPageSql: String =
    htmlPageTemplate.map {
      case Left(s) => "'" + s.replace("'", "''") + "'"
      case Right("__paras__") => "regexp_replace(text, '\\. ', '.</p><p>', 'g')"
      case Right(c) => s"CAST($c AS VARCHAR)"
    }.mkString(" || ")

  /** d39's synthetic crawl URLs — ONE template rendered by both engines
    * (the [[htmlPageTemplate]] convention), five branches keyed on
    * `doc_id % 5` covering the canonicalization surface: uppercase
    * scheme/host, both default ports, userinfo, fragments, `utm_*` /
    * `gclid` / `fbclid` / `ref` tracking params mixed with genuine
    * ones, a multi-part TLD, and deep subdomains. */
  private val urlBranches: Seq[Seq[Either[String, String]]] = Seq(
    Seq(Left("HTTP://WWW.Example.COM:80/a/"), Right("doc_id"),
      Left("?utm_source=feed&id="), Right("doc_id"), Left("&utm_campaign=x#frag")),
    Seq(Left("https://blog.Example.co.uk:443/posts?ref=tw&q="), Right("source")),
    Seq(Left("https://user:pw@Tracker.ADS.net/pixel?gclid=abc"), Right("doc_id")),
    Seq(Left("http://mirror.data.org/set/"), Right("mod7"), Left("?page=2&fbclid=xyz")),
    Seq(Left("https://"), Right("source"), Left(".news.example.org/articles/"),
      Right("doc_id"), Left("#top")))

  /** d39's blocklist: one multi-part-TLD domain, one plain. */
  private val BlockedDomains = Seq("ads.net", "example.co.uk")

  private def rawUrlCol: org.apache.spark.sql.Column = {
    def piece(p: Either[String, String]) = p match {
      case Left(s) => lit(s)
      case Right("mod7") => pmod(col("doc_id"), lit(7L)).cast("string")
      case Right(c) => col(c).cast("string")
    }
    val m = pmod(col("doc_id"), lit(5L))
    urlBranches.zipWithIndex.foldLeft(lit("")) { case (acc, (ps, i)) =>
      when(m === i.toLong, concat(ps.map(piece): _*)).otherwise(acc)
    }
  }

  private def rawUrlSql: String = {
    def piece(p: Either[String, String]) = p match {
      case Left(s) => "'" + s.replace("'", "''") + "'"
      case Right("mod7") => "CAST(doc_id % 7 AS VARCHAR)"
      case Right(c) => s"CAST($c AS VARCHAR)"
    }
    "CASE doc_id % 5 " + urlBranches.zipWithIndex.map { case (ps, i) =>
      s"WHEN $i THEN " + ps.map(piece).mkString(" || ")
    }.mkString(" ") + " ELSE '' END"
  }

  /** d41's synthetic multi-line page: corpus text re-lined into 8-token
    * lines, bracketed by one boilerplate line top and bottom — ONE
    * definition, two renderings (the [[htmlPageTemplate]] convention). */
  private val BoilerLine = "subscribe to our newsletter for updates"

  private def multilineCol: org.apache.spark.sql.Column = {
    val t = TextFunctions.tokens(col("text"))
    val nChunks = greatest(ceil(size(t).cast("double") / 8.0).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nChunks - lit(1)),
      i => array_join(slice(t, i * lit(8) + lit(1), lit(8)), " "))
    concat_ws("\n", lit(BoilerLine), array_join(lines, "\n"), lit(BoilerLine))
  }

  /** d42's synthetic crawled page: four outlinks per page, one per
    * resolution form — root-relative with an UNQUOTED href, a relative
    * path with a `..` dot segment, an absolute cross-domain hub link,
    * and a protocol-relative mirror link (adopts the page's scheme, so
    * http and https pages mint DIFFERENT mirror vertices) — ONE
    * definition, two renderings (the [[htmlPageTemplate]] convention).
    * The page's own URL is the d39 template ([[urlBranches]]), so
    * resolution runs against uppercase hosts, default ports, userinfo
    * and tracking params, and [[graft.text.Urls.canonicalizeUrl]] has
    * real cleanup to do on BOTH endpoints of every edge. */
  private val crawlPageTemplate: Seq[Either[String, String]] = Seq(
    Left("<html><body><nav><a href=/>home</a> <a href='../tags/"),
    Right("mod7"),
    Left("'>tag</a></nav><p>see <a href=\"https://hub.example.com/h/"),
    Right("mod11"),
    Left("\">hub</a> and <a href=\"//mirror.data.org/set/"), Right("mod7"),
    Left("\">mirror</a> for "), Right("source"), Left("</p></body></html>"))

  private def crawlPageCol: org.apache.spark.sql.Column =
    concat(crawlPageTemplate.map {
      case Left(str) => lit(str)
      case Right("mod7") => pmod(col("doc_id"), lit(7L)).cast("string")
      case Right("mod11") => pmod(col("doc_id"), lit(11L)).cast("string")
      case Right(c) => col(c).cast("string")
    }: _*)

  private def crawlPageSql: String =
    crawlPageTemplate.map {
      case Left(str) => "'" + str.replace("'", "''") + "'"
      case Right("mod7") => "CAST(doc_id % 7 AS VARCHAR)"
      case Right("mod11") => "CAST(doc_id % 11 AS VARCHAR)"
      case Right(c) => s"CAST($c AS VARCHAR)"
    }.mkString(" || ")

  private def multilineSql: String =
    // coalesce: DuckDB array_to_string([]) is NULL (empty docs)
    s"""'$BoilerLine' || chr(10) ||
       |coalesce(array_to_string(
       |  [coalesce(array_to_string(($toksSql)[i*8+1:i*8+8], ' '), '')
       |   FOR i IN range(0, greatest(CAST(ceil(len($toksSql)/8.0) AS INT), 1))],
       |  chr(10)), '') ||
       |chr(10) || '$BoilerLine'""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> ((s, d) =>
      Dedup.exactGroups(documents(s, d), "doc_id", "text")
        .select(col("keep_id"), col("n_copies"))),

    "d02_minhash_dedup" -> ((s, d) =>
      Dedup.minhashDuplicates(documents(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    "d03_simhash_dedup" -> ((s, d) =>
      // portable sha256-prefix signatures: DuckDB replays the full
      // simhash (per-token 64-bit votes) and the <=3-bit Hamming verify,
      // so this is oracle-checked end to end; the xxhash64 signature
      // path stays spec-covered in TextDedupSpec
      Dedup.simhashDuplicates(documents(s, d), "doc_id", "text",
        maxDist = 3, portableHash = true)),

    "d04_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text",
        shingleSize = 3, threshold = 0.4)),

    "t01_text_stats" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        subwordCountEstimate(col("text")).as("n_subwords"),
        punctCount(col("text")).as("n_punct"),
        stopwordCount(col("text"), DefaultStopwords).as("n_stopwords"))),

    "t02_quality" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        qualityScore(col("text")).as("quality"))),

    "t03_langid" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        langScore(col("text"), "en").as("s_en"),
        langScore(col("text"), "de").as("s_de"),
        langScore(col("text"), "es").as("s_es"),
        langScore(col("text"), "fr").as("s_fr"),
        langId(col("text")).as("predicted"))),

    "t04_fingerprint" -> ((s, d) =>
      documents(s, d).select(
        col("doc_id"),
        fingerprint(col("text")).as("sha256"))),

    "d05_stratified_sample" -> ((s, d) => {
      // deterministic stratified sampling: k docs per language stratum,
      // ranked by a Knuth multiplicative hash of the id — reproducible
      // across engines, retries and partitionings (no RNG state). The
      // training-pipeline "held-out sample per source" primitive.
      //
      // TWO-PHASE exact top-k so no stratum ever becomes one reducer:
      // each of 256 hash-shards keeps its local top-10 (the corpus-sized
      // window, sharded within the stratum), then the final window ranks
      // the <=2560 survivors per stratum. A shard's local top-10 is a
      // superset of the stratum top-10 members that hash to it, so the
      // output is IDENTICAL to the single global window the oracle runs.
      import org.apache.spark.sql.expressions.Window
      // hash input is id mod 2^31 so the multiply stays < 5.7e18: the
      // raw product overflows i64 (ANSI throws; 10x-scale run caught it)
      // once ids exceed ~3.4e9 — which real corpus ids do. pmod (not %)
      // so negative ids hash identically here, in d06, and in both
      // oracles (DuckDB's % is sign-preserving; the oracles add +2^31
      // before the inner mod to match)
      val h = pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L))
      val base = documents(s, d)
        .select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("_shard", expr("h div 16777216"))
      val wShard = Window.partitionBy(col("lang"), col("_shard"))
        .orderBy(col("h"), col("doc_id"))
      val wFinal = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      base
        .withColumn("_srnk", row_number().over(wShard))
        .filter(col("_srnk") <= 10)
        .withColumn("rnk", row_number().over(wFinal))
        .filter(col("rnk") <= 10)
        .select(col("doc_id"), col("lang"), col("rnk"))
    }),

    "d06_token_pack" -> ((s, d) => {
      // approximate sequence packing: assign docs to fixed token-budget
      // bins by running token count. TWO-LEVEL, so no language ever
      // becomes one reducer: docs hash into 256 shards per language, the
      // running sum runs per (lang, shard) — 256-way parallel even for a
      // language that is 90% of the corpus — and a tiny second pass
      // (<=256 rows per lang) offsets each shard by the exclusive prefix
      // sum of per-shard token totals. Equivalent to ONE running sum in
      // (shard, doc_id) order, which is what the oracle checks. The
      // shard hash is the same Knuth multiplicative hash as d05 (top
      // byte of the 32-bit value), reproducible in any engine.
      import org.apache.spark.sql.expressions.Window
      val base = documents(s, d)
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("_shard",
          // id mod 2^31 first — the raw multiply overflows i64 at scale;
          // pmod to share d05's convention for negative ids
          expr("pmod(pmod(doc_id, 2147483648L) * 2654435761L, 4294967296L)" +
            " div 16777216"))
      val wIn = Window.partitionBy(col("lang"), col("_shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val inShard = base
        .withColumn("_cum", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      val wOff = Window.partitionBy(col("lang")).orderBy(col("_shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("lang"), col("_shard"))
        .agg(sum(col("n_tokens")).as("_tot"))
        .withColumn("_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
        .select(col("lang"), col("_shard"), col("_off"))
      inShard.join(broadcast(offsets), Seq("lang", "_shard"))
        .withColumn("bin", expr("(_off + _cum) div 2000"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
    }),

    "d07_chunk" -> ((s, d) => {
      // context-window chunking: split each document into fixed
      // 64-token chunks (the training-sequence preparation step). Pure
      // per-row transform + posexplode — no shuffle; chunk text is
      // fingerprinted so the cross-engine compare covers content exactly
      val CH = 64
      val t = tokens(col("text"))
      val nChunks = expr(s"(size(t0) + ${CH - 1}) div $CH")
      documents(s, d)
        .select(col("doc_id"), t.as("t0"))
        .filter(size(col("t0")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), nChunks - 1L),
            i => slice(col("t0"), (i * CH + 1L).cast("int"), lit(CH)))))
        .select(
          col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"),
          sha2(array_join(col("col"), " "), 256).as("sha256"))
    }),

    "d26_overlap_chunks" -> ((s, d) => {
      // sliding-window chunking: 64-token windows at stride 32 — the
      // training-sequence prep that keeps context across chunk
      // boundaries (each boundary token appears in two windows), vs
      // d07's disjoint split. Same zero-shuffle per-row transform +
      // posexplode; chunk count = max(1, ceil((n-64)/32)+1), content
      // fingerprinted so the compare covers the tokens exactly.
      val CH = 64
      val ST = 32
      val nChunks = expr(s"(greatest(size(t0) - $CH, 0) + ${ST - 1}) div $ST + 1")
      documents(s, d).select(col("doc_id"), tokens(col("text")).as("t0"))
        .filter(size(col("t0")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), nChunks - 1L),
            i => slice(col("t0"), (i * ST + 1L).cast("int"), lit(CH)))))
        .select(
          col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"),
          sha2(array_join(col("col"), " "), 256).as("sha256"))
    }),

    "d08_pipeline" -> ((s, d) => {
      // END-TO-END training-data prep — the composition a real corpus
      // pipeline runs, oracle-verified as a whole: exact-dedup (keep the
      // min-id copy), quality >= 0.5 and determined-language gates, then
      // 64-token context-window chunking with content fingerprints. Each
      // stage is individually oracle'd (d01/t02/t03/d07); this query
      // checks they COMPOSE without cross-engine drift (the quality
      // filter compares bit-identical doubles).
      val docs0 = documents(s, d)
      val kept = Dedup.exactGroups(docs0, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val gated = docs0.join(kept, Seq("doc_id"))
        .filter(qualityScore(col("text")) >= 0.5 &&
          langId(col("text")) =!= lit("und"))
      val CH = 64
      val nChunks = expr(s"(size(t0) + ${CH - 1}) div $CH")
      gated.select(col("doc_id"), tokens(col("text")).as("t0"))
        .filter(size(col("t0")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0L), nChunks - 1L),
            i => slice(col("t0"), (i * CH + 1L).cast("int"), lit(CH)))))
        .select(
          col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).as("n_tokens"),
          sha2(array_join(col("col"), " "), 256).as("sha256"))
    }),

    "d09_dedup_then_neardup" -> ((s, d) =>
      // the production near-dup composition, via the library API
      // Dedup.dedupedNearDuplicates: exact-dedup FIRST, MinHash LSH on
      // the surviving representatives only. On a duplicate-heavy corpus
      // this is the difference between pair counts growing with the
      // square of the copy count and not growing at all (the 10x
      // exercise measures d02 48 s vs this path ~9 s on 90% duplicates);
      // on a duplicate-free corpus it degenerates to d02 exactly.
      Dedup.dedupedNearDuplicates(documents(s, d), "doc_id", "text",
        shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.4)
        .pairs
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))),

    "d10_stream_neardup" -> ((s, d) => {
      // batch twin of the STREAMING ingestion-dedup path (DocStream),
      // dedup-first: "new" documents (the doc_id % 10 == 0 slice) are
      // collapsed to exact-duplicate representatives, checked against
      // the LSH index of the corpus-remainder REPRESENTATIVES, and each
      // representative hit carries the copy counts that expand it back
      // — the same composition as d09/e08, through EXACTLY the code a
      // stream runs (dedupedNearDupAgainstCorpus is stream/batch
      // agnostic; StreamingSpec drives it live on a MemoryStream). On a
      // duplicate-heavy corpus this probes and emits once per DISTINCT
      // text instead of once per copy-pair (100x: 470k raw hit rows
      // collapse to the distinct cross-slice pairs only).
      // Oracle equality holds by the d02 recall argument: every true
      // cross-slice pair on this corpus has J >= 0.9, missed with
      // probability (1 - 0.9^4)^32 ~= 1.4e-15 at 32 bands of 4.
      // index side now comes from the shared DedupIndex build (memoized
      // per session) through the DocStream adapter — same frames as the
      // old indexCorpusDeduped, built once for all probe consumers
      val docs0 = documents(s, d)
      val idx = graft.streaming.DocStream.fromDedupIndex(
        SharedDedupIndex.corpus90(s, d))
      val r = graft.streaming.DocStream.dedupedNearDupAgainstCorpus(
        docs0.filter(pmod(col("doc_id"), lit(10L)) === 0L), idx,
        "doc_id", "text", threshold = 0.4)
      r.hits.join(r.copyCounts, Seq("doc_id"))
        .select(col("doc_id"), col("n_copies"), col("corpus_id"),
          col("corpus_n_copies"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "d11_decontaminate" -> ((s, d) => {
      // eval-set decontamination: n-gram containment of every training
      // doc against the "benchmark" slice (doc_id % 10 == 0 stands in
      // for an eval set). Containment, not Jaccard — a short leaked
      // eval item inside a long page must still score high.
      val docs0 = documents(s, d)
      Dedup.evalContainment(
        docs0.filter(pmod(col("doc_id"), lit(10L)) =!= 0L), "doc_id", "text",
        docs0.filter(pmod(col("doc_id"), lit(10L)) === 0L), "text",
        shingleSize = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          round(col("containment"), 6).as("containment"))
    }),

    "d12_neardup_clusters" -> ((s, d) =>
      // fuzzy-dedup CLUSTER assignment: exact-dedup -> LSH pairs among
      // representatives -> connected components of the pair graph ->
      // every exact copy inherits its representative's component. Pair
      // output alone under-deletes because near-duplication is not
      // transitive; one survivor per CLUSTER is the production contract.
      // Exercises the dedup and graph halves of the library in one query.
      // Oracle: exact pair twin (d02/d09 recall argument) + a recursive
      // min-label closure replayed in DuckDB.
      // Runs off the shared DedupIndex (built once per session): same
      // composition as Dedup.nearDupClusters, but the signature/bucket
      // build is paid once across d12/d19/d24 instead of per query.
      SharedDedupIndex.clusters(s, d)),

    "d19_best_of_cluster" -> ((s, d) => {
      // quality-aware canonical selection: d12's fuzzy-dedup clusters,
      // but the survivor is the HIGHEST-QUALITY member (t02's score),
      // not the min-id one — the production dedup contract when copies
      // differ (boilerplate-stripped vs raw crawls of the same page).
      // The argmax is a lexicographic struct max (quality DESC, id ASC
      // via negation), so the pick is deterministic and the aggregation
      // stays map-side combinable — one shuffle of (cluster, best-so-
      // far, count) partials regardless of cluster sizes; no window
      // over the corpus. Cross-engine safe because t02's quality is
      // bit-identical IEEE-754 in both engines (no reassociation).
      // the cluster frame is the SAME memoized frame d12 returns — d19's
      // marginal cost over d12 is now just the quality join + argmax
      // (VERDICT r8 #1: it previously re-ran the whole composition,
      // ~110 s of its 123.5 s at 100x)
      val docs = documents(s, d)
      val clusters = SharedDedupIndex.clusters(s, d)
      val q = docs.select(col("doc_id"), qualityScore(col("text")).as("quality"))
      clusters.join(q, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(
          max(struct(col("quality"), (-col("doc_id")).as("_nid"))).as("_best"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"),
          (-col("_best._nid")).as("keep_id"),
          round(col("_best.quality"), 6).as("quality"),
          col("n_members"))
    }),

    "d24_persisted_index" -> ((s, d) => {
      // the write-once-probe-everywhere face end to end: the shared
      // dedup index is persisted as BUCKETED catalog tables (buckets
      // bucketed by (band, bucket), shingles by id — the GraphIO
      // writeBucketed pattern), read back, and pair generation runs
      // over the STORED tables: the probe plan contains no MinHashSig
      // and no shingle recomputation (PlansSpec asserts it), and the
      // candidate self-join reuses the write-time bucketing instead of
      // shuffling. Result contract = d09 exactly (pairs among exact-dup
      // representatives at threshold 0.4), so the oracle is the same
      // exact twin.
      SharedDedupIndex.persisted(s, d)
        .pairs(threshold = 0.4)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "d36_incremental_clusters" -> ((s, d) => {
      // the INCREMENTAL near-dup cluster lifecycle under the value gate
      // (VERDICT r11 item 2 — g58's dedup twin): index 90% of the
      // corpus, persist it bucketed, pay the full cluster closure ONCE
      // (buildNearClusters), fold the remaining 10% in through
      // mergeBucketed — which advances the maintained table by LSH
      // pairs for the batch + CC over the batch-sized label-merge graph
      // + a broadcast relabel, never re-running the closure — and read
      // the maintained assignment back. Oracle = the full-corpus
      // recursive min-label closure (d12's), because advance ≡
      // whole-rebuild on cluster ids is the lifecycle's contract
      // (TextDedupSpec pins it batch by batch).
      // The 90% index and its closure are session-memoized (the
      // d10/d12/d19 precedent, VERDICT r12 item 5): bench repeat 1 pays
      // the build like before, repeats 2+ time the table RESTORE +
      // ADVANCE — the steady-state per-batch cost this row exists to
      // track (g58 stays the fully-cold lifecycle gate). Tables are
      // still rewritten fresh each repeat: mergeBucketed mutates them,
      // so reusing a merged table would double-apply the batch.
      import graft.dedup.DedupIndex
      val docs0 = documents(s, d)
      val batch = docs0.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      val name = s"d36ncl_${d.hashCode & 0x7fffffff}"
      // 8 buckets (the g58 sizing): the gate corpus is 5k docs — 32
      // buckets paid file-count overhead in every rewrite, not scan time
      DedupIndex.writeBucketed(SharedDedupIndex.corpus90(s, d), name, numBuckets = 8)
      DedupIndex.writeNearClusters(s, name, SharedDedupIndex.ncl90(s, d), threshold = 0.4)
      DedupIndex.mergeBucketed(s, name, batch, "doc_id", "text")
      DedupIndex.readBucketed(s, name)
        .clusterAssignFrom(DedupIndex.readNearClusters(s, name), "doc_id")
    }),

    "d37_index_delete" -> ((s, d) => {
      // the dedup DELETION face under the value gate — d36's mirror and
      // g59's dedup twin: index the FULL corpus with the maintained
      // cluster table, physically remove the 10% slice (plus ids that
      // never existed — must no-op) through deleteBucketed — staged
      // rewrites, rep promotion on rekey, bounded cluster repair where
      // a vanished text could split a cluster — and read the maintained
      // assignment back. Oracle = the closure over the REMAINING
      // corpus: delete ≡ rebuild-without is the contract
      // (TextDedupSpec pins it frame by frame, split case included).
      // full-corpus index + closure are session-memoized like d36's:
      // repeats time restore + DELETE steady-state, not the rebuild
      import graft.dedup.DedupIndex
      val docs0 = documents(s, d)
      val name = s"d37del_${d.hashCode & 0x7fffffff}"
      DedupIndex.writeBucketed(SharedDedupIndex.index(s, d), name, numBuckets = 8)
      DedupIndex.writeNearClusters(s, name, SharedDedupIndex.nclFull(s, d), threshold = 0.4)
      val del = docs0.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"))
        .unionByName(s.range(1, 4).select((-col("id")).as("doc_id")))
      DedupIndex.deleteBucketed(s, name, del, "doc_id")
      DedupIndex.readBucketed(s, name)
        .clusterAssignFrom(DedupIndex.readNearClusters(s, name), "doc_id")
    }),

    "d38_html_extract" -> ((s, d) => {
      // raw-HTML ingestion (VERDICT r15 item 3): the corpus ships plain
      // text, so each doc is first wrapped into a deterministic crawled
      // page — title/style/script head, link-dense nav, headline,
      // sentence-per-<p> body, entity-bearing meta line, footer chrome —
      // and the page is what the operator sees. Output is BOTH faces:
      // extractMainText (jusText-shaped block filter: nav/footer/meta
      // chrome drops, prose + headline survive) and stripMarkup (tag
      // strip only — boilerplate text kept). Pure codegen'd column maps,
      // no shuffle; the oracle rebuilds the same page and replays every
      // regex pass (graft.text.Html.Sql mirrors).
      // main_text_stopgated adds the r17 stopword-density gate at 0.05
      // — calibrated to the synthetic corpus (median block density
      // ~0.06), so the gate's keep/drop decision varies per document
      // and the oracle checks BOTH outcomes, not a constant
      val html = htmlPageCol
      documents(s, d).select(
        col("doc_id"),
        graft.text.Html.extractMainText(html).as("main_text"),
        graft.text.Html.extractMainText(html, minStopFrac = 0.05)
          .as("main_text_stopgated"),
        size(graft.text.Html.blocks(html)).as("n_blocks"),
        graft.text.Html.stripMarkup(html).as("full_text"))
    }),

    "d41_repetition_filter" -> ((s, d) => {
      // Gopher repetition rules (line+n-gram level, Rae et al. §A1.1)
      // over synthetic MULTI-LINE pages: the corpus text re-lined into
      // 8-token lines and bracketed by a boilerplate line top and
      // bottom (the nav/subscribe chrome shape), so every doc carries
      // real duplicate-line and duplicate-5-gram mass whose fractions
      // vary with doc length. All three passes are the d16
      // explode-and-count machinery — combinable partial aggregates
      // keyed on doc_id, no corpus window; n-gram passes read the
      // line-flattened text.
      import graft.text.Repetition
      val ml = documents(s, d).select(col("doc_id"), multilineCol.as("mtext"))
      val flat = ml.select(col("doc_id"),
        regexp_replace(col("mtext"), "\n", " ").as("ftext"))
      val ls = Repetition.lineStats(ml, "doc_id", "mtext")
      val t2 = Repetition.topNgramCharFraction(flat, "doc_id", "ftext", 2)
      val d5 = Repetition.dupNgramCharFraction(flat, "doc_id", "ftext", 5)
      ls.join(t2, Seq("id")).join(d5, Seq("id")).select(
        col("id").as("doc_id"), col("n_lines"),
        col("dup_line_frac"), col("dup_line_char_frac"),
        col("ellipsis_line_frac"), col("bullet_line_frac"),
        col("top_ngram_frac"), col("dup_ngram_frac"),
        Repetition.repetitionKeepFull(
          col("dup_line_frac"), col("dup_line_char_frac"),
          col("top_ngram_frac"), col("dup_ngram_frac"),
          col("ellipsis_line_frac"), col("bullet_line_frac")).as("keep"))
    }),

    "d40_link_graph" -> ((s, d) => {
      // outlink extraction (the crawl-graph feeder): each synthetic page
      // carries one absolute link (the doc's d39 URL — double-quoted)
      // plus relative chrome links (one single-quoted), and the whole
      // path — extract, absolute/relative split, canonicalization,
      // registrable domain of the first outlink — is a per-row
      // zero-shuffle column map over the corpus.
      import graft.text.{Html, Urls}
      val page = concat(
        lit("<html><body><nav><a href=\"/\">home</a></nav><p>see <a href=\""),
        rawUrlCol, lit("\">ref</a> and <a href='/docs/local'>local</a> for "),
        col("source"), lit("</p></body></html>"))
      val links = Html.extractLinks(page)
      val abs = filter(links, h => Urls.urlScheme(h) =!= lit(""))
      documents(s, d).select(
        col("doc_id"),
        size(links).as("n_links"),
        size(abs).as("n_abs"),
        when(size(abs) > 0,
          Urls.registrableDomain(Urls.urlHost(element_at(abs, 1))))
          .otherwise(lit("")).as("domain"))
    }),

    "d39_url_canonicalize" -> ((s, d) => {
      // URL-level crawl curation (VERDICT r15 item 4): canonicalize the
      // synthetic crawl URL (case, default ports, userinfo, fragments,
      // tracking params), extract the registrable domain, and gate
      // against the blocklist via Urls.hostGate — a broadcast anti-join,
      // the crawl side never shuffles. All codegen'd column maps; the
      // oracle replays the same regex passes (Urls.Sql) and the gate as
      // NOT IN.
      import s.implicits._
      import graft.text.Urls
      val withUrl = documents(s, d).select(col("doc_id"), rawUrlCol.as("url"))
      Urls.hostGate(withUrl, "url", BlockedDomains.toDF("domain"))
        .select(
          col("doc_id"),
          Urls.canonicalizeUrl(col("url")).as("url_canonical"),
          Urls.registrableDomain(Urls.urlHost(col("url"))).as("domain"))
    }),

    "d42_crawl_rank" -> ((s, d) => {
      // the crawl-graph loop closed END TO END (VERDICT r16 item 1):
      // each doc's synthetic page carries four outlinks — root-relative
      // (unquoted href), ../-relative, absolute hub, protocol-relative
      // mirror — and the full path extract → resolve (RFC 3986) →
      // canonicalize → distinct string-keyed edges → Graph.index →
      // PageRank(3 fixed rounds) → ranks joined back to URLs runs the
      // r16 ingest surface INTO the graph engine. Everything up to the
      // edge list is a zero-shuffle column map over the corpus; the
      // oracle replays every regex pass and the unrolled rank rounds
      // (the g21 device) over the same string ids, so resolve and
      // canonicalize are hash-checked through the whole composition.
      import graft.text.{Html, Urls}
      val pages = documents(s, d)
        .select(col("doc_id"), col("source"), rawUrlCol.as("url"))
        .select(col("url"), crawlPageCol.as("html"))
      // STAGED + PINNED (OPTIMIZATION_r17): the one-expression form
      // nested canonicalizeUrl(resolve(url, href)) — canonicalize
      // references its argument ~12x, so the whole resolve tree (itself
      // ~50 regex ops over the synthesized page URL) was duplicated
      // 12x per row, the src/dst filter evaluated the same giant trees
      // a second time, and Graph.index + every PageRank round re-ran
      // the unpinned chain from the parquet scan (~15-20 full
      // evaluations measured: 328.9 s at sf0.1). Each layer is now its
      // own projection over ATTRIBUTES of a localCheckpointed frame —
      // identical per-row string ops, computed exactly once (guide
      // §1.2/§2.4: fix the algorithm shape before anything else).
      // extract once: small (url, href) string frame
      val links = CheckpointPolicy.pin(pages
        .select(col("url"), explode(Html.extractLinks(col("html"))).as("href")))
      // RFC-3986 resolution once per link row
      val resolved = CheckpointPolicy.pin(links
        .select(col("url"), Urls.resolve(col("url"), col("href")).as("_abs")))
      val edges = CheckpointPolicy.pin(resolved
        .select(
          Urls.canonicalizeUrl(col("url")).as("src"),
          Urls.canonicalizeUrl(col("_abs")).as("dst"))
        .filter(col("src") =!= "" && col("dst") =!= "")
        .distinct()) // the string edge list, built once for the loop
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst"))).distinct()
      // pin the indexed graph too: PageRank reads g.vertices every round
      val g = graft.core.Graph.index(verts, edges, directed = true)
        .localCheckpointed()
      graft.algorithms.PageRank(maxIterations = 3).run(g)
        .join(g.vertices.select(col("id"), col("old_id")), Seq("id"))
        .select(col("old_id").as("url"), round(col("rank"), 9).as("rank"))
    }),

    "d13_mixture_sample" -> ((s, d) => {
      // corpus composition ("data mixing"): deterministic per-source
      // Bernoulli sampling at source-specific rates — upsample curated
      // sources, downsample crawl. The keep decision is a pure hash of
      // the id, so the mix is reproducible across engines/retries AND
      // stable under corpus growth (new docs never flip old keeps).
      // Rates here derive from the source ordinal (1.0 / 0.5 / 0.25 by
      // ordinal mod 3) so the oracle can rebuild the same rates table.
      val docs = documents(s, d)
      val rates = docs.select(col("source")).distinct()
        .withColumn("rate", element_at(
          array(lit(1.0), lit(0.5), lit(0.25)),
          (pmod(expr("cast(substring(source, 4) as bigint)"), lit(3L)) + 1)
            .cast("int")))
      graft.sample.Sampling.mixtureSample(docs, "doc_id", "source", rates)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    "d25_temperature_mix" -> ((s, d) => {
      // temperature-flattened corpus mixing (α = 0.5): per-source keep
      // rates (n_min/n_i)^0.5 make the kept count ∝ sqrt(n) — the
      // multilingual-LM re-balancing move — through the SAME
      // deterministic hash gate as d13. sqrt and division are
      // correctly-rounded IEEE ops, so DuckDB reproduces the rates,
      // the floor(rate*2^32) thresholds and every keep decision.
      // stratum = lang (the skewed axis on this corpus: en dominates
      // ~3x) — source is uniform here, which would make every rate 1.0
      val docs = documents(s, d)
      val rates = graft.sample.Sampling.temperatureRates(docs, "lang", alpha = 0.5)
      graft.sample.Sampling.mixtureSample(docs, "doc_id", "lang", rates)
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    "d14_balanced_shards" -> ((s, d) => {
      // equal-token output sharding: the write side of a training
      // pipeline. Every doc gets a shard in [0,16) such that shard token
      // totals differ by at most one doc — via a deterministic global
      // running token sum in (id-hash, id) order, computed 256-way
      // parallel (two-level, no single reducer). The oracle checks the
      // equivalent single global window formulation.
      val docs = documents(s, d)
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.sample.Sampling.balancedShards(docs, "doc_id", "n_tokens", 16)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
    }),

    "d15_quality_quantile" -> ((s, d) => {
      // per-language quality gating at an EXACT quantile: drop each
      // language's worst decile by t02's quality score. The threshold is
      // computed over distinct (lang, score) pairs — never a sort of the
      // corpus — then broadcast back as a filter. Deterministic and
      // cross-engine exact (the score is round(...,6), the rank is one
      // double multiply + ceil on both engines).
      val scored = documents(s, d).select(col("doc_id"), col("lang"),
        qualityScore(col("text")).as("quality"))
      val thr = graft.sample.Sampling.quantileThresholds(
        scored, "lang", "quality", 0.10)
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("quality") >= col("threshold"))
        .select(col("doc_id"), col("lang"), col("quality"))
    }),

    "t05_winnow" -> ((s, d) =>
      // oracle-checked end to end via the portable sha256-prefix k-gram
      // hash: DuckDB reproduces the exact fingerprint set (the xxhash64
      // variant stays spec-covered). Fingerprints flattened to one sorted
      // comma-joined string per doc — the driver's compare can't hash
      // array cells.
      documents(s, d).select(
        col("doc_id"),
        size(winnowPortable(tokens(col("text")), 3, 4)).as("n_fingerprints"),
        array_join(winnowPortable(tokens(col("text")), 3, 4), ",").as("fps"))),

    "t08_pii_redaction" -> ((s, d) => {
      // the corpus itself carries no PII, so the query INJECTS synthetic
      // PII deterministically from table data (url/email/phone built
      // around doc_id) and then scrubs it with redactPii — both engines
      // construct the identical dirty string, so the oracle checks the
      // actual regex semantics of all three classes plus the audit counts
      val dirty = concat(
        lit("see https://ex.com/p/"), col("doc_id"), lit("?q=1 "),
        substring(col("text"), 1, 40),
        lit(" mail u"), col("doc_id"), lit("@ex-ample.org or call +1 (555) 01"),
        col("doc_id"), lit(" now"))
      documents(s, d).select(
        col("doc_id"),
        patternCount(dirty, UrlPattern).as("n_urls"),
        patternCount(dirty, EmailPattern).as("n_emails"),
        redactPii(dirty).as("redacted"))
    }),

    "t09_bm25" -> ((s, d) =>
      // keyword retrieval over the corpus: Okapi BM25 top-20 for a
      // three-term query. Scores need ln, so they are rounded to 6
      // decimals before ranking (the g21 margin argument) and ties break
      // on doc_id; everything else is fixed-order double arithmetic over
      // exact integer stats, mirrored op-for-op by the oracle.
      graft.text.Search.bm25TopK(documents(s, d), "doc_id", "text",
        terms = Seq("hash", "merge", "window"), topK = 20)),

    "t10_bigram_lm" -> ((s, d) =>
      // corpus-trained bigram LM quality signal, log-free: every
      // transition scores the exact integer (1e6 * c(w1,w2)) div c(w1)
      // and a doc's score is the exact integer mean — no ln, no float
      // sum, bit-identical across engines at any partitioning
      graft.text.LanguageModel.bigramTransitionScore(
        documents(s, d), "doc_id", "text")),

    "d21_ppl_buckets" -> ((s, d) => {
      // CCNet-style perplexity partition (Wenzek et al. 2020): score
      // every document with the corpus-trained bigram LM (t10's exact
      // integer avg transition probability — high = predictable), cut
      // each language at its exact 1/3 and 2/3 quantiles, and label
      // head/middle/tail. The standard curation move is to train on
      // head+middle; the label column keeps the decision re-mixable.
      // Thresholds are computed over distinct (lang, score) pairs and
      // broadcast back — the corpus is scored once and never sorted.
      val scored = documents(s, d)
        .join(graft.text.LanguageModel.bigramTransitionScore(
          documents(s, d), "doc_id", "text"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_p"))
      val lo = graft.sample.Sampling.quantileThresholds(
        scored, "lang", "avg_p", 1.0 / 3).withColumnRenamed("threshold", "t_lo")
      val hi = graft.sample.Sampling.quantileThresholds(
        scored, "lang", "avg_p", 2.0 / 3).withColumnRenamed("threshold", "t_hi")
      scored.join(broadcast(lo), Seq("lang")).join(broadcast(hi), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_p"),
          when(col("avg_p") >= col("t_hi"), "head")
            .when(col("avg_p") >= col("t_lo"), "middle")
            .otherwise("tail").as("ppl_bucket"))
    }),

    "d22_sketch_quantile_gate" -> ((s, d) => {
      // mergeable-quantile-sketch gate (VERDICT r8 #2): the d15/d21
      // exact-quantile path aggregates distinct (stratum, value) pairs,
      // which collapses at 100 TB on continuous scores (distinct pairs
      // ~= corpus). Here the per-language 10th-percentile quality
      // threshold comes from QuantileSketch — a deterministic bottom-k
      // rank sample (k = 64, deliberately smaller than the strata so
      // the SAMPLED path is what's tested) whose state is k rows per
      // stratum no matter how continuous the score is. Hash, sample
      // membership, rank pick and gate all replay bit for bit in DuckDB
      // (sha256-prefix hash + integer ranks). Output: one row per lang
      // with the exact corpus count n, sample size m, the estimated
      // threshold, and how many docs the gate keeps.
      val scored = documents(s, d).select(
        col("doc_id"), col("lang"), qualityScore(col("text")).as("q"))
      val sk = graft.sketch.QuantileSketch.sketch(
        scored, "lang", "doc_id", "q", k = 64)
      val thr = graft.sketch.QuantileSketch.thresholds(sk, "lang", 0.1)
      scored.join(broadcast(thr), Seq("lang"))
        .groupBy(col("lang"), col("n"), col("m"), col("threshold"))
        .agg(count(when(col("q") >= col("threshold"), 1)).as("n_kept"))
        .select(col("lang"), col("n"), col("m"),
          round(col("threshold"), 6).as("threshold"), col("n_kept"))
    }),

    "t07_repetition" -> ((s, d) => {
      // boilerplate/repetition score: fraction of repeated 3-gram
      // occurrences per document. Pure codegen'd column map, no shuffle.
      val t = tokens(col("text"))
      val total = greatest(size(t) - 2, lit(0))
      val dist = size(array_distinct(shingles(t, 3)))
      documents(s, d).select(
        col("doc_id"),
        total.as("n_shingles"),
        dist.as("n_distinct"),
        round(
          when(total > 0,
            lit(1.0) - dist.cast("double") / total.cast("double"))
            .otherwise(lit(0.0)), 6).as("rep_ratio"))
    }),

    "t06_term_stats" -> ((s, d) => {
      // TF-IDF building block, integer-exact for the cross-engine compare:
      // per-doc term frequency, corpus document frequency, and the top-5
      // terms per document ranked by (tf desc, term asc)
      import org.apache.spark.sql.expressions.Window
      val toks = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("tok"))
      tf.join(dfreq, Seq("tok"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("rnk"))
    }),

    "m01_media_features" -> ((s, d) =>
      // oracle-checked: binary payloads through the partition-batched
      // decoder (format "fake/raw" -> byteStats). The corpus is pure
      // ASCII, so DuckDB can reproduce byte statistics as codepoint
      // statistics; round(...,6) absorbs the ulp-order difference in the
      // entropy summation. See graft.multimodal.Multimodal.
      graft.multimodal.Multimodal
        .extractFeatures(graft.multimodal.Multimodal.mediaFromDocuments(documents(s, d)))
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"),
          round(col("byte_entropy"), 6).as("byte_entropy"))),

    "m02_frame_stats" -> ((s, d) =>
      // frame-sampling plumbing: 64-byte frames per media payload, one
      // row per frame with exact-integer-derived stats — the
      // one-to-many decode shape (video frames / audio windows) as a
      // partition-batched flatMap; ASCII corpus lets DuckDB replay the
      // byte stats as codepoint stats
      graft.multimodal.Multimodal.frameStats(
        graft.multimodal.Multimodal.mediaFromDocuments(documents(s, d)),
        frameSize = 64)),

    "m03_image_neardup" -> ((s, d) => {
      // perceptual near-duplicate media detection, dedup-first: exact
      // byte-duplicate collapse on the payload sha256, dHash64 per
      // representative (9x8 grid of integer cell means, gradient bit
      // rule — decoded-raster luminance for real images, byte-grid
      // fallback for the raw corpus here), candidates by the 4x16-bit
      // pigeonhole chunk join, exact XOR+popcount verify. The byte-grid
      // path is exact integer arithmetic over an ASCII corpus, so the
      // oracle replays hash bits, pairs and copy counts in full (as a
      // 64-element bit list — the d03 device).
      // The corpus's natural near-dup texts differ in LENGTH, which a
      // grid hash is rightly sensitive to (slices shift; min natural
      // hamming is 12 here, measured) — so the workload PLANTS the
      // perturbation class the hash is designed for: same-length local
      // edits (the byte analog of a few changed pixels). Every doc_id
      // % 5 == 0 gains a copy with its first byte overwritten, id
      // offset by 1e7; planted pairs land at hamming 0-1 without being
      // byte-identical, and the oracle rebuilds the same corpus.
      val docs0 = documents(s, d)
      val media = graft.multimodal.Multimodal.mediaFromDocuments(
        docs0.select(col("doc_id"), col("text")).unionByName(
          docs0.filter(pmod(col("doc_id"), lit(5L)) === 0L && length(col("text")) > 1)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(lit("Z"), expr("substring(text, 2)")).as("text"))))
      val r = graft.multimodal.Multimodal.dHashNearDups(media, maxDist = 3)
      r.pairs
        .join(r.copyClusters.select(
          col("keep_id").as("id_a"), col("n_copies").as("n_copies_a")), Seq("id_a"))
        .join(r.copyClusters.select(
          col("keep_id").as("id_b"), col("n_copies").as("n_copies_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("n_copies_a"), col("n_copies_b"))
    }),

    "m04_stream_imagedup" -> ((s, d) => {
      // batch twin of the STREAMING perceptual ingest-dedup path
      // (MediaStream): the corpus is indexed once (exact byte-dup
      // collapse + dHash64 + pigeonhole chunk table) and the "upload
      // batch" — perturbed copies of every doc_id % 5 == 0 payload
      // (same-length first-byte edit, id offset 1e7) — probes it
      // through EXACTLY the code a stream runs (nearDupAgainstCorpus
      // is stream/batch agnostic; StreamingSpec drives it live on a
      // MemoryStream). The pigeonhole is exhaustive at maxDist 3, so
      // the oracle is the exact cross-side compare.
      val docs0 = documents(s, d)
      val corpus = graft.multimodal.Multimodal.mediaFromDocuments(docs0)
      val incoming = graft.multimodal.Multimodal.mediaFromDocuments(
        docs0.filter(pmod(col("doc_id"), lit(5L)) === 0L && length(col("text")) > 1)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text")))
      val idx = graft.streaming.MediaStream.indexCorpus(corpus)
      graft.streaming.MediaStream.nearDupAgainstCorpus(incoming, idx, maxDist = 3)
    }),

    "d35_cluster_safe_split" -> ((s, d) =>
      // the STRONG leakage guard: split on the fuzzy-dedup CLUSTER id
      // (d12's exact-dedup -> LSH pairs -> connected components), so
      // NEAR-duplicates — paraphrases, templated variants — co-locate
      // in one split, not just byte-identical copies (d34's guarantee).
      // This is the split discipline pretraining evaluation actually
      // needs: a near-dup of a test document in train is still a leak.
      graft.sample.Sampling.splitByKey(
        SharedDedupIndex.clusters(s, d), "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("bucket"), col("split"))),

    "d34_leakage_safe_split" -> ((s, d) =>
      // train/val/test split keyed on the TEXT hash, not the id: exact
      // copies always share a split, closing the duplicate-leakage
      // channel at zero cost — one per-row codegen map, no shuffle.
      graft.sample.Sampling.leakageSafeSplit(documents(s, d), "text")
        .select(col("doc_id"), col("bucket"), col("split"))),

    "d32_containment" -> ((s, d) =>
      // asymmetric quote/superset detection: containment |A∩B|/|A| over
      // exact distinct 8-token shingle sets — catches a short doc wholly
      // quoted inside a long one, which Jaccard misses (union-dominated).
      // Keyed on shingle hashes, hot boilerplate shingles capped with
      // the minhash maxBucketSize device; the gate is a pure integer
      // comparison and the reported ratio one integral division.
      Dedup.containmentPairs(documents(s, d), "doc_id", "text",
        n = 8, minContainmentPct = 80, maxShingleDocs = 64)),

    "d33_containment_deduped" -> ((s, d) =>
      // the d09/d30 ordering applied to containment: exact copies
      // collapse to min-id representatives FIRST, so shingle document
      // frequencies stay at distinct-text values (the hot cap bites
      // only genuine boilerplate, not copy mass) and each quote pair is
      // one row with the copy counts to multiply back.
      Dedup.containmentPairsDeduped(documents(s, d), "doc_id", "text",
        n = 8, minContainmentPct = 80, maxShingleDocs = 64)),

    "d16_dup_spans" -> ((s, d) =>
      // substring-level dedup signal (Lee et al. 2022): per-doc counts of
      // 8-token spans that recur anywhere / in another document. The
      // oracle replays the full span inventory on raw span strings; Spark
      // groups on xxhash64(span) — an internal key that never leaves the
      // plan, so the only cross-engine surface is the exact counts
      Dedup.duplicatedSpanStats(documents(s, d), "doc_id", "text", n = 8)
        .withColumnRenamed("id", "doc_id")),

    "d29_source_curation" -> ((s, d) =>
      // source/domain-level curation (the C4-style domain filter):
      // per-source doc/distinct-text/token/stopword aggregates in ONE
      // corpus pass (text never shuffles — sha digests do), keep
      // decision in pure integer comparisons, one row per source for
      // the mixture step to consume.
      graft.sample.Sampling.sourceCuration(documents(s, d), "text", "source")),

    "d30_span_removal_deduped" -> ((s, d) =>
      // dedup-FIRST span removal (the d09 composition applied to d27):
      // exact copies collapse, the span inventory runs over DISTINCT
      // texts only, copies inherit the representative's cleaned text —
      // document-level duplication handled at document prices, ~8x the
      // raw path on the 90%-copies stress corpus.
      Dedup.removeDuplicatedSpansDeduped(documents(s, d), "doc_id", "text", n = 8)),

    "d31_token_budget" -> ((s, d) => {
      // token-BUDGET mixing: per source, keep the deterministic
      // pseudo-random prefix of documents whose running token total
      // stays under the budget — the gate a fixed-token-budget training
      // recipe actually runs (a RATE hits a share; a BUDGET needs a
      // running sum). Budget here = half of each source's exact token
      // total, derived in one combinable pass; the running sum is the
      // d14 two-level shard device, so no single reducer ever sees a
      // whole source.
      val toks = graft.text.TextFunctions.tokens(col("text"))
      val base = documents(s, d).select(
        col("doc_id"), col("source"), size(toks).cast("long").as("n_tok"))
      val budgets = base.groupBy(col("source"))
        .agg(expr("sum(n_tok) div 2").as("budget"))
      graft.sample.Sampling.tokenBudgetSample(
        base, "doc_id", "n_tok", "source", budgets)
    }),

    "d28_bpe_chunks" -> ((s, d) =>
      // tokenizer-ALIGNED context-window chunking: documents cut into
      // 64-BPE-token windows at TOKEN boundaries (mid-word cuts
      // included — exactly how context-window packing slices text), via
      // the native BpeSegment expression (compiled merge table, symbols
      // as contiguous substrings, GPT-2-style leading-space word marks
      // so concat(window) IS the chunk's text). Zero shuffle: one
      // per-row segment + slice + posexplode. The oracle replays the
      // replace chain and the same windowing with list ops.
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.BpeSegment(col("text"), TextFunctions.BpeMerges)
            .as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), ceil(size(col("toks")) / 64.0).cast("int") - 1),
          k => slice(col("toks"), k * 64 + 1, lit(64)))))
        .toDF("doc_id", "chunk_id", "s")
        .select(col("doc_id"), col("chunk_id"),
          size(col("s")).as("n_bpe"),
          ltrim(array_join(col("s"), ""), " ").as("chunk_text"))),

    "d27_span_removal" -> ((s, d) =>
      // the cleaned-corpus follow-through of d16 (Lee et al. 2022
      // exact-substring dedup): every 8-token span occurrence that is
      // not its span's canonical (minimal doc·pos) occurrence is cut,
      // overlaps merged, text re-spliced from the kept tokens. The text
      // column never shuffles — only per-doc removed-position sets join
      // back. The oracle replays the inventory on raw span strings and
      // the same splice with an ordered string_agg.
      Dedup.removeDuplicatedSpans(documents(s, d), "doc_id", "text", n = 8)),

    "d17_kmv_distinct" -> ((s, d) =>
      // portable K-Minimum-Values cardinality sketch per language:
      // sha256-prefix hashes, k = 16 smallest, (k-1)*2^48/h_k — DuckDB
      // replays hash, rank AND estimate bit for bit (the auditability
      // HLL-style sketches can't offer across engines)
      graft.sketch.Kmv.distinctEstimate(
        documents(s, d), Seq("lang"), col("text"), k = 16)),

    "d20_hll_distinct" -> ((s, d) =>
      // portable HyperLogLog per language: p=4 (16 registers) is sized
      // DOWN to the toy per-lang cardinalities like d17's k=16 so the
      // register dynamics are exercised; HllSpec pins the production
      // p=11 error band and merge=whole on 50k-key strata. Unlike KMV
      // this needs NO distinct pre-shuffle — registers are one
      // map-side-combinable max — which is the 100 TB differentiator.
      // The raw estimate is the cross-engine face; lc_range flags where
      // linear counting (estimateCorrected, ln-based) applies.
      graft.sketch.Hll.distinctEstimate(
        documents(s, d), Seq("lang"), col("text"), p = 4)),

    "d18_heavy_hitters" -> ((s, d) => {
      // Count-Min token-frequency estimation: a depth-4 sketch built in
      // one map-side-combinable pass over every token occurrence (the
      // fixed-size alternative to a full groupBy(token) at 100 TB),
      // probed for the tokens of docs 0-9 and reported next to the
      // exact counts — est >= exact always, equal when the token's
      // buckets are collision-free. Width 16 is sized DOWN to the toy
      // 31-token vocabulary so bucket collisions (and the min-probe
      // that absorbs most of them) actually happen; a corpus-scale
      // deployment sizes width ~2/eps. DuckDB replays hash, sketch AND
      // min-probe bit for bit
      val occ = documents(s, d).select(explode(tokens(col("text"))).as("tok"))
      val sk = graft.sketch.CountMin.sketch(occ, col("tok"), depth = 4, width = 16)
      val probes = documents(s, d).filter(col("doc_id") < 10)
        .select(explode(tokens(col("text"))).as("tok")).distinct()
      val exact = occ.join(probes, Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      graft.sketch.CountMin.estimate(sk, probes, col("tok"), depth = 4, width = 16)
        .withColumnRenamed("probe_key", "tok")
        .join(exact, Seq("tok"))
        .select(col("tok"), col("est"), col("exact_cnt"))
    }),

    "t11_vocab_stats" -> ((s, d) => {
      // corpus vocabulary profile per language — type/token ratio and
      // hapax mass are the classic quality/diversity signals for corpus
      // comparison. Two map-side-combinable groupBys (term frequencies,
      // then per-lang folds); the ratio is one correctly-rounded division
      // of exact integers
      val tf = documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("lang")).agg(
          sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
            .as("ttr"))
    }),

    "t15_token_calibration" -> ((s, d) => {
      // supervised calibration of a CHEAP token estimator: fit
      // bpe_count ≈ b0 + b1·whitespace_tokens + b2·chars by exact ridge
      // normal equations — ONE combinable 9-moment pass, the 3x3 Cramer
      // solve evaluated in-plan on decimal(38,0), predictions one
      // integral division per row. The fitted line lets the packer
      // budget real tokenizer counts without running BPE on every doc.
      val base = documents(s, d).select(
        col("doc_id"),
        graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"),
        graft.text.TextFunctions.bpeTokenCountExact(col("text"))
          .cast("long").as("n_bpe"))
      graft.algorithms.Ridge.fitPredict(base, "n_tok", "n_chars", "n_bpe",
        lambda = 1L)
    }),

    "t14_bpe_train" -> ((s, d) =>
      // BPE merge-table LEARNING from the corpus (Sennrich et al. 2016)
      // — the training half of the t13/d23/d28 apply story: one corpus
      // pass collapses to the word-frequency table, then every round is
      // a vocabulary-sized pair count + a bounded TakeOrdered argmax +
      // one broadcast 1-row merge application. The learned (a, b) rows
      // feed the native BpeCount directly.
      graft.text.BpeTrainer.learnMerges(documents(s, d), "text", numMerges = 8)),

    "t13_bpe_tokens" -> ((s, d) =>
      // tokenizer-aware token counting: exact greedy BPE under the fixed
      // ranked merge table (TextFunctions.BpeMerges), computed by the
      // NATIVE BpeCount expression — a compiled merge table riding the
      // task binary, so the same operator takes a 50k production merge
      // list unchanged. The DuckDB oracle replays the equivalent literal
      // replace chain (leftmost/non-overlapping in both engines) bit for
      // bit; FunctionsSpec pins native ≡ replace-chain. Whitespace counts
      // (d06's budget) run alongside for the ratio a packing job needs to
      // recalibrate budgets per corpus.
      documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCountExact(col("text")).as("n_bpe"))),

    "d23_bpe_pack" -> ((s, d) => {
      // d06's two-level token packing, budgeted by BPE tokens instead of
      // whitespace words — the production contract (training budgets are
      // tokenizer tokens; whitespace misestimates them 1.3-1.7x by
      // language). Same 256-shard running sum, same Knuth shard hash,
      // same 2000-token bins; only the counted unit changes.
      import org.apache.spark.sql.expressions.Window
      val base = documents(s, d)
        .select(col("doc_id"), col("lang"),
          bpeTokenCountExact(col("text")).cast("long").as("n_bpe"))
        .withColumn("_shard",
          expr("pmod(pmod(doc_id, 2147483648L) * 2654435761L, 4294967296L)" +
            " div 16777216"))
      val wIn = Window.partitionBy(col("lang"), col("_shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val inShard = base
        .withColumn("_cum", coalesce(sum(col("n_bpe")).over(wIn), lit(0L)))
      val wOff = Window.partitionBy(col("lang")).orderBy(col("_shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("lang"), col("_shard"))
        .agg(sum(col("n_bpe")).as("_tot"))
        .withColumn("_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
        .select(col("lang"), col("_shard"), col("_off"))
      inShard.join(broadcast(offsets), Seq("lang", "_shard"))
        .withColumn("bin", expr("(_off + _cum) div 2000"))
        .select(col("doc_id"), col("lang"), col("n_bpe"), col("bin"))
    }),

    "t12_gopher_quality" -> ((s, d) =>
      // Gopher-style heuristic quality filter (Rae et al. 2021 §A.1.1)
      // restricted to the word-level rules that apply to one-line
      // documents: token-count bounds, mean-word-length band, minimum
      // stopword evidence, most-common-word repetition cap. Pure
      // codegen'd column maps — a narrow scan with zero shuffle, the
      // shape a 100 TB keep/drop pass needs. Signals are emitted next
      // to the decision so downstream audits can re-threshold without
      // re-scanning.
      documents(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_words"),
          meanWordLen(col("text")).as("mean_word_len"),
          stopwordCount(col("text"), DefaultStopwords).as("stop_hits"),
          topTokenFrac(col("text")).as("top_word_frac"))
        .withColumn("keep",
          gopherKeep(col("n_words"), col("mean_word_len"),
            col("stop_hits"), col("top_word_frac")))))

  /** DuckDB-side tokenization mirroring TextFunctions.tokens. */
  private val toksSql = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB-side exact BPE token count over a tokens list `t`: the same
    * prefix-separator char split and the same 40 literal replaces,
    * GENERATED from the one shared merge table
    * ([[graft.text.TextFunctions.BpeMerges]]) so the two engines cannot
    * drift. `replace` is leftmost/non-overlapping and continues after
    * the replacement in both engines (verified), which is exactly BPE's
    * within-rank application order. */
  /** The BPE working string after the full merge chain, from tokens `t`
    * — symbols FULLY wrapped (chr(1) on both sides) so a pattern's
    * second operand is terminated; see TextFunctions.BpeSep. */
  private def bpeSegSql: String = {
    val init = """array_to_string([chr(2) || regexp_replace(w, '(.)', chr(1) || '\1' || chr(1), 'g') FOR w IN t], '')"""
    graft.text.TextFunctions.BpeMerges.foldLeft(init) {
      case (s, (a, b)) =>
        s"replace($s, chr(1)||'$a'||chr(1)||chr(1)||'$b'||chr(1), chr(1)||'$a$b'||chr(1))"
    }
  }

  private def bpeCountSql: String =
    s"((length($bpeSegSql) - length(replace($bpeSegSql, chr(1), ''))) // 2)"

  /** Full replay of BPE merge LEARNING (t14): `rounds` unrolled
    * iterations, each = weighted adjacent-pair count over the wrapped
    * word-frequency table, argmax with the (cnt DESC, a, b) total order,
    * and one leftmost non-overlapping `replace` applying the winner —
    * the same wrapped-symbol device as the t13 apply oracle, with the
    * merge OPERANDS coming from the per-round 1-row CTE instead of a
    * literal table. */
  private def bpeTrainSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w0 AS (SELECT w, count(*) AS freq FROM (
              |    SELECT unnest($toksSql) AS w FROM documents) GROUP BY w),
              |v0 AS (SELECT regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS s,
              |       freq FROM w0)""".stripMargin
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
                |y$r AS (SELECT freq, string_split(trim(s, chr(1)), chr(1)||chr(1)) AS y
                |        FROM v$p),
                |e$r AS (SELECT freq, unnest(CASE WHEN len(y) >= 2
                |    THEN [{'a': y[i], 'b': y[i+1]} FOR i IN range(1, len(y))]
                |    ELSE [] END) AS pp FROM y$r),
                |p$r AS (SELECT pp.a AS a, pp.b AS b, sum(freq) AS cnt
                |        FROM e$r GROUP BY 1, 2),
                |b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
                |v$r AS (SELECT replace(s, chr(1)||a||chr(1)||chr(1)||b||chr(1),
                |        chr(1)||a||b||chr(1)) AS s, freq FROM v$p CROSS JOIN b$r)""".stripMargin
    }
    sb ++= "\n" + (1 to rounds).map(r =>
      s"SELECT CAST($r AS INTEGER) AS rank, a, b, CAST(cnt AS BIGINT) AS cnt FROM b$r")
      .mkString("\nUNION ALL\n")
    sb.toString
  }

  /** The BPE token LIST under the BpeSegment word-boundary convention:
    * non-empty chr(1)-splits of the working string are symbols with
    * chr(2) markers interleaved at word starts; a symbol directly after
    * a marker (beyond the very first) takes a leading space. */
  private def bpeToksSql: String =
    s"""[CASE WHEN i > 2 AND parts[i-1] = chr(2) THEN ' ' || parts[i]
       |      ELSE parts[i] END
       | FOR i IN range(1, len(parts) + 1) IF parts[i] <> chr(2)]""".stripMargin

  /** DuckDB-side 48-bit sha256-prefix hash of a string expression
    * (digit-decoded so every intermediate stays exact) — the replay of
    * [[graft.sketch.Kmv.portableHash]]. */
  private def sha48Sql(x: String) =
    s"""CAST(list_sum([(strpos('0123456789abcdef',
       |                       substr(substr(sha256($x), 1, 12), j, 1)) - 1)
       |               * CAST(power(16, 12 - j) AS BIGINT)
       |               FOR j IN range(1, 13)]) AS BIGINT)""".stripMargin

  /** DuckDB-side 3-gram shingle set (distinct). */
  private val shinglesSql =
    s"""list_distinct(CASE WHEN len(t) >= 3
       | THEN [ t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1) ]
       | ELSE [] END)""".stripMargin

  /** The fuzzy-dedup cluster-closure CTE chain shared VERBATIM by the
    * d12/d19/d35 oracles (one definition so the cluster contract —
    * exact-dedup representatives, 0.4-Jaccard exact pairs, recursive
    * min-label closure — can never silently diverge between them).
    * Callers prepend `WITH RECURSIVE\n`; the chain ends with
    * `comp(id, cluster_id)` and exposes keep/mem for member
    * expansion. */
  private lazy val clusterClosureSql: String = clusterClosureSqlOver("documents")

  /** The d12 recursive min-label closure over an arbitrary documents
    * relation — the delete lifecycle's oracle filters the corpus first
    * (delete ≡ rebuild-without IS the contract, so the oracle of the
    * post-delete state is the closure of the post-delete corpus). */
  private def clusterClosureSqlOver(rel: String): String =
    s"""keep AS (SELECT text, min(doc_id) AS rep FROM $rel GROUP BY text),
       |mem AS (SELECT d.doc_id, k.rep FROM $rel d JOIN keep k ON k.text = d.text),
       |t0 AS (SELECT rep AS doc_id, $toksSql AS t FROM keep),
       |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
       |nz AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0),
       |pr AS (SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
       |    FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.4),
       |eg AS (SELECT id_a AS es, id_b AS ed FROM pr
       |       UNION ALL SELECT id_b, id_a FROM pr),
       |reach(id, lab) AS (
       |  SELECT rep, rep FROM keep
       |  UNION
       |  SELECT eg.ed, r.lab FROM reach r JOIN eg ON eg.es = r.id),
       |comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** DuckDB-side non-distinct positional 3-gram shingles (winnowing and
    * repetition need multiplicity; dedup uses the distinct variant). */
  private val posShinglesSql =
    s"""CASE WHEN len(t) >= 3
       | THEN [ t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1) ]
       | ELSE [] END""".stripMargin

  val oracle: Map[String, String] = Map(
    // full winnowing replay: sha256-prefix hashes per positional 3-gram,
    // window-4 minima, distinct ascending — string compare on fixed-width
    // hex == numeric compare on the 64-bit prefix, so both engines select
    // identical fingerprints
    "t05_winnow" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |h0 AS (SELECT doc_id,
         |         [substr(sha256(g), 1, 16) FOR g IN $posShinglesSql] AS h
         |       FROM t0),
         |m AS (SELECT doc_id,
         |        CASE WHEN len(h) >= 4
         |          THEN [list_min(h[i+1:i+4]) FOR i IN range(0, len(h) - 3)]
         |          WHEN len(h) > 0 THEN [list_min(h)]
         |          ELSE [] END AS mins
         |      FROM h0),
         |f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)
         |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fingerprints,
         |       array_to_string(fps, ',') AS fps
         |FROM f""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    // full duplicated-span replay on raw 8-token span strings: inventory
    // occurrences + min/max doc per span, then per-doc coverage counts;
    // sub-8-token docs come back via the left join with zero counts
    "d16_dup_spans" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sp AS (SELECT doc_id, unnest(
         |    CASE WHEN len(t) >= 8
         |      THEN [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         |      ELSE [] END) AS g
         |  FROM t0),
         |inv AS (SELECT g, count(*) AS occ, min(doc_id) AS mn, max(doc_id) AS mx
         |        FROM sp GROUP BY g),
         |per AS (SELECT sp.doc_id,
         |          count(*) AS n_spans,
         |          sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS n_dup,
         |          sum(CASE WHEN mn <> mx THEN 1 ELSE 0 END) AS n_cross
         |        FROM sp JOIN inv USING (g) GROUP BY sp.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  CAST(coalesce(per.n_cross, 0) AS BIGINT) AS n_cross_dup_spans
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin,
    // per-source aggregates in one pass; keep decision replayed with
    // the same integer comparisons
    "d29_source_curation" ->
      s"""WITH pt AS (SELECT source, sha256(text) AS th, count(*) AS cnt,
         |    sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS t,
         |    sum(len(list_filter(string_split(text, ' '), x -> list_contains(
         |      ['the','a','an','of','and','to','in','is','it','on'], x)))) AS st
         |  FROM documents GROUP BY source, th),
         |ag AS (SELECT source,
         |    CAST(sum(cnt) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_distinct,
         |    CAST(sum(t) AS BIGINT) AS n_tokens,
         |    CAST(sum(st) AS BIGINT) AS n_stop_hits
         |  FROM pt GROUP BY source)
         |SELECT source, n_docs, n_distinct, n_tokens, n_stop_hits,
         |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) AS dup_ratio,
         |  (n_distinct * 2 >= n_docs AND n_tokens >= n_docs * 5
         |   AND n_stop_hits * 100 >= n_tokens) AS keep
         |FROM ag""".stripMargin,
    // full BPE-chunking replay: merge chain -> symbol list with word
    // markers -> leading-space convention -> 64-token windows
    "d28_bpe_chunks" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sg AS (SELECT doc_id,
         |  list_filter(string_split($bpeSegSql, chr(1)), x -> x <> '') AS parts
         |  FROM t0),
         |tk AS (SELECT doc_id, $bpeToksSql AS toks FROM sg),
         |ch AS (SELECT doc_id, unnest([{'cid': k, 's': toks[k*64+1 : k*64+64]}
         |    FOR k IN range(0, CAST(ceil(len(toks)/64.0) AS BIGINT))]) AS c
         |  FROM tk WHERE len(toks) > 0)
         |SELECT doc_id, CAST(c.cid AS INTEGER) AS chunk_id,
         |  CAST(len(c.s) AS INTEGER) AS n_bpe,
         |  ltrim(array_to_string(c.s, ''), ' ') AS chunk_text
         |FROM ch""".stripMargin,
    // the shared cluster closure + the d34 sha-prefix bucket over the
    // CLUSTER id — near-dups co-locate by construction
    "d35_cluster_safe_split" ->
      ("WITH RECURSIVE\n" + clusterClosureSql + ",\n" +
      s"""asg AS (SELECT m.doc_id, c.cluster_id FROM mem m JOIN comp c ON c.id = m.rep),
         |b AS (SELECT doc_id, cluster_id,
         |    CAST(list_sum([(strpos('0123456789abcdef', substr(h12, i, 1)) - 1)
         |                   * CAST(power(16, 12 - i) AS BIGINT)
         |                   FOR i IN range(1, 13)]) AS BIGINT) % 1000 AS bucket
         |  FROM (SELECT doc_id, cluster_id,
         |          substr(sha256(CAST(cluster_id AS VARCHAR)), 1, 12) AS h12
         |        FROM asg))
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < 800 THEN 'train'
         |       WHEN bucket < 900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b""".stripMargin),
    // the 48-bit sha256-prefix bucket (the d17 hash replay) mod 1000
    "d34_leakage_safe_split" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(list_sum([(strpos('0123456789abcdef', substr(h12, i, 1)) - 1)
        |                   * CAST(power(16, 12 - i) AS BIGINT)
        |                   FOR i IN range(1, 13)]) AS BIGINT) % 1000 AS bucket
        |  FROM (SELECT doc_id, substr(sha256(text), 1, 12) AS h12 FROM documents))
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 800 THEN 'train'
        |       WHEN bucket < 900 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h""".stripMargin,
    // containment on raw span strings (Spark groups on xxhash64 — an
    // internal key that never leaves the plan); same hot-shingle cap,
    // same integer gate and integral division
    "d32_containment" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sp AS (SELECT DISTINCT doc_id AS id, g FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
         |    THEN [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         |    ELSE [] END) AS g FROM t0)),
         |sizes AS (SELECT id, count(*) AS n_a FROM sp GROUP BY id),
         |hot AS (SELECT g FROM sp GROUP BY g HAVING count(*) > 64),
         |cold AS (SELECT * FROM sp ANTI JOIN hot USING (g)),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
         |          FROM cold a JOIN cold b ON a.g = b.g AND a.id <> b.id
         |          GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.shared, s.n_a,
         |  (1000 * p.shared) // s.n_a AS cont_milli
         |FROM pairs p JOIN sizes s ON s.id = p.id_a
         |WHERE p.shared * 100 >= s.n_a * 80""".stripMargin,
    // d32 over min-id representatives of distinct texts + copy counts
    "d33_containment_deduped" ->
      s"""WITH g0 AS (SELECT min(doc_id) AS keep_id, count(*) AS copies,
         |            text FROM documents GROUP BY text),
         |t0 AS (SELECT keep_id AS doc_id, $toksSql AS t FROM g0),
         |sp AS (SELECT DISTINCT doc_id AS id, g FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
         |    THEN [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         |    ELSE [] END) AS g FROM t0)),
         |sizes AS (SELECT id, count(*) AS n_a FROM sp GROUP BY id),
         |hot AS (SELECT g FROM sp GROUP BY g HAVING count(*) > 64),
         |cold AS (SELECT * FROM sp ANTI JOIN hot USING (g)),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
         |          FROM cold a JOIN cold b ON a.g = b.g AND a.id <> b.id
         |          GROUP BY 1, 2)
         |SELECT p.id_a, p.id_b, p.shared, s.n_a,
         |  (1000 * p.shared) // s.n_a AS cont_milli,
         |  ga.copies AS copies_a, gb.copies AS copies_b
         |FROM pairs p JOIN sizes s ON s.id = p.id_a
         |JOIN g0 ga ON ga.keep_id = p.id_a
         |JOIN g0 gb ON gb.keep_id = p.id_b
         |WHERE p.shared * 100 >= s.n_a * 80""".stripMargin,
    // one per-source window in (hash, id) order == the Spark side's
    // two-level shard sums + broadcast prefix offsets (the shard key is
    // the hash's top byte, so (shard, hash, id) order IS (hash, id))
    "d31_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
         |b AS (SELECT source, sum(n_tok) // 2 AS budget FROM d GROUP BY source),
         |h AS (SELECT *, (((doc_id % 2147483648 + 2147483648) % 2147483648)
         |    * 2654435761) % 4294967296 AS _h FROM d),
         |c AS (SELECT doc_id, source, n_tok,
         |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
         |      ORDER BY _h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM h)
         |SELECT c.doc_id, c.source, c.n_tok, c.cum_before
         |FROM c JOIN b USING (source) WHERE cum_before < budget""".stripMargin,
    // the d27 pipeline over min-id representatives of distinct texts,
    // expanded back to every copy
    "d30_span_removal_deduped" ->
      s"""WITH g0 AS (SELECT text, min(doc_id) AS keep_id
         |            FROM documents GROUP BY text),
         |t0 AS (SELECT keep_id AS doc_id, $toksSql AS t FROM g0),
         |sp0 AS (SELECT doc_id, unnest(
         |    CASE WHEN len(t) >= 8
         |      THEN [{'pos': i - 1, 'g': array_to_string(t[i:i+7], ' ')}
         |            FOR i IN range(1, len(t) - 6)]
         |      ELSE [] END) AS s
         |  FROM t0),
         |sp AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM sp0),
         |inv AS (SELECT g, count(*) AS occ, min((doc_id, pos)) AS canon
         |        FROM sp GROUP BY g),
         |rm0 AS (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
         |        FROM sp JOIN inv USING (g)
         |        WHERE occ > 1 AND (sp.doc_id, sp.pos) <> canon),
         |rm AS (SELECT DISTINCT doc_id, p FROM rm0),
         |rmagg AS (SELECT doc_id, count(*) AS n_removed FROM rm GROUP BY doc_id),
         |tk0 AS (SELECT doc_id, unnest(
         |    [{'p': i - 1, 'tok': t[i]} FOR i IN range(1, len(t) + 1)]) AS s
         |  FROM t0),
         |tk AS (SELECT doc_id, s.p AS p, s.tok AS tok FROM tk0),
         |kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
         |         LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.p = tk.p
         |         WHERE rm.p IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         |        count(*) AS n_kept FROM kept GROUP BY doc_id),
         |rep AS (SELECT g0.keep_id,
         |    coalesce(agg.clean_text, '') AS clean_text,
         |    CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
         |    CAST(coalesce(rmagg.n_removed, 0) AS BIGINT) AS n_removed
         |  FROM g0
         |  LEFT JOIN agg ON g0.keep_id = agg.doc_id
         |  LEFT JOIN rmagg ON g0.keep_id = rmagg.doc_id)
         |SELECT d.doc_id, r.clean_text, r.n_kept, r.n_removed
         |FROM documents d
         |JOIN g0 ON d.text = g0.text
         |JOIN rep r ON r.keep_id = g0.keep_id""".stripMargin,
    // full span-removal replay: positional span inventory on raw span
    // strings, canonical = min over the (doc_id, pos) ROW (lexicographic
    // — total for any id range), non-canonical occurrences explode to
    // removed positions, splice via ordered string_agg over the kept
    // tokens
    "d27_span_removal" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sp0 AS (SELECT doc_id, unnest(
         |    CASE WHEN len(t) >= 8
         |      THEN [{'pos': i - 1, 'g': array_to_string(t[i:i+7], ' ')}
         |            FOR i IN range(1, len(t) - 6)]
         |      ELSE [] END) AS s
         |  FROM t0),
         |sp AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM sp0),
         |inv AS (SELECT g, count(*) AS occ, min((doc_id, pos)) AS canon
         |        FROM sp GROUP BY g),
         |rm0 AS (SELECT sp.doc_id, unnest(range(pos, pos + 8)) AS p
         |        FROM sp JOIN inv USING (g)
         |        WHERE occ > 1 AND (sp.doc_id, sp.pos) <> canon),
         |rm AS (SELECT DISTINCT doc_id, p FROM rm0),
         |rmagg AS (SELECT doc_id, count(*) AS n_removed FROM rm GROUP BY doc_id),
         |tk0 AS (SELECT doc_id, unnest(
         |    [{'p': i - 1, 'tok': t[i]} FOR i IN range(1, len(t) + 1)]) AS s
         |  FROM t0),
         |tk AS (SELECT doc_id, s.p AS p, s.tok AS tok FROM tk0),
         |kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
         |         LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.p = tk.p
         |         WHERE rm.p IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         |        count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(agg.clean_text, '') AS clean_text,
         |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(rmagg.n_removed, 0) AS BIGINT) AS n_removed
         |FROM documents d
         |LEFT JOIN agg ON d.doc_id = agg.doc_id
         |LEFT JOIN rmagg ON d.doc_id = rmagg.doc_id""".stripMargin,
    // full Count-Min replay: per-occurrence 48-bit sha256-prefix bucket
    // per hash row, the 4x16 counter build, and the min-probe — every
    // step exact-integer, so est AND exact_cnt match bit for bit
    "d18_heavy_hitters" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |occ AS (SELECT unnest(t) AS tok FROM t0),
         |cell AS (SELECT row_i, bucket, count(*) AS cnt FROM (
         |    SELECT i AS row_i,
         |      ${sha48Sql("tok || '#' || i")} % 16 AS bucket
         |    FROM occ, range(4) r(i)) GROUP BY row_i, bucket),
         |probes AS (SELECT DISTINCT unnest(t) AS tok FROM t0 WHERE doc_id < 10),
         |pb AS (SELECT tok, i AS row_i,
         |      ${sha48Sql("tok || '#' || i")} % 16 AS bucket
         |    FROM probes, range(4) r(i)),
         |est AS (SELECT pb.tok, min(coalesce(cell.cnt, 0)) AS est
         |        FROM pb LEFT JOIN cell USING (row_i, bucket) GROUP BY pb.tok),
         |exact AS (SELECT tok, count(*) AS exact_cnt FROM occ
         |          WHERE tok IN (SELECT tok FROM probes) GROUP BY tok)
         |SELECT est.tok, est.est, exact.exact_cnt
         |FROM est JOIN exact USING (tok)""".stripMargin,
    // full KMV replay: 48-bit sha256-prefix hashes (digit-decoded so
    // every intermediate stays exact), global per-lang rank, same
    // exact-fallback estimator
    // HLL replay: 48-bit sha256-prefix hash -> top-4-bit bucket,
    // 44-bit suffix rank via binary-digit count (bin(x) is unpadded, as
    // Spark's conv(x,10,2)), register max, exact 2^45-scaled harmonic
    // sum, one pinned multiply + division for the raw estimate
    "d20_hll_distinct" ->
      s"""WITH h0 AS (SELECT lang, ${sha48Sql("text")} AS h FROM documents),
         |rg AS (SELECT lang, h // 17592186044416 AS bucket,
         |         max(CASE WHEN h % 17592186044416 = 0 THEN 45
         |              ELSE 45 - length(bin(h % 17592186044416)) END) AS r
         |       FROM h0 GROUP BY lang, bucket),
         |agg AS (SELECT lang,
         |         CAST(sum(CAST(power(2, 45 - r) AS BIGINT)) AS BIGINT) AS sp,
         |         count(*) AS nb
         |       FROM rg GROUP BY lang),
         |est AS (SELECT lang,
         |         CAST(16 - nb AS BIGINT) AS n_zero,
         |         CAST(sp + (16 - nb) * 35184372088832 AS BIGINT) AS s_sum
         |       FROM agg)
         |SELECT lang, n_zero, s_sum,
         |  round(((0.7213/(1.0 + 1.079/16.0)) * 9007199254740992.0)
         |        / CAST(s_sum AS DOUBLE), 6) AS est_raw,
         |  (round(((0.7213/(1.0 + 1.079/16.0)) * 9007199254740992.0)
         |        / CAST(s_sum AS DOUBLE), 6) <= 40.0 AND n_zero > 0) AS lc_range
         |FROM est""".stripMargin,
    "d17_kmv_distinct" ->
      """WITH h0 AS (SELECT DISTINCT lang,
        |    CAST(list_sum([(strpos('0123456789abcdef', substr(h12, i, 1)) - 1)
        |                   * CAST(power(16, 12 - i) AS BIGINT)
        |                   FOR i IN range(1, 13)]) AS BIGINT) AS h
        |  FROM (SELECT lang, substr(sha256(text), 1, 12) AS h12 FROM documents)),
        |kept AS (SELECT lang, h,
        |           row_number() OVER (PARTITION BY lang ORDER BY h) AS rnk
        |         FROM h0),
        |agg AS (SELECT lang, count(*) AS n_kept, max(h) AS kth_hash
        |        FROM kept WHERE rnk <= 16 GROUP BY lang)
        |SELECT lang, n_kept, kth_hash,
        |  CASE WHEN n_kept < 16 THEN CAST(n_kept AS DOUBLE)
        |       ELSE round(CAST(15 * 281474976710656 AS DOUBLE)
        |                  / CAST(kth_hash AS DOUBLE), 6)
        |  END AS est_distinct
        |FROM agg""".stripMargin,
    "t11_vocab_stats" ->
      s"""WITH t0 AS (SELECT lang, $toksSql AS t FROM documents),
         |tk AS (SELECT lang, unnest(t) AS tok FROM t0),
         |tf AS (SELECT lang, tok, count(*) AS tf FROM tk GROUP BY lang, tok),
         |agg AS (SELECT lang,
         |          CAST(sum(tf) AS BIGINT) AS n_tokens,
         |          count(*) AS n_types,
         |          CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_hapax
         |        FROM tf GROUP BY lang)
         |SELECT lang, n_tokens, n_types, n_hapax,
         |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr
         |FROM agg""".stripMargin,
    // every signal is exact-integer-derived with one rounded division,
    // mirroring TextFunctions.meanWordLen/topTokenFrac op for op
    // byte-grid dHash64 replayed exactly: same exact-dup collapse, same
    // floor(i*n/72) slice boundaries and floor cell means, same gradient
    // bit rule; the 64 bits ride as a sorted list (the d03 device — no
    // 64-bit shifts needed) and Hamming is the count of differing
    // positions, identical to the Spark side's XOR+popcount
    "m03_image_neardup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'Z' || substr(text, 2) FROM documents
        |  WHERE doc_id % 5 = 0 AND length(text) > 1),
        |keep AS (SELECT min(doc_id) AS media_id, count(*) AS n_copies
        |              FROM base GROUP BY text),
        |d0 AS (SELECT k.media_id, d.text, length(d.text) AS n
        |       FROM base d JOIN keep k ON k.media_id = d.doc_id),
        |cell AS (SELECT media_id, CAST(i AS INTEGER) AS i,
        |    CASE WHEN ((i+1)*n)//72 > (i*n)//72 THEN
        |      list_sum([ascii(substr(text, CAST(j AS INTEGER), 1))
        |                FOR j IN range((i*n)//72 + 1, ((i+1)*n)//72 + 1)])
        |        // (((i+1)*n)//72 - (i*n)//72)
        |    ELSE 0 END AS v
        |  FROM d0, unnest(range(0, 72)) AS u(i)),
        |bits AS (SELECT a.media_id, ((a.i // 9) * 8 + (a.i % 9)) AS b,
        |    CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
        |  FROM cell a JOIN cell c ON c.media_id = a.media_id AND c.i = a.i + 1
        |  WHERE a.i % 9 < 8),
        |sig AS (SELECT media_id, list(bit ORDER BY b) AS sl
        |        FROM bits GROUP BY media_id)
        |SELECT id_a, id_b, hamming, kx.n_copies AS n_copies_a,
        |  ky.n_copies AS n_copies_b
        |FROM (
        |  SELECT x.media_id AS id_a, y.media_id AS id_b,
        |    CAST(len(list_filter(range(1, 65), i -> x.sl[i] <> y.sl[i]))
        |      AS INTEGER) AS hamming
        |  FROM sig x JOIN sig y ON x.media_id < y.media_id) p
        |JOIN keep kx ON kx.media_id = p.id_a
        |JOIN keep ky ON ky.media_id = p.id_b
        |WHERE hamming <= 3""".stripMargin,
    // cross-side byte-grid dHash replay: corpus reps (exact-dup
    // collapsed over ALL documents) x perturbed incoming items, the
    // same 64-bit-list device as m03
    "m04_stream_imagedup" ->
      """WITH corp0 AS (SELECT min(doc_id) AS id, count(*) AS corpus_n_copies,
        |                      text
        |               FROM documents GROUP BY text),
        |inc0 AS (SELECT doc_id + 10000000 AS id, 'Z' || substr(text, 2) AS text
        |         FROM documents WHERE doc_id % 5 = 0 AND length(text) > 1),
        |allv AS (SELECT id, 0 AS side, text FROM corp0
        |         UNION ALL SELECT id, 1 AS side, text FROM inc0),
        |d0 AS (SELECT id, side, text, length(text) AS n FROM allv),
        |cell AS (SELECT id, side, CAST(i AS INTEGER) AS i,
        |    CASE WHEN ((i+1)*n)//72 > (i*n)//72 THEN
        |      list_sum([ascii(substr(text, CAST(j AS INTEGER), 1))
        |                FOR j IN range((i*n)//72 + 1, ((i+1)*n)//72 + 1)])
        |        // (((i+1)*n)//72 - (i*n)//72)
        |    ELSE 0 END AS v
        |  FROM d0, unnest(range(0, 72)) AS u(i)),
        |bits AS (SELECT a.id, a.side, ((a.i // 9) * 8 + (a.i % 9)) AS b,
        |    CASE WHEN a.v < c.v THEN 1 ELSE 0 END AS bit
        |  FROM cell a JOIN cell c ON c.id = a.id AND c.side = a.side
        |    AND c.i = a.i + 1
        |  WHERE a.i % 9 < 8),
        |sig AS (SELECT id, side, list(bit ORDER BY b) AS sl
        |        FROM bits GROUP BY id, side)
        |SELECT media_id, corpus_id, corpus_n_copies, hamming FROM (
        |  SELECT i.id AS media_id, c.id AS corpus_id,
        |    CAST(len(list_filter(range(1, 65), x -> i.sl[x] <> c.sl[x]))
        |      AS INTEGER) AS hamming
        |  FROM sig i JOIN sig c ON i.side = 1 AND c.side = 0) p
        |JOIN corp0 k ON k.id = p.corpus_id
        |WHERE hamming <= 3""".stripMargin,
    // full replay of the BPE merge chain (same generated replaces)
    "t14_bpe_train" -> bpeTrainSql(8),
    // the ridge replay: identical 9 moments in HUGEINT, the same Cramer
    // cofactor expansions, and the same truncating integral division
    "t15_token_calibration" ->
      s"""WITH t0 AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |f AS (SELECT doc_id,
         |        CAST(len(t) AS BIGINT) AS n_tok,
         |        CAST(length(text) AS BIGINT) AS n_chars,
         |        CAST($bpeCountSql AS BIGINT) AS n_bpe
         |      FROM t0),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |        CAST(sum(n_tok) AS HUGEINT) AS s1,
         |        CAST(sum(n_chars) AS HUGEINT) AS s2,
         |        CAST(sum(n_tok*n_tok) + 1 AS HUGEINT) AS a,
         |        CAST(sum(n_tok*n_chars) AS HUGEINT) AS s12,
         |        CAST(sum(n_chars*n_chars) + 1 AS HUGEINT) AS b,
         |        CAST(sum(n_bpe) AS HUGEINT) AS sy,
         |        CAST(sum(n_tok*n_bpe) AS HUGEINT) AS s1y,
         |        CAST(sum(n_chars*n_bpe) AS HUGEINT) AS s2y
         |      FROM f),
         |d AS (SELECT
         |  n*(a*b - s12*s12) - s1*(s1*b - s12*s2) + s2*(s1*s12 - a*s2) AS det,
         |  sy*(a*b - s12*s12) - s1*(s1y*b - s12*s2y) + s2*(s1y*s12 - a*s2y) AS det0,
         |  n*(s1y*b - s12*s2y) - sy*(s1*b - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
         |  n*(a*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - a*s2) AS det2
         |  FROM m)
         |SELECT f.doc_id, f.n_tok, f.n_chars, f.n_bpe,
         |  CAST((1000 * (det0 + det1*n_tok + det2*n_chars)) // det AS BIGINT)
         |    AS pred_milli
         |FROM f CROSS JOIN d""".stripMargin,
    "t13_bpe_tokens" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents)
         |SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
         |  CAST($bpeCountSql AS INTEGER) AS n_bpe
         |FROM t0""".stripMargin,
    // d06's packing oracle with the BPE count swapped in as the budget
    "d23_bpe_pack" ->
      s"""WITH t0 AS (SELECT doc_id, lang, $toksSql AS t,
         |  ((((doc_id % 2147483648 + 2147483648) % 2147483648)
         |    * 2654435761) % 4294967296) // 16777216 AS shard
         |  FROM documents),
         |t1 AS (SELECT doc_id, lang, shard,
         |  CAST($bpeCountSql AS BIGINT) AS n_bpe FROM t0)
         |SELECT doc_id, lang, n_bpe,
         |  CAST(coalesce(sum(n_bpe) OVER (PARTITION BY lang
         |    ORDER BY shard, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
         |    AS BIGINT) AS bin
         |FROM t1""".stripMargin,
    "t12_gopher_quality" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sg AS (SELECT doc_id,
         |  CAST(len(t) AS INTEGER) AS n_words,
         |  round(CAST(list_sum([length(x) FOR x IN t]) AS DOUBLE)
         |    / greatest(len(t), 1), 6) AS mean_word_len,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x)))
         |    AS INTEGER) AS stop_hits,
         |  round(CAST(coalesce(list_max(
         |      [len(list_filter(t, y -> y = x)) FOR x IN list_distinct(t)]),
         |    0) AS DOUBLE) / greatest(len(t), 1), 6) AS top_word_frac
         |  FROM t0)
         |SELECT doc_id, n_words, mean_word_len, stop_hits, top_word_frac,
         |  (n_words >= 30 AND n_words <= 100000
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND stop_hits >= 2 AND top_word_frac <= 0.2) AS keep
         |FROM sg""".stripMargin,
    // full simhash replay: per-token sha256-prefix hash -> 64 bit votes
    // over the token multiset -> signature bits -> all-pairs Hamming <= 3.
    // Bit b of the big-endian 8-byte hash prefix lives at bit (b % 4) of
    // hex digit (63 - b) // 4 + 1. The all-pairs compare is fine for the
    // oracle (500 docs); the Spark side pigeonholes into 4x16-bit chunks.
    "d03_simhash_dedup" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |nz AS (SELECT doc_id, t FROM t0 WHERE len(t) > 0),
         |tk AS (SELECT doc_id, unnest(t) AS tok FROM nz),
         |hx AS (SELECT doc_id, substr(sha256(tok), 1, 16) AS h FROM tk),
         |votes AS (
         |  SELECT doc_id, b,
         |    sum(2 * (((strpos('0123456789abcdef',
         |        substr(h, CAST((63 - b) // 4 + 1 AS INTEGER), 1)) - 1)
         |      >> CAST(b % 4 AS INTEGER)) & 1) - 1) AS v
         |  FROM hx, unnest(range(0, 64)) AS u(b)
         |  GROUP BY doc_id, b),
         |sig AS (SELECT doc_id, list(CASE WHEN v > 0 THEN 1 ELSE 0 END ORDER BY b) AS sl
         |        FROM votes GROUP BY doc_id)
         |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |  CAST(len(list_filter(range(1, 65), i -> x.sl[i] <> y.sl[i])) AS INTEGER)
         |    AS hamming
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |WHERE len(list_filter(range(1, 65), i -> x.sl[i] <> y.sl[i])) <= 3""".stripMargin,
    // d02 is MinHash-LSH candidate generation + the SAME exact-Jaccard
    // verify as d04, so its output equals the exact all-pairs result
    // whenever every qualifying pair lands in some LSH bucket. On this
    // corpus every true pair has J >= 0.90 (measured), and at 32 bands
    // of 4 rows a J=0.9 pair is missed with probability
    // (1 - 0.9^4)^32 ~= 1.4e-15 — the oracle checks end-to-end equality
    // with the exact computation, which is the meaningful property of a
    // verified near-dup pipeline.
    "d02_minhash_dedup" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
         |nz AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.4""".stripMargin,
    "d05_stratified_sample" ->
      """WITH h AS (SELECT doc_id, lang,
        |  (((doc_id % 2147483648 + 2147483648) % 2147483648)
        |   * 2654435761) % 4294967296 AS h FROM documents)
        |SELECT doc_id, lang, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rnk
        |  FROM h)
        |WHERE rnk <= 10""".stripMargin,
    // one running sum in (shard, doc_id) order == the Spark side's
    // two-level shard pack + prefix offsets
    "d06_token_pack" ->
      s"""WITH t0 AS (SELECT doc_id, lang,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  ((((doc_id % 2147483648 + 2147483648) % 2147483648)
         |    * 2654435761) % 4294967296) // 16777216 AS shard
         |  FROM documents)
         |SELECT doc_id, lang, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY shard, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
         |    AS BIGINT) AS bin
         |FROM t0""".stripMargin,
    // 64-token windows at stride 32, inclusive-range slices
    "d26_overlap_chunks" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |nz AS (SELECT doc_id, t, len(t) AS n FROM t0 WHERE len(t) > 0),
         |ch AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |         t[i * 32 + 1 : i * 32 + 64] AS c
         |       FROM nz, unnest(range(0,
         |         (greatest(n - 64, 0) + 31) // 32 + 1)) AS u(i))
         |SELECT doc_id, chunk_idx, CAST(len(c) AS INTEGER) AS n_tokens,
         |       sha256(array_to_string(c, ' ')) AS sha256
         |FROM ch""".stripMargin,
    "d07_chunk" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |nz AS (SELECT doc_id, t, len(t) AS n FROM t0 WHERE len(t) > 0),
         |ch AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |         t[i * 64 + 1 : (i + 1) * 64] AS c
         |       FROM nz, unnest(range(0, (n + 63) // 64)) AS u(i))
         |SELECT doc_id, chunk_idx, CAST(len(c) AS INTEGER) AS n_tokens,
         |       sha256(array_to_string(c, ' ')) AS sha256
         |FROM ch""".stripMargin,
    // same rates table rebuilt from the source ordinal; same Knuth hash
    // and floor()'d threshold, so keep decisions match bit for bit
    "d13_mixture_sample" ->
      """WITH r AS (SELECT source,
        |    CASE CAST(substr(source, 4) AS BIGINT) % 3
        |      WHEN 0 THEN 1.0 WHEN 1 THEN 0.5 ELSE 0.25 END AS rate
        |  FROM (SELECT DISTINCT source FROM documents))
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN r ON r.source = d.source
        |WHERE (((d.doc_id % 2147483648 + 2147483648) % 2147483648)
        |       * 2654435761) % 4294967296
        |      < CAST(floor(rate * 4294967296.0) AS BIGINT)""".stripMargin,
    // same hash gate as d13 with sqrt-temperature rates — sqrt and the
    // division are correctly rounded in both engines, so thresholds match
    "d25_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |m AS (SELECT min(n) AS mn FROM c),
        |r AS (SELECT lang,
        |        sqrt(CAST((SELECT mn FROM m) AS DOUBLE) / CAST(n AS DOUBLE))
        |          AS rate
        |      FROM c)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN r ON r.lang = d.lang
        |WHERE (((d.doc_id % 2147483648 + 2147483648) % 2147483648)
        |       * 2654435761) % 4294967296
        |      < CAST(floor(rate * 4294967296.0) AS BIGINT)""".stripMargin,
    // same global running sum, written as ONE window in (hash, id) order
    // — the formulation the two-level Spark plan is provably equal to
    "d14_balanced_shards" ->
      s"""WITH t0 AS (SELECT doc_id,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ((((doc_id % 2147483648 + 2147483648) % 2147483648)
         |      * 2654435761) % 4294967296) // 16777216 AS hs
         |  FROM documents),
         |w AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY hs, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum
         |  FROM t0),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM t0)
         |SELECT doc_id, n_tokens,
         |       CAST((cum * 16) // (SELECT t FROM tot) AS BIGINT) AS shard
         |FROM w""".stripMargin,
    // t02's exact quality formula + the distinct-value cumulative-count
    // quantile: smallest score whose running count reaches ceil(0.1*n)
    // per lang, then keep score >= threshold
    "d15_quality_quantile" ->
      s"""WITH t0 AS (SELECT doc_id, lang, text, $toksSql AS t FROM documents),
         |m AS (SELECT doc_id, lang,
         |  CAST(len(t) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x))) AS DOUBLE) AS nstop,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         |  CAST(length(text) AS DOUBLE) AS ltext
         |  FROM t0),
         |sc AS (SELECT doc_id, lang,
         |  round(least(ntok/20.0, 1.0) * (1.0 - npunct/greatest(ltext,1.0))
         |    * (0.5 + least(nstop/greatest(ntok,1.0)*2.0, 0.5)), 6) AS quality
         |  FROM m),
         |cc AS (SELECT lang, quality, count(*) AS c FROM sc GROUP BY lang, quality),
         |cw AS (SELECT lang, quality,
         |         sum(c) OVER (PARTITION BY lang ORDER BY quality
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |       FROM cc),
         |n AS (SELECT lang, count(*) AS n FROM sc GROUP BY lang),
         |thr AS (SELECT cw.lang, min(cw.quality) AS threshold
         |        FROM cw JOIN n ON cw.lang = n.lang
         |        WHERE cw.cum >= CAST(ceil(0.1 * n.n) AS BIGINT)
         |        GROUP BY cw.lang)
         |SELECT sc.doc_id, sc.lang, sc.quality
         |FROM sc JOIN thr ON sc.lang = thr.lang
         |WHERE sc.quality >= thr.threshold""".stripMargin,
    // full bit-for-bit replay of the bottom-k rank-sample quantile gate:
    // same sha256-prefix hash of (lang|doc_id), same (h, q, rid) sample
    // order, same ceil(q*m) rank pick, same >= gate — the sketch is a
    // pure function of the input set, so DuckDB reproduces membership,
    // threshold and kept counts exactly
    "d22_sketch_quantile_gate" ->
      s"""WITH t0 AS (SELECT doc_id, lang, text, $toksSql AS t FROM documents),
         |mm AS (SELECT doc_id, lang,
         |  CAST(len(t) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x))) AS DOUBLE) AS nstop,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         |  CAST(length(text) AS DOUBLE) AS ltext
         |  FROM t0),
         |sc AS (SELECT doc_id, lang,
         |  round(least(ntok/20.0, 1.0) * (1.0 - npunct/greatest(ltext,1.0))
         |    * (0.5 + least(nstop/greatest(ntok,1.0)*2.0, 0.5)), 6) AS q
         |  FROM mm),
         |hh AS (SELECT doc_id, lang, q,
         |  ${sha48Sql("lang || '|' || CAST(doc_id AS VARCHAR)")} AS h,
         |  CAST(doc_id AS VARCHAR) AS rid FROM sc),
         |samp AS (SELECT lang, q, h, rid,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, q, rid) AS rnk
         |  FROM hh),
         |kept AS (SELECT lang, q, h, rid FROM samp WHERE rnk <= 64),
         |mz AS (SELECT lang, count(*) AS m FROM kept GROUP BY lang),
         |vr AS (SELECT lang, q, h, rid,
         |    row_number() OVER (PARTITION BY lang ORDER BY q, h, rid) AS vrnk
         |  FROM kept),
         |thr AS (SELECT vr.lang, mz.m, vr.q AS threshold
         |        FROM vr JOIN mz ON mz.lang = vr.lang
         |        WHERE vr.vrnk = greatest(1, CAST(ceil(0.1 * mz.m) AS BIGINT))),
         |nn AS (SELECT lang, count(*) AS n FROM sc GROUP BY lang)
         |SELECT sc.lang, nn.n, thr.m, round(thr.threshold, 6) AS threshold,
         |  count(CASE WHEN sc.q >= thr.threshold THEN 1 END) AS n_kept
         |FROM sc JOIN thr ON thr.lang = sc.lang JOIN nn ON nn.lang = sc.lang
         |GROUP BY sc.lang, nn.n, thr.m, thr.threshold""".stripMargin,
    // exact containment twin: distinct eval shingles, per-doc hit counts
    "d11_decontaminate" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
         |doc AS (SELECT doc_id, unnest(s) AS g FROM sh
         |        WHERE doc_id % 10 <> 0 AND len(s) > 0),
         |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
         |n AS (SELECT doc_id, count(*) AS n_shingles FROM doc GROUP BY doc_id),
         |h AS (SELECT doc_id, count(*) AS n_hit FROM doc
         |      WHERE g IN (SELECT g FROM ev) GROUP BY doc_id)
         |SELECT n.doc_id, n.n_shingles, coalesce(h.n_hit, 0) AS n_hit,
         |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / n.n_shingles, 6)
         |    AS containment
         |FROM n LEFT JOIN h ON h.doc_id = n.doc_id""".stripMargin,
    // exact cross-slice twin of the dedup-first streaming ingestion-
    // dedup: BOTH slices collapse to min-id representatives per distinct
    // text first (carrying copy counts), then all-pairs over the reps
    "d10_stream_neardup" ->
      s"""WITH inc0 AS (SELECT text, min(doc_id) AS doc_id, count(*) AS n_copies
         |             FROM documents WHERE doc_id % 10 = 0 GROUP BY text),
         |cor0 AS (SELECT text, min(doc_id) AS corpus_id,
         |                count(*) AS corpus_n_copies
         |         FROM documents WHERE doc_id % 10 <> 0 GROUP BY text),
         |ti AS (SELECT doc_id, n_copies, $toksSql AS t FROM inc0),
         |tc AS (SELECT corpus_id, corpus_n_copies, $toksSql AS t FROM cor0),
         |si AS (SELECT doc_id, n_copies, $shinglesSql AS s FROM ti),
         |sc AS (SELECT corpus_id, corpus_n_copies, $shinglesSql AS s FROM tc),
         |inc AS (SELECT doc_id, n_copies, s, len(s) AS n FROM si WHERE len(s) > 0),
         |cor AS (SELECT corpus_id, corpus_n_copies, s, len(s) AS n FROM sc
         |        WHERE len(s) > 0)
         |SELECT doc_id, n_copies, corpus_id, corpus_n_copies,
         |  round(jaccard, 6) AS jaccard FROM (
         |  SELECT a.doc_id, a.n_copies, b.corpus_id, b.corpus_n_copies,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM inc a, cor b)
         |WHERE jaccard >= 0.4""".stripMargin,
    // persisted-index probe: the result contract is d09's (pairs among
    // exact-dedup representatives), so the oracle is the same exact twin
    // — what changes is WHERE the Spark side reads signatures from
    // (bucketed catalog tables instead of a fresh corpus pass)
    "d24_persisted_index" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |d0 AS (SELECT d.doc_id, d.text FROM documents d
         |       JOIN keep ON keep.doc_id = d.doc_id),
         |t0 AS (SELECT doc_id, $toksSql AS t FROM d0),
         |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
         |nz AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.4""".stripMargin,
    // exact-dedup representatives first, then the d02 exact-twin logic
    // over the survivors (recall argument identical to d02's)
    "d09_dedup_then_neardup" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |d0 AS (SELECT d.doc_id, d.text FROM documents d
         |       JOIN keep ON keep.doc_id = d.doc_id),
         |t0 AS (SELECT doc_id, $toksSql AS t FROM d0),
         |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
         |nz AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0)
         |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
         |  FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.4""".stripMargin,
    // exact twin of the cluster step: representative pairs as in d09,
    // then a recursive min-label closure (= connected components), then
    // every doc mapped through its exact-dedup representative
    "d12_neardup_clusters" ->
      ("WITH RECURSIVE\n" + clusterClosureSql + "\n" +
        "SELECT m.doc_id, c.cluster_id FROM mem m JOIN comp c ON c.id = m.rep"),
    // the incremental lifecycle's contract IS d12's full closure: the
    // maintained table advanced over the 90/10 split must say exactly
    // what a whole-corpus rebuild says
    "d36_incremental_clusters" ->
      ("WITH RECURSIVE\n" + clusterClosureSql + "\n" +
        "SELECT m.doc_id, c.cluster_id FROM mem m JOIN comp c ON c.id = m.rep"),
    // the delete lifecycle's contract is the closure of the REMAINING
    // corpus: what survives the physical removal must cluster exactly
    // as if the deleted documents had never been indexed
    "d37_index_delete" ->
      ("WITH RECURSIVE rem AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),\n" +
        clusterClosureSqlOver("rem") + "\n" +
        "SELECT m.doc_id, c.cluster_id FROM mem m JOIN comp c ON c.id = m.rep"),
    // full raw-HTML replay: the page template rendered by the same
    // Left/Right pieces, then every regex pass of graft.text.Html
    // mirrored via Html.Sql (patterns identical modulo \t-escape
    // spelling; DuckDB regexp_replace carries the explicit 'g')
    "d38_html_extract" ->
      s"""WITH page AS (SELECT doc_id, $htmlPageSql AS html FROM documents)
         |SELECT doc_id,
         |  ${graft.text.Html.Sql.extractMainText("html")} AS main_text,
         |  ${graft.text.Html.Sql.extractMainText("html", minStopFrac = 0.05)}
         |    AS main_text_stopgated,
         |  CAST(len(${graft.text.Html.Sql.blocks("html")}) AS INTEGER) AS n_blocks,
         |  ${graft.text.Html.Sql.stripMarkup("html")} AS full_text
         |FROM page""".stripMargin,
    // full repetition replay: the multi-line page rebuilt from the same
    // template, line counts via unnest+group, the top-2-gram pick as a
    // lexicographic struct max (c, len, gram — DuckDB struct ordering ≡
    // Spark struct max), dup-5-gram coverage as a position-set union
    // (parallel unnest zips positions with grams)
    "d41_repetition_filter" ->
      s"""WITH ml AS (SELECT doc_id, $multilineSql AS mtext FROM documents),
         |flat AS (SELECT doc_id, replace(mtext, chr(10), ' ') AS ftext FROM ml),
         |ln1 AS (SELECT doc_id, line FROM (
         |    SELECT doc_id, unnest(string_split(mtext, chr(10))) AS line FROM ml)
         |  WHERE length(trim(line)) > 0),
         |lc AS (SELECT doc_id, line, count(*) AS c FROM ln1 GROUP BY doc_id, line),
         |ls AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_lines,
         |    round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
         |      sum(c), 6) AS dup_line_frac,
         |    round(CAST(sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS DOUBLE) /
         |      greatest(sum(c * length(line)), 1), 6) AS dup_line_char_frac,
         |    round(CAST(sum(CASE WHEN ends_with(trim(line), '...')
         |        OR ends_with(trim(line), '…') THEN c ELSE 0 END) AS DOUBLE) /
         |      sum(c), 6) AS ellipsis_line_frac,
         |    round(CAST(sum(CASE WHEN starts_with(trim(line), '•')
         |        OR starts_with(trim(line), '‣') OR starts_with(trim(line), '▪')
         |        OR starts_with(trim(line), '- ') OR starts_with(trim(line), '* ')
         |        THEN c ELSE 0 END) AS DOUBLE) /
         |      sum(c), 6) AS bullet_line_frac
         |  FROM lc GROUP BY doc_id),
         |ft AS (SELECT doc_id,
         |    list_filter(string_split(ftext, ' '), x -> x <> '') AS t FROM flat),
         |g2 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |    THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
         |    ELSE [] END) AS g FROM ft),
         |g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
         |t2 AS (SELECT g2c.doc_id,
         |    max({'c': c, 'l': CAST(length(g) AS BIGINT), 'g': g}) AS top
         |  FROM g2c GROUP BY g2c.doc_id),
         |tc AS (SELECT doc_id,
         |    CAST(length(array_to_string(t, ' ')) AS BIGINT) AS total_chars,
         |    CAST(coalesce(list_sum([length(x) FOR x IN t]), 0) AS BIGINT) AS token_chars
         |  FROM ft),
         |tf AS (SELECT tc.doc_id,
         |    round(CAST(coalesce((t2.top).c * (t2.top).l, 0) AS DOUBLE) /
         |      greatest(tc.total_chars, 1), 6) AS top_ngram_frac
         |  FROM tc LEFT JOIN t2 ON tc.doc_id = t2.doc_id),
         |o5 AS (SELECT doc_id,
         |    unnest(CASE WHEN len(t) >= 5 THEN range(1, len(t) - 3) ELSE [] END) AS i,
         |    unnest(CASE WHEN len(t) >= 5
         |      THEN [array_to_string(t[j:j+4], ' ') FOR j IN range(1, len(t) - 3)]
         |      ELSE [] END) AS g FROM ft),
         |dup5 AS (SELECT doc_id, g FROM (
         |    SELECT doc_id, g, count(*) AS c FROM o5 GROUP BY doc_id, g) WHERE c > 1),
         |cov AS (SELECT DISTINCT doc_id, p FROM (
         |    SELECT o5.doc_id, unnest(range(o5.i, o5.i + 5)) AS p
         |    FROM o5 JOIN dup5 USING (doc_id, g))),
         |tl AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p,
         |    unnest([CAST(length(x) AS BIGINT) FOR x IN t]) AS tok_len FROM ft),
         |dc AS (SELECT cov.doc_id, sum(tok_len) AS dup_chars
         |  FROM cov JOIN tl USING (doc_id, p) GROUP BY cov.doc_id),
         |d5 AS (SELECT tc.doc_id,
         |    round(CAST(coalesce(dc.dup_chars, 0) AS DOUBLE) /
         |      greatest(tc.token_chars, 1), 6) AS dup_ngram_frac
         |  FROM tc LEFT JOIN dc ON tc.doc_id = dc.doc_id)
         |SELECT ls.doc_id, ls.n_lines, ls.dup_line_frac, ls.dup_line_char_frac,
         |  ls.ellipsis_line_frac, ls.bullet_line_frac,
         |  tf.top_ngram_frac, d5.dup_ngram_frac,
         |  (ls.dup_line_frac <= 0.30 AND ls.dup_line_char_frac <= 0.20 AND
         |   tf.top_ngram_frac <= 0.20 AND d5.dup_ngram_frac <= 0.15 AND
         |   ls.ellipsis_line_frac <= 0.30 AND ls.bullet_line_frac <= 0.90) AS keep
         |FROM ls JOIN tf ON ls.doc_id = tf.doc_id
         |JOIN d5 ON ls.doc_id = d5.doc_id""".stripMargin,
    // same page build, extraction + scheme split + domain replayed with
    // Html.Sql.extractLinks / Urls.Sql inside list lambdas
    "d40_link_graph" ->
      s"""WITH u AS (SELECT doc_id, source, $rawUrlSql AS url FROM documents),
         |p AS (SELECT doc_id,
         |  '<html><body><nav><a href="/">home</a></nav><p>see <a href="' || url ||
         |  '">ref</a> and <a href=''/docs/local''>local</a> for ' || source ||
         |  '</p></body></html>' AS html FROM u),
         |l AS (SELECT doc_id, ${graft.text.Html.Sql.extractLinks("html")} AS links FROM p),
         |a AS (SELECT doc_id, links,
         |  list_filter(links, h -> ${graft.text.Urls.Sql.urlScheme("h")} <> '') AS abs
         |FROM l)
         |SELECT doc_id,
         |  CAST(len(links) AS INTEGER) AS n_links,
         |  CAST(len(abs) AS INTEGER) AS n_abs,
         |  CASE WHEN len(abs) > 0
         |    THEN ${graft.text.Urls.Sql.registrableDomain(graft.text.Urls.Sql.urlHost("abs[1]"))}
         |    ELSE '' END AS domain
         |FROM a""".stripMargin,
    // same URL template, same regex passes (Urls.Sql); the broadcast
    // anti-join gate replays as NOT IN on the registrable domain
    "d39_url_canonicalize" ->
      s"""WITH u AS (SELECT doc_id, $rawUrlSql AS url FROM documents),
         |d AS (SELECT doc_id, url,
         |  ${graft.text.Urls.Sql.registrableDomain(graft.text.Urls.Sql.urlHost("url"))} AS domain
         |FROM u)
         |SELECT doc_id,
         |  ${graft.text.Urls.Sql.canonicalizeUrl("url")} AS url_canonical,
         |  domain
         |FROM d
         |WHERE domain NOT IN (${BlockedDomains.map(b => s"'$b'").mkString(", ")})""".stripMargin,
    // the whole crawl-rank composition replayed: page build (same
    // template), link extraction (Html.Sql), RFC 3986 resolution +
    // canonicalization on both endpoints (Urls.Sql), distinct
    // string-keyed edges, then g21's unrolled power-iteration CTE (3
    // rounds of double arithmetic; round(...,9) absorbs summation-order
    // ulps) with URLs as vertex ids — DuckDB groups/joins on the
    // strings where Spark runs on xxhash64 surrogates, which is exactly
    // the surrogate-fidelity check
    "d42_crawl_rank" -> {
      // resolve materializes in its own CTE so canonicalizeUrl's ~12
      // subexpression references multiply a COLUMN NAME, not the ~8 KB
      // resolve tree — the nested form made DuckDB's expression
      // executor allocate quadratically
      val canonSrc = graft.text.Urls.Sql.canonicalizeUrl("url")
      val canonDst = graft.text.Urls.Sql.canonicalizeUrl("resolved")
      val head =
        s"""WITH u AS (SELECT doc_id, source, $rawUrlSql AS url FROM documents),
           |p AS (SELECT url, $crawlPageSql AS html FROM u),
           |l AS (SELECT url,
           |  unnest(${graft.text.Html.Sql.extractLinks("html")}) AS href FROM p),
           |r AS (SELECT url,
           |  ${graft.text.Urls.Sql.resolve("url", "href")} AS resolved FROM l),
           |e0 AS (SELECT $canonSrc AS src, $canonDst AS dst FROM r),
           |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> '' AND dst <> ''),
           |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
           |routes AS (SELECT e.src, e.dst, 1.0 / od.od AS share
           |           FROM e JOIN od ON e.src = od.src),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
           |pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v)""".stripMargin
      val iters = (1 to 3).map { k =>
        s"""d$k AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM pr${k - 1}
           |        WHERE id NOT IN (SELECT src FROM od)),
           |c$k AS (SELECT r.dst AS id, sum(p.rank * r.share) AS contrib
           |        FROM pr${k - 1} p JOIN routes r ON p.id = r.src GROUP BY r.dst),
           |pr$k AS (SELECT v.id,
           |          ((1.0 - 0.85) / (SELECT n FROM nn)
           |            + (0.85 * (SELECT dm FROM d$k)) / (SELECT n FROM nn))
           |           + 0.85 * coalesce(c.contrib, 0.0) AS rank
           |         FROM v LEFT JOIN c$k c ON v.id = c.id)""".stripMargin
      }
      (head +: iters).mkString(",\n") +
        "\nSELECT id AS url, round(rank, 9) AS rank FROM pr3"
    },
    // the shared cluster closure + t02's bit-identical quality formula;
    // the survivor pick replayed as a window (quality DESC, doc_id ASC)
    // — equivalent to the Spark side's lexicographic struct max
    "d19_best_of_cluster" ->
      ("WITH RECURSIVE\n" + clusterClosureSql + ",\n" +
      s"""cl AS (SELECT m.doc_id, c.cluster_id FROM mem m JOIN comp c ON c.id = m.rep),
         |qt AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |qm AS (SELECT doc_id,
         |  CAST(len(t) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x))) AS DOUBLE) AS nstop,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         |  CAST(length(text) AS DOUBLE) AS ltext
         |  FROM qt),
         |q AS (SELECT doc_id,
         |  least(ntok/20.0, 1.0) * (1.0 - npunct/greatest(ltext,1.0))
         |    * (0.5 + least(nstop/greatest(ntok,1.0)*2.0, 0.5)) AS quality
         |  FROM qm),
         |j AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |                           ORDER BY q.quality DESC, cl.doc_id) AS rn,
         |        count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |      FROM cl JOIN q ON q.doc_id = cl.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, round(quality, 6) AS quality,
         |       n_members
         |FROM j WHERE rn = 1""".stripMargin),
    // composed pipeline: d01's dedup + t02's quality formula + t03's
    // argmax + d07's chunking, chained exactly like the Spark side
    "d08_pipeline" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |d0 AS (SELECT d.doc_id, d.text FROM documents d
         |       JOIN keep ON keep.doc_id = d.doc_id),
         |t0 AS (SELECT doc_id, text, $toksSql AS t FROM d0),
         |m AS (SELECT doc_id, t,
         |  CAST(len(t) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x))) AS DOUBLE) AS nstop,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         |  CAST(length(text) AS DOUBLE) AS ltext,
         |  CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','is'], x))) AS INTEGER) AS s_en,
         |  CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS INTEGER) AS s_de,
         |  CAST(len(list_filter(t, x -> list_contains(['el','la','de','y','es','un'], x))) AS INTEGER) AS s_es,
         |  CAST(len(list_filter(t, x -> list_contains(['le','la','et','les','est','un'], x))) AS INTEGER) AS s_fr,
         |  CAST(len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2','you3'], x))) AS INTEGER) AS s_zh
         |  FROM t0),
         |gated AS (SELECT doc_id, t FROM m
         |  WHERE round(least(ntok/20.0, 1.0) * (1.0 - npunct/greatest(ltext,1.0))
         |          * (0.5 + least(nstop/greatest(ntok,1.0)*2.0, 0.5)), 6) >= 0.5
         |    AND greatest(s_en, s_de, s_es, s_fr, s_zh) > 0),
         |nz AS (SELECT doc_id, t, len(t) AS n FROM gated WHERE len(t) > 0),
         |ch AS (SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |         t[i * 64 + 1 : (i + 1) * 64] AS c
         |       FROM nz, unnest(range(0, (n + 63) // 64)) AS u(i))
         |SELECT doc_id, chunk_idx, CAST(len(c) AS INTEGER) AS n_tokens,
         |       sha256(array_to_string(c, ' ')) AS sha256
         |FROM ch""".stripMargin,
    // same dirty-string construction, same three regexes in the same
    // order (URL, then email, then phone) with DuckDB's 'g' flag
    "t08_pii_redaction" ->
      """WITH a AS (SELECT doc_id,
        |  'see https://ex.com/p/' || doc_id || '?q=1 ' || substr(text, 1, 40)
        |  || ' mail u' || doc_id || '@ex-ample.org or call +1 (555) 01'
        |  || doc_id || ' now' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-. ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM a""".stripMargin,
    "t09_bm25" -> {
      val terms = Seq("hash", "merge", "window")
      // one BM25 summand, textually mirroring Search.bm25TopK's
      // fixed-order Column expression (left-assoc *,/ throughout)
      def s(i: Int) =
        s"""ln(1.0 + (CAST(n_docs AS DOUBLE) - df$i + 0.5) / (df$i + 0.5))
           |      * (tf$i * 2.2)
           |      / (tf$i + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
           |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))""".stripMargin
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(coalesce(max(CASE WHEN tok = '$t' THEN tf END), 0) AS DOUBLE) AS tf$i"
      }.mkString(",\n          ")
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(coalesce(max(CASE WHEN tok = '$t' THEN df END), 0) AS DOUBLE) AS df$i"
      }.mkString(",\n          ")
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM t0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM lens),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |         SELECT doc_id, unnest(t) AS tok FROM t0)
         |       WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
         |       GROUP BY doc_id, tok),
         |piv AS (SELECT doc_id,
         |          $tfCols
         |        FROM tf GROUP BY doc_id),
         |dfr AS (SELECT
         |          $dfCols
         |        FROM (SELECT tok, count(*) AS df FROM tf GROUP BY tok)),
         |scored AS (SELECT p.doc_id,
         |  round(${terms.indices.map(s).mkString("\n  + ")}, 6) AS bm25
         |  FROM piv p JOIN lens USING (doc_id) CROSS JOIN stats CROSS JOIN dfr)
         |SELECT doc_id, bm25, rnk FROM (
         |  SELECT doc_id, bm25,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 20""".stripMargin
    },
    "t10_bigram_lm" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM (
         |         SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t0)),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
         |sc AS (SELECT doc_id, (1000000 * cb) // cu AS p
         |       FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1))
         |SELECT doc_id, count(*) AS n_bigrams,
         |       CAST(sum(p) AS BIGINT) // count(*) AS avg_p
         |FROM sc GROUP BY doc_id""".stripMargin,
    // t10's exact-integer LM score + two d15-style exact quantile cuts
    "d21_ppl_buckets" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM (
         |         SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM t0)),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
         |uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
         |ps AS (SELECT doc_id, (1000000 * cb) // cu AS p
         |       FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1)),
         |lm AS (SELECT doc_id, CAST(sum(p) AS BIGINT) // count(*) AS avg_p
         |       FROM ps GROUP BY doc_id),
         |sc AS (SELECT d.doc_id, d.lang, lm.avg_p
         |       FROM documents d JOIN lm ON lm.doc_id = d.doc_id),
         |cc AS (SELECT lang, avg_p, count(*) AS c FROM sc GROUP BY lang, avg_p),
         |cw AS (SELECT lang, avg_p,
         |         sum(c) OVER (PARTITION BY lang ORDER BY avg_p
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(c) OVER (PARTITION BY lang) AS n
         |       FROM cc),
         |tlo AS (SELECT lang, min(avg_p) AS t_lo FROM cw
         |        WHERE cum >= CAST(ceil((1.0/3) * n) AS BIGINT) GROUP BY lang),
         |thi AS (SELECT lang, min(avg_p) AS t_hi FROM cw
         |        WHERE cum >= CAST(ceil((2.0/3) * n) AS BIGINT) GROUP BY lang)
         |SELECT sc.doc_id, sc.lang, sc.avg_p,
         |  CASE WHEN sc.avg_p >= thi.t_hi THEN 'head'
         |       WHEN sc.avg_p >= tlo.t_lo THEN 'middle'
         |       ELSE 'tail' END AS ppl_bucket
         |FROM sc JOIN tlo ON sc.lang = tlo.lang
         |JOIN thi ON sc.lang = thi.lang""".stripMargin,
    "t07_repetition" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS INTEGER)
         |    AS n_shingles,
         |  CAST(len($shinglesSql) AS INTEGER) AS n_distinct
         |  FROM t0)
         |SELECT doc_id, n_shingles, n_distinct,
         |  round(CASE WHEN n_shingles > 0
         |        THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE)
         |        ELSE 0.0 END, 6) AS rep_ratio
         |FROM m""".stripMargin,
    "d04_ngram_jaccard" ->
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS s FROM t0),
         |nz AS (SELECT doc_id, s, len(s) AS n FROM sh WHERE len(s) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |    / (a.n + b.n - len(list_intersect(a.s, b.s))) AS jaccard
         |FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |    / (a.n + b.n - len(list_intersect(a.s, b.s))) >= 0.4""".stripMargin,
    "t01_text_stats" ->
      s"""WITH t0 AS (SELECT doc_id, text, $toksSql AS t FROM documents)
         |SELECT doc_id,
         | CAST(len(t) AS INTEGER) AS n_tokens,
         | CAST(list_sum([greatest(1, CAST(ceil(len(x) / 4.0) AS BIGINT)) FOR x IN t])
         |      AS BIGINT) AS n_subwords,
         | CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS INTEGER) AS n_punct,
         | CAST(len(list_filter(t, x -> list_contains(
         |   ['the','a','an','of','and','to','in','is','it','on'], x))) AS INTEGER)
         |   AS n_stopwords
         |FROM t0""".stripMargin,
    "t02_quality" ->
      // same operation order as TextFunctions.qualityScore: every step is
      // a single IEEE-754 op on integer-derived doubles, so both engines
      // produce bit-identical values (no reassociation, no transcendentals)
      s"""WITH t0 AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS DOUBLE) AS ntok,
         |  CAST(len(list_filter(t, x -> list_contains(
         |    ['the','a','an','of','and','to','in','is','it','on'], x))) AS DOUBLE) AS nstop,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) AS npunct,
         |  CAST(length(text) AS DOUBLE) AS ltext
         |  FROM t0)
         |SELECT doc_id,
         |  round(least(ntok/20.0, 1.0) * (1.0 - npunct/greatest(ltext,1.0))
         |    * (0.5 + least(nstop/greatest(ntok,1.0)*2.0, 0.5)), 6) AS quality
         |FROM m""".stripMargin,
    "t03_langid" ->
      // argmax via sorted struct list: max by (score, code), ties toward
      // the lexicographically larger code — same rule as langId's
      // greatest(struct(s, l))
      s"""WITH t0 AS (SELECT doc_id, $toksSql AS t FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to','is'], x))) AS INTEGER) AS s_en,
         |  CAST(len(list_filter(t, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS INTEGER) AS s_de,
         |  CAST(len(list_filter(t, x -> list_contains(['el','la','de','y','es','un'], x))) AS INTEGER) AS s_es,
         |  CAST(len(list_filter(t, x -> list_contains(['le','la','et','les','est','un'], x))) AS INTEGER) AS s_fr,
         |  CAST(len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2','you3'], x))) AS INTEGER) AS s_zh
         |  FROM t0)
         |SELECT doc_id, s_en, s_de, s_es, s_fr,
         |  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
         |       ELSE (list_sort([{'s': s_en, 'l': 'en'}, {'s': s_de, 'l': 'de'},
         |                        {'s': s_es, 'l': 'es'}, {'s': s_fr, 'l': 'fr'},
         |                        {'s': s_zh, 'l': 'zh'}])[5]).l END AS predicted
         |FROM s""".stripMargin,
    "t04_fingerprint" ->
      "SELECT doc_id, sha256(text) AS sha256 FROM documents",
    // byte statistics as codepoint statistics — valid because the corpus
    // is pure ASCII (max codepoint 121, measured); mean is one exact
    // integer-sum division, entropy mirrored as ln(p)/ln(2) with
    // round(...,6) absorbing summation-order ulps
    "m02_frame_stats" ->
      """WITH t AS (SELECT doc_id AS media_id, text, length(text) AS n
        |           FROM documents),
        |f AS (SELECT media_id,
        |        CAST(i AS INTEGER) AS frame_idx,
        |        substr(text, CAST(i * 64 + 1 AS INTEGER), 64) AS fr
        |      FROM (SELECT media_id, text,
        |              unnest(range(0, (n + 63) // 64)) AS i FROM t)),
        |e AS (SELECT media_id, frame_idx, length(fr) AS nb,
        |        list_sum([ascii(substr(fr, CAST(j AS INTEGER), 1))
        |                  FOR j IN range(1, length(fr) + 1)]) AS s
        |      FROM f)
        |SELECT media_id, frame_idx, CAST(nb AS INTEGER) AS n_bytes,
        |  round(CAST(s AS DOUBLE) / nb, 6) AS mean_byte
        |FROM e""".stripMargin,
    "m01_media_features" ->
      """WITH t AS (SELECT doc_id AS media_id, text, length(text) AS n
        |           FROM documents),
        |e AS (SELECT media_id, n, ascii(substr(text, CAST(i AS INTEGER), 1)) AS byte
        |      FROM t, unnest(range(1, n + 1)) AS u(i)),
        |h AS (SELECT media_id, n, byte, count(*) AS c FROM e GROUP BY 1, 2, 3),
        |agg AS (SELECT media_id, n,
        |        sum(byte * c) AS tot,
        |        -sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n) / ln(2))
        |          AS ent
        |        FROM h GROUP BY 1, 2)
        |SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
        |  round(CAST(tot AS DOUBLE) / n, 6) AS mean_byte,
        |  round(ent, 6) AS byte_entropy
        |FROM agg""".stripMargin,
    "t06_term_stats" ->
      s"""WITH t0 AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tfreq AS (SELECT doc_id, tok, count(*) AS tf FROM t0 GROUP BY doc_id, tok),
         |dfreq AS (SELECT tok, count(*) AS df FROM tfreq GROUP BY tok)
         |SELECT doc_id, tok, tf, df, rnk FROM (
         |  SELECT t.doc_id, t.tok, t.tf, d.df,
         |         row_number() OVER (PARTITION BY t.doc_id
         |                            ORDER BY t.tf DESC, t.tok) AS rnk
         |  FROM tfreq t JOIN dfreq d USING (tok))
         |WHERE rnk <= 5""".stripMargin)
}
