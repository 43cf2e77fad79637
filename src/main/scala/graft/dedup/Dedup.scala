package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines, from exact to
  * near-duplicate. All shapes are chosen for 100 TB operation:
  *
  *  - exact dedup is one hash-shuffle on the text (or its SHA) — the
  *    canonical map-side-combinable groupBy;
  *  - MinHash+LSH turns the O(N²) all-pairs problem into an
  *    explode-by-band + equi-join on bucket keys: the shuffle is keyed by
  *    (band, bucket-hash), so co-bucketed docs land on one reducer and
  *    unrelated docs never meet. Hot buckets (boilerplate docs) are the
  *    skew risk — AQE skew-join handles moderate cases; pathological
  *    buckets should be capped upstream;
  *  - SimHash near-dup uses the pigeonhole principle: a ≤ `maxDist`-bit
  *    difference forces at least one identical 16-bit chunk, so candidates
  *    come from an equi-join on (chunk-index, chunk-value);
  *  - exact n-gram Jaccard avoids the cross join with an inverted-index
  *    self-join on shingle, counting co-occurrences per pair.
  *
  * Signatures and buckets are all computed with `xxhash64` inside
  * whole-stage codegen — no UDFs anywhere.
  */
object Dedup {

  /** Scan-parallelism floor for the heavy per-row stages (guide §2.5,
    * input skew): a small corpus arrives as ONE parquet file, so the
    * scan plans one task and the shingling + signature compute — the
    * dominant cost of every near-dup operator — runs on one core of the
    * whole cluster (measured: d02's 4.1 s single job at sf0.1 on
    * local[32]). When the planned scan has fewer partitions than the
    * session's default parallelism, round-robin repartition the
    * PROJECTED (id, text) rows first — the shuffle moves each row once
    * and is negligible exactly when it triggers; a corpus-scale input
    * with ample file splits passes through untouched, so nothing is
    * hardcoded to local core counts. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** One row per distinct text: the id to keep (minimum), the copy count,
    * and the sorted duplicate ids.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("ids"))

  /** MinHash signature: element s is min over shingles of xxhash64(s, shingle).
    *
    * Lambda form — interpreted (Spark higher-order functions have no
    * codegen), so use only on small inputs; the scale path in
    * [[minhashDuplicates]] computes the same signature via exploded
    * shingles + per-seed `min(xxhash64(seed, shingle))` hash aggregation,
    * which stays in whole-stage codegen.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(shinglesCol, x => xxhash64(s, x))))

  /** Codegen'd MinHash signatures via the native
    * [[graft.functions.MinHashSig]] expression: one xxhash64 per item
    * plus `numHashes` splitmix64 mixes, computed per ROW — no explode,
    * no shuffle, no `numHashes`-column aggregation (the previous shape
    * shuffled one row per (doc, shingle) and ran 128 min-aggregates).
    * Output (id, sig: array<bigint>).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.select(col("id"),
      graft.functions.MinHashSig(col("sh"), numHashes).as("sig"))

  /** LSH bucket keys: the signature is cut into `bands` bands of
    * `rowsPerBand` hashes; each band hashes to one (band, bucket) key.
    */
  def lshBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        xxhash64(slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))).as("bucket")))

  /** Near-duplicate pairs by MinHash LSH, verified with exact shingle
    * Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= `threshold`.
    *
    * With numHashes=128, bands=32 (r=4) the candidate-recall curve crosses
    * ~0.5 at s ≈ (1/32)^(1/4) ≈ 0.42, so threshold 0.5+ pairs are caught
    * with high probability.
    */
  /** @param maxBucketSize when > 0, LSH buckets with more than this many
    *        members are DROPPED from candidate generation. A bucket of n
    *        docs contributes n(n-1)/2 candidate pairs, so one boilerplate
    *        cluster (license headers, templated pages) turns the bucket
    *        join quadratic at corpus scale; capping bounds every bucket's
    *        contribution. Precision is unaffected (the exact-Jaccard
    *        verify still runs); recall is lost only for pairs whose EVERY
    *        shared band is over the cap — i.e. large clusters of
    *        (near-)identical documents, which [[exactGroups]] catches
    *        more cheaply. 0 (default) = no cap, exact LSH semantics.
    */
  def minhashDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // shingle sets are reused by banding and the verify join
    val sh = CheckpointPolicy.pin(spread(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(
        col("id"),
        array_distinct(TextFunctions.shingles(TextFunctions.tokens(col("_t")), shingleSize))
          .as("sh"))
      .filter(size(col("sh")) > 0))

    // Signatures are materialized BEFORE band-slicing: inlining the
    // signature expression into lshBuckets would re-evaluate the full
    // interpreted 128-hash signature once per band (32x) per document.
    val allBuckets = minhashSignatures(sh, numHashes).select(
      col("id"),
      explode(lshBuckets(col("sig"), bands, r)).as("bk"))
    val buckets =
      if (maxBucketSize <= 0) allBuckets
      else {
        // one extra map-side-combinable count + a broadcastable join of
        // ONLY the hot keys (a tiny frame by construction)
        val hot = allBuckets.groupBy(col("bk")).agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxBucketSize)
          .select(col("bk"))
        allBuckets.join(broadcast(hot), Seq("bk"), "left_anti")
      }
    val cands = buckets.as("x")
      .join(buckets.as("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Result of [[Dedup.dedupedNearDuplicates]]:
    *  - `pairs` — (id_a, id_b, jaccard) near-duplicate pairs among the
    *    exact-dedup REPRESENTATIVES (minimum id per distinct text);
    *  - `copyClusters` — the [[exactGroups]] frame (keep_id, n_copies,
    *    ids) that expands a representative back to its exact copies.
    * Both are lazy plans over the same input; `copyClusters` shares the
    * one exact-dedup groupBy with the pair path.
    */
  final case class DedupedNearDuplicates(pairs: DataFrame, copyClusters: DataFrame)

  /** Exact-dedup first, near-dup second — the composition every
    * duplicate-heavy corpus needs, as a single API so callers don't
    * rediscover the quadratic trap in raw [[minhashDuplicates]]: a copy
    * cluster of n identical documents lands all n members in the same LSH
    * buckets, so candidate pairs (and the exact-Jaccard verify work) grow
    * as n^2 per cluster; collapsing clusters to their min-id
    * representative first removes that growth entirely while losing
    * nothing — every member of a cluster has the same shingle set, hence
    * the same Jaccard to everything. On the 10x stress corpus (90%
    * duplicates) this is 22-28 s vs 49-56 s for the raw path.
    *
    * On a duplicate-free corpus the representative set is the corpus and
    * `pairs` degenerates to exactly [[minhashDuplicates]]'s output.
    */
  def dedupedNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0): DedupedNearDuplicates = {
    val clusters = exactGroups(docs, idCol, textCol)
    val reps = clusters.select(col("keep_id").as(idCol))
    val pairs = minhashDuplicates(docs.join(reps, Seq(idCol)),
      idCol, textCol, shingleSize, numHashes, bands, threshold, maxBucketSize)
    DedupedNearDuplicates(pairs, clusters)
  }

  /** Fuzzy-dedup CLUSTER assignment — the step after pair generation that
    * production dedup actually needs: near-duplication is not transitive
    * (a~b and b~c does not imply a~c above threshold), so keeping "one doc
    * per pair" under-deletes; the standard remedy is to take connected
    * components of the near-dup pair graph and keep one document per
    * component.
    *
    * Composition, all reusing this library's own scale paths:
    *  1. [[dedupedNearDuplicates]] — exact-dedup collapses copy clusters,
    *     MinHash-LSH emits pairs among representatives only;
    *  2. [[graft.algorithms.AlternatingConnectedComponents]] over the pair
    *     graph — the O(log² n)-round edge-list CC (no vertex-frame Pregel
    *     state), fine for pair graphs whose components are document
    *     clusters;
    *  3. every exact copy inherits its representative's component.
    *
    * Output (idCol, cluster_id), ONE ROW PER INPUT DOCUMENT:
    * `cluster_id` is the minimum doc id of the merged
    * (exact ∪ transitive-near-dup) cluster; unique documents are their own
    * singleton cluster. Survivors = `groupBy(cluster_id).agg(min(idCol))`.
    * Throws IllegalStateException when the CC step needs more than
    * `maxIterations` rounds, rather than return partial clusters.
    *
    * 100 TB shape: the CC step runs on the PAIR graph only — pairs are a
    * vanishing fraction of the corpus — so the added cost over
    * [[dedupedNearDuplicates]] is a handful of joins over a small edge
    * list; the corpus itself is touched once more for the final expansion
    * join (broadcastable whenever the pair graph is small).
    */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0,
      maxIterations: Int = 20): DataFrame = {
    import graft.core.{Columns, Graph}
    val dd = dedupedNearDuplicates(docs, idCol, textCol,
      shingleSize, numHashes, bands, threshold, maxBucketSize)
    // CC iterates; don't recompute the dedup per round
    val reps = CheckpointPolicy.pin(dd.copyClusters
      .select(col("keep_id").as(Columns.ID), col("ids")))
    val edges = dd.pairs
      .select(col("id_a").as(Columns.SRC), col("id_b").as(Columns.DST))
    val cc = graft.algorithms.AlternatingConnectedComponents(maxIterations)
      .run(Graph(reps.select(col(Columns.ID)), edges, directed = false))
    // roots and isolated representatives never appear on the CC output's
    // id side — they label themselves
    reps
      .join(cc, Seq(Columns.ID), "left")
      .select(
        explode(col("ids")).as(idCol),
        coalesce(col(Columns.COMPONENT), col(Columns.ID)).as("cluster_id"))
  }

  /** Eval-set decontamination: per-document n-gram CONTAINMENT against a
    * reference corpus — |shingles(doc) ∩ shingles(eval)| / |shingles(doc)|
    * — the standard "did a benchmark leak into the training set?" check
    * (containment, not Jaccard: a 50-token eval question buried in a
    * 10k-token page scores ~1.0 here but near 0 on Jaccard).
    *
    * Output (idCol, n_shingles, n_hit, containment), one row per document
    * with at least one shingle.
    *
    * Plan shape for 100 TB: the eval side collapses to its DISTINCT
    * shingle set (eval benchmarks are tiny next to the corpus) and the
    * probe is a left-semi equi-join on the shingle — Spark broadcasts the
    * eval set when it fits, and the per-doc counts are one
    * map-side-combinable groupBy. The corpus is read once, no pair
    * explosion anywhere.
    */
  def evalContainment(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      shingleSize: Int = 3): DataFrame = {
    val docSh = spread(docs.select(col(idCol), col(textCol).as("_t")))
      .select(
        col(idCol),
        explode(array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col("_t")), shingleSize)))
          .as("_g"))
    val evalSh = spread(eval.select(col(evalTextCol).as("_t")))
      .select(
        explode(array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col("_t")), shingleSize)))
          .as("_g"))
      .distinct()
    val hits = docSh.join(evalSh, Seq("_g"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    docSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .as("containment"))
  }

  /** The hot-bucket cap shared by every pigeonhole candidate generator
    * ([[simhashDuplicates]], [[graft.multimodal.Multimodal.dHashNearDups]],
    * [[graft.streaming.MediaStream.indexCorpus]]): drop rows whose bucket
    * key has more than `maxBucketSize` members. One extra
    * map-side-combinable count plus a broadcast anti-join of ONLY the hot
    * keys (a tiny frame by construction — at most n/cap keys can be hot).
    * `maxBucketSize <= 0` is the identity.
    */
  def dropHotChunks(rows: DataFrame, key: Column, maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) rows
    else {
      val hot = rows.groupBy(key.as("_k")).agg(count(lit(1)).as("_n"))
        .filter(col("_n") > maxBucketSize)
        .select(col("_k"))
      rows.join(broadcast(hot), key === col("_k"), "left_anti")
    }

  /** 64-bit SimHash of the token multiset: bit b is set when the b-th bit
    * of the token hashes wins the weighted majority vote.
    *
    * SQL-lambda form, kept as the portable reference implementation —
    * higher-order functions are interpreted by Spark, so the hot path
    * ([[simhashDuplicates]]) uses the equivalent codegen'd
    * [[graft.functions.SimHash64]] expression instead (identical output:
    * same xxhash64 token hashing, same vote rule).
    */
  def simhashExpr(toksColName: String): Column =
    expr(
      s"""aggregate(
         |  transform(sequence(0, 63), b ->
         |    case when aggregate($toksColName, 0L, (acc, t) ->
         |           acc + case when (shiftright(xxhash64(t), b) & 1) = 1
         |                      then 1 else -1 end) > 0
         |         then shiftleft(1L, b) else 0L end),
         |  0L, (acc, x) -> acc | x)""".stripMargin)

  /** Near-duplicate pairs by SimHash Hamming distance <= maxDist (<= 3 for
    * the 4x16-bit pigeonhole to be exhaustive). Output
    * (id_a, id_b, hamming), id_a < id_b.
    *
    * `portableHash = true` signs with [[graft.functions.SimHashSha64]]
    * (sha256-prefix token hash — reproducible by any engine with sha256,
    * so the output is oracle-checkable) instead of the xxhash64-based
    * [[graft.functions.SimHash64]] throughput default.
    *
    * @param maxBucketSize when > 0, pigeonhole chunk buckets — (chunk
    *        index, 16-bit value) keys — with more than this many members
    *        are DROPPED from candidate generation, the
    *        [[minhashDuplicates]] `maxBucketSize` device. Degenerate
    *        populations are real: templated short docs simhash
    *        identically, so ONE hot chunk value turns that bucket's
    *        candidate join quadratic at corpus scale. Precision is
    *        unaffected (the exact XOR+popcount verify still runs); recall
    *        is lost only for pairs whose EVERY shared identical chunk is
    *        over the cap — i.e. members of large clusters of
    *        (near-)identical documents, which [[exactGroups]] catches
    *        more cheaply. 0 (default) = no cap, exact pigeonhole
    *        semantics.
    */
  def simhashDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      portableHash: Boolean = false,
      maxBucketSize: Int = 0): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole is exhaustive only for maxDist <= 3")
    val sig: Column => Column =
      if (portableHash) graft.functions.SimHashSha64(_)
      else graft.functions.SimHash64(_)
    val hashed = CheckpointPolicy.pin(docs.select(
      col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), sig(col("toks")).as("sh")))

    val allChunks = hashed.select(
      col("id"), col("sh"),
      explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c as c, shiftright(sh, c * 16) & 65535 as v))")).as("ck"))
    val chunks = dropHotChunks(allChunks, col("ck"), maxBucketSize)
    chunks.as("x")
      .join(chunks.as("y"), col("x.ck") === col("y.ck") && col("x.id") < col("y.id"))
      .select(
        col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Exact n-gram Jaccard >= threshold for ALL qualifying pairs.
    *
    * Candidate generation uses positional prefix filtering (AllPairs /
    * PPJoin, Xiao et al. WWW'08): shingles are globally ordered by
    * ascending document frequency (rarest first) and each document only
    * indexes its first `n - ceil(t*n) + 1` shingles — any pair with
    * Jaccard >= t must share a prefix shingle, so the inverted-index join
    * never touches the frequent tail shingles whose df^2 blow-up dominates
    * the naive join. Candidates are then verified with the exact
    * intersection, so the filter changes cost, not results.
    *
    * Sizing at scale: the prefix self-join and the exact-verify join move
    * WIDE rows (the hashed shingle arrays), so
    * `spark.sql.shuffle.partitions` must be sized to the corpus — the
    * 100x stress run OOM'd at one partition per core (~2M wide rows per
    * partition) and completed, 27.3M output pairs, at 8 partitions per
    * core. Like every operator here the parallelism lever is the
    * session's, not hardcoded; see BASELINE.md "100x self-scaled run".
    * On duplicate-heavy corpora compose with [[exactGroups]] /
    * [[dedupedNearDuplicates]] first — a copy cluster of n docs otherwise
    * costs n^2 candidate pairs.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Shingle sets are hashed to sorted long arrays up front: the exact
    // verify then runs array_intersect over primitive bigints (specialized
    // OpenHashSet path) instead of strings, and |A U B| = na + nb - inter
    // saves the second set operation. 64-bit collisions are negligible at
    // any realistic corpus size (~1e-11 at 1e9 distinct shingles... per pair).
    val sh = CheckpointPolicy.pin(spread(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(
        col("id"),
        array_distinct(TextFunctions.shingles(TextFunctions.tokens(col("_t")), shingleSize))
          .as("sh"))
      .filter(size(col("sh")) > 0)
      .select(
        col("id"),
        array_sort(transform(col("sh"), x => xxhash64(x))).as("h"),
        size(col("sh")).as("n"))) // reused by candidate generation AND the exact-verify join
    val inv = sh.select(col("id"), col("n"), explode(col("h")).as("g"))
    val df = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Bounds are computed as ceil(x - EPS): double rounding can land n*t a
    // few ulps ABOVE an exact integer (0.55*20 = 11.000000000000002), and a
    // plain ceil then overshoots the bound by 1, pruning pairs with J
    // exactly equal to the threshold. EPS (1e-7) dominates the ulp error of
    // any realistic n*t (< 1e-9 for n up to 1e6) while staying far below
    // genuine fractional parts; erring low only admits an extra candidate
    // for the exact verify — the filter must never change results.
    val EPS = 1e-7
    def ceilSafe(x: org.apache.spark.sql.Column) = ceil(x - lit(EPS)).cast("int")
    // rarest-first global order; (df, g) is a total order so prefixes are
    // deterministic
    val prefix = inv.join(df, Seq("g"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .filter(col("rn") <= col("n") - ceilSafe(col("n") * threshold) + 1)
      .select(col("id"), col("n"), col("rn"), col("g"))
    val cands = prefix.as("x")
      .join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
          // length filter: t*|y| <= |x| and t*|x| <= |y| is necessary for J >= t
          col("x.n") >= ceilSafe(col("y.n") * threshold) &&
          col("y.n") >= ceilSafe(col("x.n") * threshold) &&
          // positional filter (PPJoin): tokens after this shared one bound
          // the overlap; J >= t needs overlap >= ceil(t/(1+t) * (nx+ny))
          least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) + 1 >=
            ceilSafe((col("x.n") + col("y.n")) * (threshold / (1 + threshold))))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // no broadcast hint: sh is the full corpus — AQE broadcasts it when
    // small, shuffles on id when not
    cands
      .join(sh.select(col("id").as("id_a"), col("h").as("h_a"), col("n").as("na")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("h").as("h_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("h_a"), col("h_b"))))
      .select(
        col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-document duplicated-SPAN coverage — the substring-level
    * complement of document-level dedup (cf. Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": verbatim
    * repeated spans hurt LMs even when the containing documents differ).
    * A position is *duplicated* when its `n`-token span occurs at least
    * one more time anywhere in the corpus, and *cross-duplicated* when it
    * also occurs in a DIFFERENT document.
    *
    * Output: (idCol, n_spans, n_dup_spans, n_cross_dup_spans) — the
    * fractions to filter/trim on are ratios of these exact counts.
    * Documents shorter than `n` tokens yield n_spans = 0.
    *
    * Scale shape (100 TB): positional spans are hashed to 64-bit longs so
    * the wide token text never shuffles; one map-side-combinable groupBy
    * builds the span inventory ((hash) -> occurrences, min/max doc — the
    * min!=max trick detects cross-document occurrence without a
    * countDistinct's second shuffle); one equi-join flags positions and a
    * final groupBy(id) folds per-document counts. No window over the
    * corpus, no driver state; skewed boilerplate spans are absorbed by
    * partial aggregation (count/min/max are all decomposable).
    */
  /** Duplicated-span REMOVAL — the cleaned-corpus follow-through of
    * [[duplicatedSpanStats]]'s inventory (Lee et al. 2022's
    * exact-substring dedup step: cut verbatim repeated spans, keep ONE
    * canonical occurrence corpus-wide so boilerplate survives exactly
    * once instead of vanishing).
    *
    * Contract: a token position is REMOVED when it is covered by an
    * `n`-token span occurrence that (a) occurs at least twice in the
    * corpus and (b) is not that span's canonical occurrence — the
    * globally minimal (doc, position). Overlapping removals merge
    * naturally (position sets union); the cleaned text is the kept
    * tokens re-joined with single spaces (token-normalized output — the
    * inventory side already tokenizes on whitespace, so original
    * spacing is not reconstructible, nor wanted, in a training corpus).
    * Output: (idCol, clean_text, n_kept, n_removed), one row per input
    * document; sub-`n`-token documents pass through token-joined with
    * n_removed = 0.
    *
    * Scale shape (100 TB): the SPAN INVENTORY NEVER MOVES TEXT. Spans
    * hash to 64-bit keys ([[duplicatedSpanStats]]'s device), the
    * inventory is one map-side-combinable groupBy carrying
    * (count, min(id, pos)) — the canonical pick is a plain struct min,
    * no second shuffle — and the non-canonical occurrences explode to a
    * per-doc REMOVED-POSITION SET (duplicated positions only, a
    * vanishing fraction of a healthy corpus). The corpus text touches
    * exactly ONE join — the final splice against that small
    * (id, positions) frame: a broadcast (text stays put) when the
    * removal set fits, one id-keyed shuffle of the corpus when it does
    * not. The splice itself is an indexed `filter` + `array_join`
    * inside codegen.
    */
  def removeDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    // the canonical occurrence is a single combinable min over the
    // (id, pos) STRUCT — lexicographic struct ordering, total for the
    // whole i64 id range (an id*2^31+pos encoding would overflow under
    // ANSI — snowflake/offset ids routinely exceed 2^32 — and wrap into
    // canonical-key collisions without it)
    val base = docs.select(col(idCol).as("id"), col(textCol).as("_t"))
    val spans = base.select(
      col("id"),
      posexplode(TextFunctions.shingles(TextFunctions.tokens(col("_t")), n)))
      .toDF("id", "pos", "g")
      .select(col("id"), col("pos"), xxhash64(col("g")).as("h"))
    val inv = spans.groupBy(col("h")).agg(
      count(lit(1)).as("occ"),
      min(struct(col("id"), col("pos"))).as("canon"))
    val removed = spans.join(inv, Seq("h"))
      .filter(col("occ") > 1 &&
        !(col("id") === col("canon.id") && col("pos") === col("canon.pos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("p"))).as("rm"))
    base.select(col("id"), TextFunctions.tokens(col("_t")).as("t"))
      .join(removed, Seq("id"), "left")
      .select(col("id"), col("rm"),
        filter(col("t"), (_, i) =>
          !coalesce(array_contains(col("rm"), i), lit(false))).as("_kept"))
      .select(
        col("id").as(idCol),
        array_join(col("_kept"), " ").as("clean_text"),
        size(col("_kept")).cast("long").as("n_kept"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"))
  }

  /** Dedup-FIRST span removal — [[removeDuplicatedSpans]] composed with
    * [[exactGroups]], the same composition [[dedupedNearDuplicates]]
    * applies to near-dup detection and for the same reason: on a
    * copy-heavy corpus the raw operator pays the span inventory once
    * per COPY (and cuts every non-canonical copy down to nothing, span
    * by span — document-level work done at substring-level prices).
    * Here exact copies collapse first, the span inventory runs over
    * DISTINCT texts only, and every copy inherits its representative's
    * cleaned text — the semantics a real pipeline wants (exact dedup
    * precedes substring dedup in Lee et al.'s own ordering). On the
    * 90%-copies stress corpus this is ~8x the raw path's throughput.
    *
    * Output: (idCol, clean_text, n_kept, n_removed), one row per input
    * document — copies carry their representative's counts.
    */
  def removeDuplicatedSpansDeduped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    // collapse on the sha256 digest, not the raw text ([[exactGroups]]
    // groups by the text column itself — fine for its report shape, but
    // here the collapse is plumbing and 32-byte digests shuffle where
    // documents must not: the DedupIndex.build device). Copies expand
    // back through a digest-keyed JOIN, never a collect_list of the
    // cluster's ids: on exactly the copy-heavy corpus this operator
    // targets, one distinct text can hold ~10^9 copies, and an id array
    // would put the whole cluster on a single aggregation task (the
    // hot-key hazard [[containmentPairsDeduped]] also avoids by
    // carrying only counts).
    // reused: cluster minima AND the expansion join
    val keyed = CheckpointPolicy.pin(docs
      .select(col(idCol).as("id"), sha2(col(textCol), 256).as("_th")))
    val clusters = keyed
      .groupBy(col("_th"))
      .agg(min(col("id")).as("keep_id"))
    val reps = docs.select(col(idCol).as("id"), col(textCol))
      .join(clusters.select(col("keep_id").as("id")), Seq("id"), "left_semi")
    val cleaned = removeDuplicatedSpans(
      reps.withColumnRenamed("id", idCol), idCol, textCol, n)
      .withColumnRenamed(idCol, "keep_id")
    keyed
      .join(clusters, Seq("_th"))
      .join(cleaned, Seq("keep_id"))
      .select(
        col("id").as(idCol),
        col("clean_text"), col("n_kept"), col("n_removed"))
  }

  /** ASYMMETRIC containment — the near-duplication Jaccard misses: a
    * short document wholly quoted inside a long one scores a LOW Jaccard
    * (the union is dominated by the long doc) but containment
    * |A∩B| / |A| ≈ 1. Production pipelines run this as the quote /
    * superset detector next to the symmetric near-dup pass. Exact, not
    * sketched: per-doc DISTINCT shingle sets, shared-shingle counts by
    * equi-join on the 64-bit shingle hash, containment kept as an
    * integer comparison (shared·100 ≥ n_a·pct — no float ever) and
    * reported milli-exact via integral division (the g52/g53 `div`
    * convention). Both directions emit — A-in-B and B-in-A have
    * different denominators by design.
    *
    * Scale shape: the join is keyed on shingle hashes, so the work is
    * bounded by TRUE overlap mass, not |docs|² — except for hot
    * shingles (boilerplate n-grams present in thousands of documents),
    * which would make that hash's pair list quadratic. Those take the
    * [[minhashDuplicates]] `maxBucketSize` device: shingles in more
    * than `maxShingleDocs` documents are dropped from candidate
    * generation via a broadcast anti-join of the (tiny by construction)
    * hot-key frame. The recall contract is conservative in the right
    * direction: the DENOMINATOR still counts every shingle of A, so a
    * capped run can only UNDER-state containment (never flag a false
    * quote), and a pair is missed entirely only when every shared
    * shingle is boilerplate-hot — a pair [[exactGroups]] or the
    * near-dup pass catches more cheaply. Cap 0 = exact semantics.
    *
    * Output: (id_a, id_b, shared, n_a, cont_milli) — one row per
    * ordered pair with shared·100 ≥ n_a·minContainmentPct.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minContainmentPct: Int = 80,
      maxShingleDocs: Int = 0): DataFrame = {
    require(minContainmentPct >= 1 && minContainmentPct <= 100,
      s"minContainmentPct must be in [1,100], got $minContainmentPct")
    val sh = CheckpointPolicy.pin(spread(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(
        col("id"),
        explode(array_distinct(
          TextFunctions.shingles(TextFunctions.tokens(col("_t")), n))).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))) // reused: sizes, hot count, both join sides
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_a"))
    val cold =
      if (maxShingleDocs <= 0) sh
      else {
        val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("_d"))
          .filter(col("_d") > maxShingleDocs)
          .select(col("h"))
        sh.join(broadcast(hot), Seq("h"), "left_anti")
      }
    cold.as("a")
      .join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .filter(col("shared") * 100 >= col("n_a") * minContainmentPct)
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        expr("(1000 * shared) div n_a").as("cont_milli"))
  }

  /** Dedup-FIRST containment — [[containmentPairs]] composed with the
    * sha-digest collapse (the d09/d30 ordering): exact copies carry no
    * containment information beyond what [[exactGroups]] already
    * reports, but they multiply every true quote pair by
    * copies(A)·copies(B) and push every shared shingle's document
    * frequency toward the hot cap (on a copy-heavy corpus the raw
    * operator ends up capping EVERYTHING — refusing the quadratic work,
    * correctly, but reporting nothing). Collapsing to min-id
    * representatives first keeps shingle frequencies at their
    * distinct-text values, so the cap bites only GENUINE boilerplate
    * and the pair list is one row per distinct-text pair.
    *
    * Output: [[containmentPairs]] columns over representative ids, plus
    * copies_a/copies_b — the copy counts a consumer multiplies back.
    */
  def containmentPairsDeduped(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minContainmentPct: Int = 80,
      maxShingleDocs: Int = 0): DataFrame = {
    val clusters = CheckpointPolicy.pin(
      spread(docs.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"), sha2(col("_t"), 256).as("_th"))
      .groupBy(col("_th"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"))) // reused: the rep semi-join AND both copy joins
    val reps = docs.select(col(idCol).as("id"), col(textCol))
      .join(clusters.select(col("keep_id").as("id")), Seq("id"), "left_semi")
      .withColumnRenamed("id", idCol)
    containmentPairs(reps, idCol, textCol, n, minContainmentPct, maxShingleDocs)
      .join(clusters.select(col("keep_id").as("id_a"),
        col("copies").as("copies_a")), Seq("id_a"))
      .join(clusters.select(col("keep_id").as("id_b"),
        col("copies").as("copies_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
        col("cont_milli"), col("copies_a"), col("copies_b"))
  }

  def duplicatedSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val spans = docs.select(
      col(idCol).as("id"),
      TextFunctions.shingles(TextFunctions.tokens(col(textCol)), n).as("sp"))
      .select(col("id"), explode(col("sp")).as("g"))
      .select(col("id"), xxhash64(col("g")).as("h"))
    val inventory = spans.groupBy(col("h")).agg(
      count(lit(1)).as("occ"),
      min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val perDoc = spans.join(inventory, Seq("h"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L))
          .as("n_cross_dup_spans"))
    // restore sub-n-token documents (explode drops their empty span
    // arrays) with explicit zero counts
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_cross_dup_spans"), lit(0L)).as("n_cross_dup_spans"))
  }
}
