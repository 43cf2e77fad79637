package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, all UDF-free:
  *
  *  - [[bruteForceTopK]] — exact scan: broadcast the (small) query set,
  *    score every (query, item) pair in one codegen'd map, rank with a
  *    per-query window. At 100 TB this is the correct *baseline*: one read
  *    of the corpus, no shuffle of the corpus itself (only the top-k rows
  *    shuffle into the window), and the broadcast keeps the join local.
  *  - [[lshTopK]] — random-hyperplane LSH: items and queries get a b-bit
  *    sign signature; candidates share a bucket with the query (equi-join
  *    on the bucket key instead of a cross product), then exact scoring
  *    within the bucket. The scale path when the query set is large.
  *  - [[ivfTopK]] — inverted-file: a coarse centroid per `label` (the
  *    embeddings table ships cluster labels; in the general case labels
  *    come from k-means), queries probe the `nprobe` nearest centroids,
  *    exact scoring only within probed cells. Classic IVF-Flat shape:
  *    corpus is pre-partitioned by cell, so a query touches ~nprobe/N of
  *    the data.
  *
  * Scoring uses a quantized integer dot product (`round(x*1000)` per
  * component) so results are exactly reproducible across engines and
  * summation orders — floating-point dot products differ in the last bits
  * between engines, which breaks top-k determinism for near-ties.
  */
object Ann {

  /** Exact integer dot product of two float vectors after per-component
    * quantization to 1e-3. Deterministic in any summation order.
    * Backed by the codegen'd [[graft.functions.QuantizedDot]] expression —
    * the equivalent `zip_with`+`aggregate` lambda form is interpreted and
    * ~20x slower per pair.
    */
  def quantizedDot(a: Column, b: Column): Column =
    graft.functions.QuantizedDot(a, b)

  /** Cosine similarity (double; for ranking where cross-engine bit
    * equality is not required).
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  /** Exact top-k neighbours for each query by quantized dot product.
    * Queries are broadcast; ties break on neighbour id. Output
    * (qid, nid, qdot).
    */
  def bruteForceTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val it = items.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val scored = it.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Metadata-PRE-filtered exact search: each query ranks only corpus
    * items sharing its `filterCol` value (the "search within my
    * tenant/language/shard" contract every production vector store
    * exposes). Pre-filtering beats post-filtering a global top-k exactly
    * when the filter is selective — a global-k post-filter can return
    * FEWER than k survivors, this never does while the group holds k.
    *
    * Scale shape: the filter key rides the broadcast equi-join, so each
    * corpus row scores against only the (usually few) queries of its own
    * group — selectivity CUTS work proportionally instead of adding a
    * post-pass — and the corpus still never shuffles; only narrow
    * (qid, nid, score) rows move into the per-query window. Output
    * (qid, nid, qdot), exact integer scores as [[bruteForceTopK]].
    */
  def filteredTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, filterCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(filterCol).as("fkey"))
    val it = items.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      col(filterCol).as("fkey"))
    val scored = it.join(broadcast(q), Seq("fkey"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Matryoshka-style two-stage search (Kusupati et al. 2022: nested
    * representations rank well on a dimension prefix): candidates are
    * generated with the quantized dot over only the first `prefixDims`
    * components, then the `shortlist` best per query are re-ranked with
    * the full-dimension exact dot.
    *
    * Why this is the memory-bound 100 TB shape: stage 1 streams a
    * prefix-projected corpus — `prefixDims`/dims of the bytes (8/64 = an
    * 8x smaller scan than [[bruteForceTopK]], and the projection prunes
    * at the parquet reader when the prefix is stored as its own column) —
    * and shuffles only narrow (qid, nid, score) rows into the per-query
    * window. Stage 2 touches full vectors for `shortlist` x |queries|
    * rows only, fetched by a broadcast semi-join against the shortlist,
    * so the wide corpus is never shuffled at all.
    *
    * Exact when `shortlist` >= corpus size; otherwise recall depends on
    * how front-loaded the embedding dimensions are (for MRL-trained
    * models the prefix IS a trained embedding). Deterministic on both
    * stages: integer dots, ties on neighbour id. Output (qid, nid, qdot)
    * with qdot the full-dimension quantized dot.
    */
  def prefixRerankTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      prefixDims: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      slice(col(vecCol), 1, prefixDims).as("qp"))
    val itPrefix = items.select(col(idCol).as("nid"),
      slice(col(vecCol), 1, prefixDims).as("np"))
    val w = Window.partitionBy(col("qid")).orderBy(col("pdot").desc, col("nid"))
    val short = itPrefix.join(broadcast(q.select(col("qid"), col("qp"))),
        col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qp"), col("np")).as("pdot"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("nid"))
    val full = items.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    full.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Scalar-quantized (int8-range) two-stage search — the standard
    * memory-compressed serving layout when PQ's codebook fit is not
    * wanted: every dimension is symmetrically quantized to
    * round(x·127/maxabs_d) (per-dimension corpus max-abs scales, an
    * exact max — no summation — so deterministic), candidates are ranked
    * by the integer dot of the quantized vectors, and the `shortlist`
    * best per query are re-ranked with the exact full-precision
    * [[quantizedDot]].
    *
    * Scale shape (100 TB): the scale fit is one columnar pass reduced to
    * dims rows (map-side partial max); candidate generation streams the
    * quantized corpus (1 byte of information per component vs 4 — the
    * stored form would be `array<tinyint>`) against broadcast quantized
    * queries, shuffling only narrow (qid, nid, score) rows; stage 2
    * fetches full vectors for shortlist × |queries| rows by broadcast
    * semi-join. The corpus itself never shuffles. Integer dots via the
    * codegen'd [[graft.functions.LongLongDot]].
    *
    * Output (qid, nid, qdot) with qdot the exact full-precision dot.
    */
  def sqInt8TopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val dimMax = items
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(max(abs(col("x").cast("double"))).as("mx"))
    val scales = dimMax.agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("scales"))
    def quantize(vec: Column): Column =
      zip_with(vec, col("scales"), (x, m) =>
        when(m > lit(0.0), round(x.cast("double") * lit(127.0) / m))
          .otherwise(lit(0.0)).cast("long"))
    val qq = queries.crossJoin(broadcast(scales))
      .select(col(idCol).as("qid"), quantize(col(vecCol)).as("qq"))
    val nq = items.crossJoin(broadcast(scales))
      .select(col(idCol).as("nid"), quantize(col(vecCol)).as("nq"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sdot").desc, col("nid"))
    val short = nq.join(broadcast(qq), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        graft.functions.LongLongDot(col("qq"), col("nq")).as("sdot"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("nid"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val full = items.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    full.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Sign-bit packing shared by [[binaryTopK]] and [[hybridRrfTopK]]:
    * `dim/32` words of 32 sign bits each (the MSB stays clear, so ANSI
    * i64 arithmetic never overflows while packing). */
  private def packSignBits(vec: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim / 32 - 1)), w =>
      aggregate(sequence(lit(0), lit(31)), lit(0L), (acc, j) =>
        acc * 2 + when(element_at(vec, (w * 32 + j + 1).cast("int")) > 0f, 1L)
          .otherwise(0L)))

  /** Binary (1-bit sign) quantized search: every vector packs to
    * `dim/32` sign-bit words, candidates rank by Hamming distance
    * (bit_count of XOR — 32× less scan than raw floats at dim 64), and
    * an exact re-rank of the shortlist recovers the true ranking — the
    * most aggressive point on the PQ / int8 / MRL compression ladder
    * and the usual first-stage filter for billion-vector stores.
    * Packing, XOR and popcount are exact integers, so a SQL oracle
    * replays the shortlist AND the re-rank bit for bit (ties on the
    * coarse Hamming score break to the smaller id on both engines).
    * 32 bits per word keeps the MSB clear — ANSI i64 arithmetic never
    * overflows while packing.
    */
  def binaryTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(dim % 32 == 0, s"dim must be a multiple of 32, got $dim")
    val short = hammingRanked(items, queries, idCol, vecCol, dim, shortlist)
      .select(col("qid"), col("nid"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val full = items.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    full.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Exact top-k by COSINE, cross-engine deterministic: the dot and both
    * squared norms are exact quantized integers, and the only float ops
    * are two `sqrt` and two divisions — each correctly rounded under
    * IEEE-754, in a fixed order (dot / |q| / |n|), so every engine
    * produces bit-identical scores. Output (qid, nid, cos).
    *
    * Same plan shape as [[bruteForceTopK]] (queries broadcast, corpus
    * never shuffles, one window per query partition); the per-item norm
    * is computed once on the corpus side before the join.
    */
  def bruteForceCosineTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    cosineRanked(items, queries, idCol, vecCol, k).drop("rn")

  /** [[bruteForceCosineTopK]] with the rank kept — (qid, nid, cos, rn)
    * — so rank consumers ([[hybridRrfTopK]]) don't pay a second
    * identical window to reconstruct it. */
  private def cosineRanked(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      quantizedDot(col(vecCol), col(vecCol)).as("qn2"))
    val it = items.select(col(idCol).as("nid"), col(vecCol).as("nv"),
      quantizedDot(col(vecCol), col(vecCol)).as("nn2"))
    val cosCol =
      quantizedDot(col("qv"), col("nv")).cast("double") /
        sqrt(col("qn2").cast("double")) / sqrt(col("nn2").cast("double"))
    val scored = it.join(broadcast(q), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), cosCol.as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** The coarse sign-bit Hamming ranking shared by [[binaryTopK]]'s
    * shortlist stage and [[hybridRrfTopK]]'s second retriever:
    * (qid, nid, ham, rn), rn ≤ k, ties on (ham, nid). */
  private def hammingRanked(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, k: Int): DataFrame = {
    val qb = queries.select(col(idCol).as("qid"),
      packSignBits(col(vecCol), dim).as("qw"))
    val nb = items.select(col(idCol).as("nid"),
      packSignBits(col(vecCol), dim).as("nw"))
    val hamming = aggregate(
      zip_with(col("qw"), col("nw"),
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
      lit(0L), _ + _)
    val w = Window.partitionBy(col("qid")).orderBy(col("ham"), col("nid"))
    nb.join(broadcast(qb), col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), hamming.as("ham"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Hybrid retrieval via Reciprocal-Rank Fusion (Cormack et al., SIGIR
    * 2009): two deliberately HETEROGENEOUS first-stage retrievers over
    * the same corpus — exact cosine and raw sign-bit Hamming (the
    * [[binaryTopK]] coarse stage, NOT its re-rank: re-ranked lists would
    * collapse back into the cosine order and fusion would add nothing) —
    * each contribute a top-`perList` ranking, and a candidate's fused
    * score is Σ_lists 1/(k0 + rank), k0 = 60 per the paper. RRF is the
    * standard way production search ensembles retrievers precisely
    * because it needs no score calibration: only RANKS cross lists, so
    * it fuses a float cosine with an integer Hamming distance without a
    * normalization model.
    *
    * The reciprocal is taken in exact integer micro-units —
    * `10^12 div (k0 + rank)` — so the fusion replays bit for bit in any
    * engine: with k0 = 60 and perList ≤ a few thousand, distinct ranks
    * keep distinct reciprocals (10^12/(k0+r) − 10^12/(k0+r+1) > 0 for
    * r+k0 < 10^6) and the sum of two terms stays far under i64. Ties in
    * the fused score (e.g. the symmetric single-list pattern) break to
    * the smaller id on both engines.
    *
    * Scale shape: both retrievers broadcast the query set and scan the
    * corpus without shuffling it (the Hamming scan reads 32× less than
    * the float scan — at 100 TB it is the cheap pass); everything after
    * the two per-query windows operates on |Q|·perList rows. The fusion
    * join is (qid, nid)-keyed on those tiny frames.
    *
    * Output: (qid, nid, rrf, rnk) — fused top `k` per query.
    */
  def hybridRrfTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      perList: Int, k: Int, k0: Int = 60): DataFrame = {
    // the fused pool holds up to 2·perList distinct candidates (the
    // lists need not overlap), so that is the meaningful bound on k
    require(k <= 2 * perList,
      s"k ($k) must be <= 2 * perList (= ${2 * perList})")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val cosList = cosineRanked(items, queries, idCol, vecCol, perList)
      .select(col("qid"), col("nid"), col("rn").as("rnk_a"))
    val hamList = hammingRanked(items, queries, idCol, vecCol, dim, perList)
      .select(col("qid"), col("nid"), col("rn").as("rnk_b"))
    val rrf =
      coalesce(expr(s"1000000000000 div ($k0 + rnk_a)"), lit(0L)) +
        coalesce(expr(s"1000000000000 div ($k0 + rnk_b)"), lit(0L))
    val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("nid"))
    cosList.join(hamList, Seq("qid", "nid"), "full_outer")
      .select(col("qid"), col("nid"), rrf.as("rrf"))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k)
  }

  /** Multi-table LSH approximate top-k: `tables` independent b-bit
    * hyperplane signatures; a candidate must share at least one table's
    * bucket with the query (explode tables -> equi-join on (table, bucket)
    * -> distinct pair), then exact quantized-dot scoring. More tables →
    * higher recall at linear signature cost; candidates never approach the
    * cross product. Output (qid, nid, qdot).
    */
  def lshTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 8, tables: Int = 8,
      portable: Boolean = false): DataFrame = {
    val bucketFn: Column => Column =
      if (portable) rhpBucketsPortable(_, bits, tables)
      else rhpBuckets(_, bits, tables)
    def bucketed(df: DataFrame, id: String, v: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        explode(bucketFn(col(vecCol))).as("bucket"))
    val it = bucketed(items, "nid", "nv")
    val q = bucketed(queries, "qid", "qv")
    val cands = it.join(broadcast(q), Seq("bucket"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("qv"), col("nid"), col("nv"))
      .dropDuplicates("qid", "nid")
    val scored = cands
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** One packed `(table << bits) | signBits` bucket key per hash table;
    * plane ids are (table * 64 + bit) so every table draws distinct
    * hyperplanes. Backed by the codegen'd
    * [[graft.functions.RhpBuckets]] expression.
    */
  def rhpBuckets(vec: Column, bits: Int, tables: Int): Column =
    graft.functions.RhpBuckets(vec, bits, tables)

  /** Cross-engine-reproducible buckets (sha256-derived integer
    * hyperplanes, exact integer sign dots) — same packing, oracle-able.
    * Backed by the codegen'd [[graft.functions.RhpBucketsPortable]].
    */
  def rhpBucketsPortable(vec: Column, bits: Int, tables: Int): Column =
    graft.functions.RhpBucketsPortable(vec, bits, tables)

  /** Exact-duplicate embedding groups at quantization granularity: vectors
    * whose 1e-3-quantized forms are identical — indistinguishable to every
    * scorer in this module, whose arithmetic runs on the quantized form —
    * collapse into one group. Output one row per group:
    * (groupCols..., rep_id = min member id, n_copies, ids sorted).
    *
    * One map-side-combinable groupBy keyed by the quantized vector (plus
    * `groupCols`); on a duplicate-heavy corpus this is the same
    * copy-cluster collapse [[graft.dedup.Dedup.exactGroups]] performs for
    * text.
    */
  def embeddingExactGroups(items: DataFrame, idCol: String, vecCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val qv = expr(
      s"transform(`$vecCol`, x -> cast(round(cast(x as double) * 1000) as bigint))")
    items.groupBy(groupCols.map(col) :+ qv.as("_qv"): _*)
      .agg(
        min(col(idCol)).as("rep_id"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("ids"))
      .drop("_qv")
  }

  /** Embedding-space near-duplicate pairs with exact-duplicate collapse —
    * the composition a duplicate-heavy corpus needs. A same-cell pair
    * query over raw vectors emits n_a * n_b rows for every pair of copy
    * clusters (quadratic in the copy count: the single worst query of the
    * 10x stress run); collapsing identical quantized vectors FIRST makes
    * the pair set grow with the number of DISTINCT vectors only. Output
    * (id_a, id_b, qdot, n_copies_a, n_copies_b): pairs among cluster
    * representatives with `qdot > minDot`, plus the copy counts that
    * expand a representative pair back to its member pairs (every member
    * scores identically by construction, so no information is lost).
    *
    * Plan: one groupBy keyed (cell, quantized vector), then the same
    * cell-pruned equi-self-join as the raw query but over the collapsed
    * frame. [[embeddingExactGroups]] exposes the rep -> members map.
    */
  def dedupedNearDupPairs(items: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minDot: Long): DataFrame = {
    val groups = items
      .select(col(labelCol).as("cell"), col(idCol).as("_id"), col(vecCol).as("_v"))
      .groupBy(col("cell"), expr(
        "transform(_v, x -> cast(round(cast(x as double) * 1000) as bigint))").as("_qv"))
      .agg(
        min(col("_id")).as("rep"),
        count(lit(1)).as("n_copies"),
        min_by(col("_v"), col("_id")).as("_rv"))
    groups.as("x").join(groups.as("y"),
        col("x.cell") === col("y.cell") && col("x.rep") < col("y.rep"))
      .select(
        col("x.rep").as("id_a"), col("y.rep").as("id_b"),
        quantizedDot(col("x._rv"), col("y._rv")).as("qdot"),
        col("x.n_copies").as("n_copies_a"), col("y.n_copies").as("n_copies_b"))
      .filter(col("qdot") > lit(minDot))
  }

  /** SemDeDup-style semantic dedup: CLUSTER assignment plus a one-
    * survivor-per-cluster keep flag over embedding space. Near-duplication
    * is not transitive, so pair output alone under-deletes; the
    * production contract is connected components of the near-dup pair
    * graph, every member keeping exactly one representative.
    *
    * Pipeline (all shapes proven elsewhere in the library): collapse
    * exactly-identical quantized vectors ([[embeddingExactGroups]]'s
    * groupBy — kills the quadratic copy-cluster blow-up), same-cell
    * near-dup pairs among representatives only (`qdot > minDot`), then
    * [[graft.algorithms.AlternatingConnectedComponents]] over the rep
    * graph; exact copies inherit their representative's component.
    *
    * Output (idCol, cluster_id, keep): `cluster_id` is the minimum member
    * id of the cluster (CC labels components by min rep id, and each rep
    * is already the min id of its copy group, so the min rep IS the min
    * member), `keep` = 1 exactly for the one member equal to it.
    * Throws IllegalStateException when the CC step needs more than
    * `maxIterations` rounds, rather than return partial clusters.
    */
  def semanticDedupClusters(items: DataFrame, idCol: String, vecCol: String,
      labelCol: String, minDot: Long, maxIterations: Int = 20): DataFrame = {
    import graft.core.{Columns, Graph}
    // CC iterates; don't recompute the collapse per round
    val groups = CheckpointPolicy.pin(items
      .select(col(labelCol).as("cell"), col(idCol).as("_id"), col(vecCol).as("_v"))
      .groupBy(col("cell"), expr(
        "transform(_v, x -> cast(round(cast(x as double) * 1000) as bigint))").as("_qv"))
      .agg(
        min(col("_id")).as("rep"),
        sort_array(collect_list(col("_id"))).as("ids"),
        min_by(col("_v"), col("_id")).as("_rv")))
    val pairs = groups.as("x").join(groups.as("y"),
        col("x.cell") === col("y.cell") && col("x.rep") < col("y.rep") &&
          quantizedDot(col("x._rv"), col("y._rv")) > lit(minDot))
      .select(col("x.rep").as(Columns.SRC), col("y.rep").as(Columns.DST))
    val cc = graft.algorithms.AlternatingConnectedComponents(maxIterations)
      .run(Graph(groups.select(col("rep").as(Columns.ID)), pairs, directed = false))
    // isolated reps never appear on the CC output — they label themselves
    groups
      .join(cc, groups("rep") === cc(Columns.ID), "left")
      .select(
        explode(col("ids")).as(idCol),
        coalesce(col(Columns.COMPONENT), col("rep")).as("cluster_id"))
      .withColumn("keep", (col(idCol) === col("cluster_id")).cast("int"))
  }

  /** IVF-Flat approximate top-k using `labelCol` as the coarse quantizer
    * cell: per-cell centroids, each query probes the `nprobe` nearest
    * cells, exact scoring within probed cells only. Output (qid, nid, qdot).
    *
    * Centroids are EXACT integers: the per-cell SUM of quantized
    * components plus the member count, never a floating-point mean. The
    * probe rank key is `dot(q(query), S_cell) / n_cell` — an exact i64
    * dot divided once by an exact count, a single correctly-rounded
    * IEEE-754 op — so cell selection is bit-identical across engines,
    * partitionings and retries (a float-mean centroid's last-ulp wobble
    * can flip which cell ranks nprobe-th).
    */
  def ivfTopK(
      items: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, nprobe: Int = 2): DataFrame = {
    // centroid per cell: positional explode -> quantized sum per
    // (cell, dim) -> repack in dim order, carrying the member count
    val comp = items.select(
      col(labelCol).as("cell"),
      posexplode(col(vecCol)).as(Seq("dim", "x")))
    // the member count n is the per-dim row count, which is well-defined
    // only when every vector in the cell has the same length — ragged
    // lengths would silently skew the probe divisor, so they raise instead
    // (min(nd) == max(nd) iff lengths are uniform; a separate
    // groupBy(cell).count() would re-run the whole upstream plan, which for
    // k-means-labelled items is the entire fit)
    val centroids = comp.groupBy(col("cell"), col("dim"))
      .agg(
        sum(expr("cast(round(cast(x as double) * 1000) as bigint)")).as("sx"),
        count(lit(1)).as("nd"))
      .groupBy(col("cell"))
      .agg(
        array_sort(collect_list(struct(col("dim"), col("sx")))).as("pairs"),
        min(col("nd")).as("_nmin"), max(col("nd")).as("_nmax"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("sx")).as("cs"),
        when(col("_nmin") === col("_nmax"), col("_nmax"))
          .otherwise(raise_error(concat(
            lit("graft.Ann.ivfTopK: ragged vector lengths in cell "),
            col("cell").cast("string"),
            lit(" — member count is ill-defined; pad or filter to uniform dims"))))
          .as("n"))

    // each query picks its nprobe closest centroids (centroid count is tiny)
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val probeW = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cell"))
    val probes = q.join(broadcast(centroids),
        expr("true"))
      .select(col("qid"), col("qv"), col("cell"),
        (graft.functions.FloatLongDot(col("qv"), col("cs")).cast("double") /
          col("n").cast("double")).as("score"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))

    val it = items.select(col(idCol).as("nid"), col(vecCol).as("nv"), col(labelCol).as("cell"))
    val scored = it.join(broadcast(probes), Seq("cell"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), quantizedDot(col("qv"), col("nv")).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Cell-balanced prototype selection — the curation primitive behind
    * SemDeDup/SSL-prototypes-style training-data pruning (Sorscher et al.
    * 2022; Abbas et al. 2023): cluster the corpus with the portable
    * k-means, then keep the `m` members CLOSEST to their own cell
    * centroid (ranked by the exact integer dot against the fitted
    * centroid sum — within a cell the member count is constant, so the
    * un-divided sum ranks identically to the mean). The complement reads
    * the same output: the highest ranks are the prototypes to keep (or
    * drop, for dedup-flavoured pruning); cells bound the per-concept
    * quota, which is what makes the sample DIVERSE rather than
    * frequency-weighted.
    *
    * Scale shape (100 TB): the fit reads a bounded sample; the corpus is
    * read ONCE, scored against the broadcast k centroids, and reduced by
    * one map-side-combinable argmin — the corpus never shuffles. Only
    * narrow (cell, id, dot) rows enter the top-m, which runs the
    * two-phase sharded window (a shard's top-m is a superset of its
    * members of the global top-m), so a giant cell never serializes
    * through one reducer.
    *
    * Fully engine-portable: sha256-Forgy seeds, integer-sum centroids,
    * exact i64 scores, (dot DESC, id) tiebreak. Output
    * (cell, rank, idCol, cdot), rank 1 = most prototypical.
    */
  def prototypes(items: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, maxIterations: Int = 5,
      fitSampleSize: Int = 0)
      : DataFrame = {
    val cent = KMeans.fitPortable(items, idCol, vecCol, k, maxIterations, fitSampleSize)
    val it = items.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    // single corpus pass: per (item, cell) the shared i64 dot feeds both
    // the assignment score (same formula as KMeans.assignPortable) and
    // the prototype rank; argmin keeps the owning cell and its dot
    val dotc = graft.functions.FloatLongDot(col("_v"), col("cs"))
    val score =
      (lit(-2L) * col("_dot")).cast("double") / col("n").cast("double") +
        col("ss").cast("double") / (col("n") * col("n")).cast("double")
    val owned = it
      .join(broadcast(cent.select(col("cell"), col("cs"), col("n"), col("ss"))))
      .select(col("_id"), col("cell"), dotc.as("_dot"), col("n"), col("ss"))
      .select(col("_id"), col("cell"), col("_dot"), score.as("_s"))
      .groupBy(col("_id"))
      .agg(min_by(struct(col("cell"), col("_dot")), struct(col("_s"), col("cell")))
        .as("_b"))
      .select(col("_id"), col("_b.cell").as("cell"), col("_b._dot").as("cdot"))
    val shards = 256L
    val wShard = Window
      .partitionBy(col("cell"), pmod(xxhash64(col("_id")), lit(shards)))
      .orderBy(col("cdot").desc, col("_id"))
    val wFinal = Window.partitionBy(col("cell"))
      .orderBy(col("cdot").desc, col("_id"))
    owned
      .withColumn("_srnk", row_number().over(wShard)).filter(col("_srnk") <= m)
      .withColumn("rank", row_number().over(wFinal)).filter(col("rank") <= m)
      .select(col("cell"), col("rank").cast("long").as("rank"),
        col("_id").as(idCol), col("cdot"))
  }

  /** SEMANTIC decontamination — the embedding-space complement of
    * [[graft.dedup.Dedup.evalContainment]]'s verbatim n-gram check: flag
    * corpus vectors whose similarity to ANY eval/benchmark vector
    * reaches `minDot` (paraphrased or re-templated leaks that shingle
    * containment misses). Output one row per FLAGGED corpus item:
    * (idCol, n_eval_hits, best_eval_id, best_dot), exact i64 quantized
    * dots with smallest-id tie-break.
    *
    * Scale shape: eval sets are benchmark-sized, so the honest 100 TB
    * plan is eval BROADCAST against a single corpus scan — cost linear
    * in the corpus, one combinable max(struct)+count per flagged item,
    * no corpus shuffle at all (the cross is |corpus|·|eval| multiply-
    * adds inside codegen, the e13/e14 "only broadcast crosses" shape).
    * An eval set too big to broadcast should go through the IVF/LSH
    * candidate paths instead ([[lshNearDupPairs]] family).
    */
  def semanticContamination(
      corpus: DataFrame, eval: DataFrame, idCol: String, vecCol: String,
      minDot: Long): DataFrame = {
    val ev = eval.select(col(idCol).as("_eid"), col(vecCol).as("_ev"))
    corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .crossJoin(broadcast(ev))
      .select(col("_id"), col("_eid"), quantizedDot(col("_v"), col("_ev")).as("_dot"))
      .filter(col("_dot") >= minDot)
      .groupBy(col("_id").as(idCol))
      .agg(
        count(lit(1)).as("n_eval_hits"),
        // (dot DESC, eid ASC) as one max: bitwise NOT is an overflow-free
        // order-reversing bijection on longs (~x = -x-1, total on the
        // whole domain incl. Long.MinValue, unlike arithmetic negation)
        max(struct(col("_dot").as("_d"), bitwise_not(col("_eid")).as("_ne"))).as("_b"))
      .select(col(idCol), col("n_eval_hits"),
        bitwise_not(col("_b._ne")).as("best_eval_id"), col("_b._d").as("best_dot"))
  }
}
