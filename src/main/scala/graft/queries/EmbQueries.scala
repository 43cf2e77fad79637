package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{Ann, KMeans}

/** Similarity-search queries over the `embeddings` table (64-dim float
  * vectors with a cluster `label`), plus embedding-space near-dup.
  *
  * Every query here — exact (e01) AND the approximate variants (LSH,
  * IVF, PQ, …) — is a full-hash oracle row in CORRECTNESS: since the
  * portable-arithmetic work (r9–r11) the bucket/centroid/codebook math
  * is bit-reproducible in DuckDB, so the oracle replays the SAME
  * candidate generation, not just the exact baseline. Recall contracts
  * vs e01 are additionally pinned in AnnSpec.
  */
object EmbQueries {
  import Tables._

  private val K = 5
  private val NQUERIES = 10
  /** e05's k-means fit sample: smaller than every sf's embeddings table,
    * so the sampled-Lloyd path is genuinely exercised (sf0.01 ships 2000
    * vectors). */
  private val FitSample = 1000
  /** e09's PQ shape: 2 subspaces of 32 dims, 8 codes each, 2 Lloyd rounds
    * on the shared [[FitSample]] sample — small enough that the oracle's
    * m unrolled fit replays stay readable, large enough that codes are
    * non-trivial (64 distinct code pairs). */
  private val PqM = 2
  private val PqKsub = 8
  private val PqIters = 2
  /** e11's shortlist: 4x the final k, the usual re-rank overprovision. */
  private val RerankShortlist = 20
  /** e13's Matryoshka shape: rank on an 8-dim prefix (1/8 of the scan
    * bytes), re-rank the 50 best per query with all 64 dims. */
  private val MrlPrefixDims = 8
  private val MrlShortlist = 50
  /** e16's prototype shape: 8 cells, 3 Lloyd rounds on the shared fit
    * sample, 20 prototypes per cell. */
  private val ProtoK = 8
  private val ProtoIters = 3
  private val ProtoM = 20

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") < NQUERIES)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e01_knn_exact" -> ((s, d) =>
      Ann.bruteForceTopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", K)),

    "e02_knn_lsh" -> ((s, d) =>
      // oracle-checked end to end: portable sha256-derived hyperplanes +
      // exact integer sign dots let DuckDB replay bucketing, candidate
      // generation, and the exact top-k bit for bit; the float-dot
      // RhpBuckets path stays spec-covered (recall contract)
      Ann.lshTopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", K, bits = 6, tables = 16, portable = true)),

    "e03_knn_ivf" -> ((s, d) =>
      // oracle-checked end to end: centroids are exact integer sums and
      // the probe rank key is one correctly-rounded division, so DuckDB
      // replays cell selection AND the in-cell top-k bit for bit
      Ann.ivfTopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", "label", K, nprobe = 3)),

    "e05_knn_ivf_kmeans" -> ((s, d) => {
      // oracle-checked end to end IN THE 100 TB SHAPE: the PORTABLE
      // k-means (sha256-Forgy seeds, integer-sum centroids, fixed
      // iteration count) runs its Lloyd rounds on a bounded
      // deterministic sample — the fitSampleSize smallest (sha256(id),
      // id) vectors, a pure ORDER BY/LIMIT any engine can replay — and
      // reads the corpus exactly once, for the final assignment. DuckDB
      // replays the sampled fit round by round, then the IVF probe +
      // top-k on the learned cells — the strongest correctness signal
      // the learned-quantizer path can have. The farthest-first
      // fitPredict keeps its recall contract in the ScalaTest spec.
      val emb = embeddings(s, d)
      val labels = KMeans.fitPredictPortable(
        emb, "vec_id", "embedding", k = 10, maxIterations = 5,
        fitSampleSize = FitSample)
      val items = emb.select(col("vec_id"), col("embedding"))
        .join(labels, Seq("vec_id"))
      Ann.ivfTopK(items, items.filter(col("vec_id") < NQUERIES),
        "vec_id", "embedding", "cell", K, nprobe = 3)
    }),

    "e06_knn_ivf_full_probe" -> ((s, d) => {
      // oracle-checkable IVF identity: probing EVERY learned cell makes
      // the candidate set the full corpus, so KMeans.fit + ivfTopK must
      // reproduce the exact top-k bit-for-bit — an end-to-end oracle row
      // for the whole IVF machinery (the approximate nprobe < cells paths
      // e03/e05 stay rows-only with recall specs). The fit runs in the
      // 100 TB shape — Lloyd rounds on a bounded deterministic sample,
      // the corpus read once by the final assignment — which the oracle
      // tolerates by construction: full probe is exact under ANY fit
      val emb = embeddings(s, d)
      val labels = KMeans.fitPredict(emb, "vec_id", "embedding", k = 10, maxIterations = 3,
        fitSampleSize = 1000)
      val items = emb.select(col("vec_id"), col("embedding"))
        .join(labels, Seq("vec_id"))
      Ann.ivfTopK(items, items.filter(col("vec_id") < NQUERIES),
        "vec_id", "embedding", "cell", K, nprobe = 10)
    }),

    "e15_filtered_knn" -> ((s, d) =>
      // metadata-pre-filtered exact search: each query ranks only the
      // vectors of its own `label` group (tenant/language-scoped vector
      // search). The filter key rides the broadcast equi-join — work
      // SHRINKS with selectivity, the corpus never shuffles, and the
      // integer scores stay oracle-exact
      Ann.filteredTopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", "label", K)),

    "e16_prototypes" -> ((s, d) =>
      // cell-balanced prototype selection (SemDeDup/SSL-prototypes
      // curation): portable k-means cells, then the 20 members closest
      // to their own fitted centroid per cell — the diversity-bounded
      // keep set. Oracle-checked end to end: the sampled fit, the
      // argmin assignment, and the exact i64 centroid dots all replay
      // bit for bit; DuckDB ranks with the same (dot DESC, id) window.
      Ann.prototypes(embeddings(s, d), "vec_id", "embedding",
        k = ProtoK, m = ProtoM, maxIterations = ProtoIters,
        fitSampleSize = FitSample)),

    "e19_binary_hamming" -> ((s, d) => {
      // binary sign-bit search: 2 packed words per 64-dim vector (32x
      // less candidate-scan than raw floats), Hamming shortlist via
      // XOR+popcount, exact re-rank of the 50 survivors — the most
      // aggressive point on the compression ladder, fully
      // integer-exact so the oracle replays both stages
      val items = embeddings(s, d)
      Ann.binaryTopK(items, items.filter(col("vec_id") < NQUERIES),
        "vec_id", "embedding", dim = 64, k = K, shortlist = 50)
    }),

    "e22_persisted_ivf" -> ((s, d) => {
      // the write-once-probe-everywhere face for vectors (the d24 story
      // applied to ANN): build the IVF index — portable k-means fit,
      // one full-corpus labelling, full-membership centroid sums — then
      // persist cells PARTITIONED BY cell and probe the STORED tables:
      // the probe plan has no fit, no centroid aggregation, and prunes
      // its scan to the probed cells (dynamic partition pruning).
      // Contract: build+probe ≡ e05's direct kmeans-IVF path bit for
      // bit, so the oracle is the same end-to-end replay.
      val emb = embeddings(s, d)
      val name = "graft_ann_idx_" +
        java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(d).toLong & 0xffffffffL)
      // build pins centroids and cells, which share the fit lineage:
      // writePartitioned runs one action per table, so unpinned each
      // write would re-run the whole k-means fit (measured 5x the
      // pinned cost)
      val idx = graft.similarity.AnnIndex.build(
        emb, "vec_id", "embedding", k = 10, maxIterations = 5,
        fitSampleSize = FitSample)
      graft.similarity.AnnIndex.writePartitioned(idx, name)
      graft.similarity.AnnIndex.readPartitioned(s, name)
        .topK(emb.filter(col("vec_id") < NQUERIES), "vec_id", "embedding",
          K, nprobe = 3)
    }),

    "e23_index_delete" -> ((s, d) => {
      // the vector DELETION face under the value gate — e22's mirror
      // and d37/g59's vector twin: build the IVF index on the FULL
      // corpus, persist cells partitioned, physically erase the 10%
      // slice (plus ids that never existed — must no-op) through
      // deletePartitioned — only the touched cell partitions rewrite,
      // emptied cells drop, quantizer FROZEN — and probe the stored
      // tables. Oracle = the e05 replay with the fit on the full corpus
      // and the probed cells filtered: delete never refits (mutating
      // the sums would change historical probe rankings), so what
      // remains must rank exactly as the frozen quantizer says.
      val emb = embeddings(s, d)
      val name = s"e23del_${d.hashCode & 0x7fffffff}"
      val idx = graft.similarity.AnnIndex.build(
        emb, "vec_id", "embedding", k = 10, maxIterations = 5,
        fitSampleSize = FitSample)
      graft.similarity.AnnIndex.writePartitioned(idx, name)
      // queries stay the raw table rows — erasing a query's own vector
      // from the INDEX only stops it being a neighbour, same as the
      // oracle's probe filter says
      val del = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
        .select(col("vec_id"))
        .unionByName(s.range(1, 4).select((-col("id")).as("vec_id")))
      graft.similarity.AnnIndex.deletePartitioned(s, name, del, "vec_id")
      graft.similarity.AnnIndex.readPartitioned(s, name)
        .topK(emb.filter(col("vec_id") < NQUERIES), "vec_id", "embedding",
          K, nprobe = 3)
    }),

    "e21_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: Reciprocal-Rank Fusion of two heterogeneous
      // retrievers — exact cosine and raw sign-bit Hamming (the coarse
      // binary stage, a genuinely different signal) — per-list rank 10,
      // fused top-5, reciprocals in exact integer micro-units
      // (10^12 div (60 + rank)) so the fusion replays bit for bit
      val items = embeddings(s, d)
      Ann.hybridRrfTopK(items, items.filter(col("vec_id") < NQUERIES),
        "vec_id", "embedding", dim = 64, perList = 10, k = K)
    }),

    "e18_mmr_rerank" -> ((s, d) => {
      // MMR diversity re-rank at λ=1/2: 5 greedy selections per query
      // from a 20-candidate relevance shortlist, objective and
      // similarities all exact i64 quantized dots — the oracle unrolls
      // the full greedy trajectory step by step
      val items = embeddings(s, d)
      graft.similarity.Mmr.rerank(items,
        items.filter(col("vec_id") < NQUERIES),
        "vec_id", "embedding", shortlist = 20, k = 5)
    }),

    "e17_random_projection" -> ((s, d) =>
      // Johnson-Lindenstrauss ±1 projection to 16 integer components:
      // the sign matrix is a driver-side sha256-derived literal folded
      // into the codegen'd plan, so the projection is a narrow
      // zero-shuffle map; DuckDB rebuilds the same signs from the same
      // public formula and replays every component exactly
      graft.similarity.RandomProjection.project(
        embeddings(s, d), "vec_id", "embedding", dim = 64, k = 16)),

    "e07_cosine_topk" -> ((s, d) => {
      // exact cosine ranking: integer quantized dot + norms, two
      // correctly-rounded sqrt/divisions in fixed order — bit-identical
      // across engines, so the score itself is oracle-comparable
      val items = embeddings(s, d)
      Ann.bruteForceCosineTopK(items,
        items.filter(col("vec_id") < NQUERIES), "vec_id", "embedding", K)
        .select(col("qid"), col("nid"), round(col("cos"), 9).as("cos"))
    }),

    "e20_semantic_decontamination" -> ((s, d) => {
      // embedding-space decontamination (the d11 complement): flag
      // training vectors close to ANY eval vector — paraphrased leaks
      // that verbatim n-gram containment misses. Eval = the vec_id < 50
      // slice (benchmark-sized, broadcast); train = the rest; exact
      // quantized dots, threshold 250000 (the e04/e08 near-dup bar).
      val emb = embeddings(s, d)
      Ann.semanticContamination(
        emb.filter(col("vec_id") >= 50),
        emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", minDot = 250000L)
    }),

    "e08_neardup_deduped" -> ((s, d) =>
      // e04's same-cell near-dup contract with the d09 composition applied
      // to embeddings: identical quantized vectors collapse to one
      // representative BEFORE the pair join, so output grows with distinct
      // vectors, not with the square of the copy count (e04 was the 10x
      // stress run's worst query at 90% duplicates). Copy counts ride
      // along so a consumer can expand representative pairs when needed.
      Ann.dedupedNearDupPairs(embeddings(s, d),
        "vec_id", "embedding", "label", minDot = 250000L)),

    "e12_semantic_dedup" -> ((s, d) =>
      // SemDeDup: one survivor per embedding-space near-dup CLUSTER
      // (connected components of the e08 pair graph; pair output alone
      // under-deletes because near-duplication is not transitive). The
      // embedding twin of d12, sharing its recursive min-label oracle
      // shape; exact copies collapse before the pair join, so the CC
      // input grows with distinct vectors only.
      Ann.semanticDedupClusters(embeddings(s, d),
        "vec_id", "embedding", "label", minDot = 250000L)),

    "e09_knn_pq_adc" -> ((s, d) => {
      // product quantization, oracle-checked END TO END: m portable
      // codebook fits (sampled Lloyd, sha256-Forgy seeds, integer-sum
      // centroids), portable encode, and ADC scoring whose per-code
      // partial is one correctly-rounded division + one half-away round
      // into exact i64 — DuckDB replays all m fits from one shared sample
      // CTE, the full-corpus encode, and the ADC join bit for bit. The
      // float-centroid Pq path keeps its recall contract in PqSpec.
      val emb = embeddings(s, d)
      val model = graft.similarity.Pq.fitPortable(
        emb, "vec_id", "embedding", dims = 64, m = PqM, ksub = PqKsub,
        maxIterations = PqIters, fitSampleSize = FitSample)
      val encoded = graft.similarity.Pq.encodePortable(
        emb, "vec_id", "embedding", model)
      graft.similarity.Pq.adcTopKPortable(
        encoded, queriesDf(s, d), "vec_id", "embedding", model, K)
    }),

    "e10_knn_ivfpq" -> ((s, d) => {
      // IVF-PQ, the billion-vector serving layout, oracle-checked END TO
      // END: coarse portable k-means prunes the corpus to nprobe cells,
      // ADC then reads m codes per surviving vector — the query path
      // never touches a raw embedding. DuckDB replays the coarse fit,
      // both codebook fits, the encode, the probe ranking and the ADC
      // join bit for bit (shared sample CTE, exact-integer rank keys).
      val emb = embeddings(s, d)
      val model = graft.similarity.Pq.fitIvfPqPortable(
        emb, "vec_id", "embedding", dims = 64, coarseK = 8,
        m = PqM, ksub = PqKsub, maxIterations = PqIters,
        fitSampleSize = FitSample)
      graft.similarity.Pq.ivfAdcTopKPortable(
        model, queriesDf(s, d), "vec_id", "embedding", nprobe = 3, K)
    }),

    "e11_knn_ivfpq_rerank" -> ((s, d) => {
      // two-stage retrieval, oracle-checked END TO END: the e10 IVF-PQ
      // machinery shortlists 20 candidates per query from codes alone,
      // then ONLY those raw vectors are read back for an exact
      // quantized-dot re-rank — the standard serving pattern (compressed
      // index recall, exact final ranking). DuckDB replays shortlist AND
      // re-rank bit for bit on top of the shared e10 body.
      val emb = embeddings(s, d)
      val model = graft.similarity.Pq.fitIvfPqPortable(
        emb, "vec_id", "embedding", dims = 64, coarseK = 8,
        m = PqM, ksub = PqKsub, maxIterations = PqIters,
        fitSampleSize = FitSample)
      graft.similarity.Pq.ivfAdcRerankTopKPortable(
        model, emb, queriesDf(s, d), "vec_id", "embedding",
        nprobe = 3, shortlist = RerankShortlist, k = K)
    }),

    "e04_embedding_neardup" -> ((s, d) => {
      // embedding-cosine near-duplicate pairs: quantized-dot self-join
      // pruned by shared IVF cell (label) — same-cell pairs only
      val e = embeddings(s, d).select(
        col("vec_id"), col("embedding"), col("label"))
      e.as("x").join(e.as("y"),
          col("x.label") === col("y.label") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(
          col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
          Ann.quantizedDot(col("x.embedding"), col("y.embedding")).as("qdot"))
        .filter(col("qdot") > 250000L)
    }),

    "e13_mrl_rerank" -> ((s, d) =>
      // Matryoshka-style two-stage search, oracle-checked END TO END:
      // candidates from the integer dot over the first 8 of 64 dims (an
      // 8x narrower corpus scan — the memory-bound serving shape for
      // MRL-trained embeddings), exact full-dim re-rank of the 50 best.
      // Both stages are integer dots with id tiebreaks, so DuckDB
      // replays shortlist and re-rank bit for bit.
      Ann.prefixRerankTopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", K,
        prefixDims = MrlPrefixDims, shortlist = MrlShortlist)),

    "e14_knn_sq8" -> ((s, d) =>
      // int8 scalar-quantized serving, oracle-checked END TO END:
      // per-dim max-abs scales (exact max, no summation), symmetric
      // round(x*127/mx) codes, integer-dot shortlist of 20, exact
      // full-precision re-rank — DuckDB replays scales, codes, shortlist
      // and re-rank bit for bit
      Ann.sqInt8TopK(embeddings(s, d), queriesDf(s, d),
        "vec_id", "embedding", K, shortlist = RerankShortlist)))

  /** Exact brute-force top-k in DuckDB — the oracle for e01 AND for the
    * full-probe IVF identity e06 (same rows by construction). */
  private val exactKnnSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id < $NQUERIES),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |    CAST(list_sum([CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)
       |                 * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
       |                   FOR i IN range(1, len(q.qv) + 1)]) AS BIGINT) AS qdot
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid)
       |SELECT qid, nid, qdot FROM (
       |  SELECT qid, nid, qdot,
       |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
       |  FROM scored)
       |WHERE rn <= $K""".stripMargin

  /** Quantized integer dot of two embedding columns in DuckDB. */
  private def qdotSql(a: String, b: String) =
    s"""CAST(list_sum([CAST(round(CAST($a[i] AS DOUBLE) * 1000) AS BIGINT)
       |             * CAST(round(CAST($b[i] AS DOUBLE) * 1000) AS BIGINT)
       |               FOR i IN range(1, len($a) + 1)]) AS BIGINT)""".stripMargin

  private val cosineKnnSql =
    s"""WITH base AS (SELECT vec_id, embedding,
       |    ${qdotSql("embedding", "embedding")} AS n2 FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qv, n2 AS qn2 FROM base
       |      WHERE vec_id < $NQUERIES),
       |scored AS (
       |  SELECT q.qid, e.vec_id AS nid,
       |    CAST(${qdotSql("q.qv", "e.embedding")} AS DOUBLE)
       |      / sqrt(CAST(q.qn2 AS DOUBLE)) / sqrt(CAST(e.n2 AS DOUBLE)) AS cos
       |  FROM q, base e WHERE e.vec_id <> q.qid)
       |SELECT qid, nid, round(cos, 9) AS cos FROM (
       |  SELECT qid, nid, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn
       |  FROM scored)
       |WHERE rn <= $K""".stripMargin

  /** Full IVF replay for e03: per-cell quantized component sums (exact
    * integers), probe score = dot / count (one rounded division), nprobe
    * cells per query, exact top-k within probed cells. */
  private val ivfKnnSql =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |           WHERE vec_id < $NQUERIES),
       |cd AS (SELECT label AS cell, d,
       |         sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT)) AS sx
       |       FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(d)
       |       GROUP BY label, d),
       |cn AS (SELECT label AS cell, count(*) AS n FROM embeddings GROUP BY label),
       |cl AS (SELECT cd.cell, list(sx ORDER BY d) AS cs, any_value(cn.n) AS n
       |       FROM cd JOIN cn ON cn.cell = cd.cell GROUP BY cd.cell),
       |p0 AS (SELECT q.qid, c.cell,
       |         CAST(CAST(list_sum(
       |           [CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT) * c.cs[i]
       |            FOR i IN range(1, len(q.qv) + 1)]) AS BIGINT) AS DOUBLE)
       |           / CAST(c.n AS DOUBLE) AS score
       |       FROM q, cl c),
       |pr AS (SELECT qid, cell FROM (
       |         SELECT qid, cell,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, cell) AS rn
       |         FROM p0) WHERE rn <= 3),
       |sc AS (SELECT p.qid, e.vec_id AS nid,
       |         CAST(list_sum(
       |           [CAST(round(CAST(q.qv[i] AS DOUBLE) * 1000) AS BIGINT)
       |            * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
       |            FOR i IN range(1, len(q.qv) + 1)]) AS BIGINT) AS qdot
       |       FROM pr p
       |       JOIN embeddings e ON e.label = p.cell
       |       JOIN q ON q.qid = p.qid
       |       WHERE e.vec_id <> p.qid)
       |SELECT qid, nid, qdot FROM (
       |  SELECT qid, nid, qdot,
       |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
       |  FROM sc)
       |WHERE rn <= $K""".stripMargin

  /** Full LSH replay for e02: hyperplane component c(plane, dim) is the
    * unsigned 32-bit value of the first 8 hex chars of
    * sha256('plane:dim') mod 1999 minus 999; sign bits from exact integer
    * dots; bucket = (t << 6) | bits with bit b=0 most significant;
    * candidates share any bucket; exact top-k among candidates. */
  private val lshKnnSql =
    s"""WITH pl AS (SELECT t, b, t * 64 + b AS plane
       |            FROM unnest(range(0, 16)) AS u1(t),
       |                 unnest(range(0, 6)) AS u2(b)),
       |nd AS (SELECT max(len(embedding)) AS n FROM embeddings),
       |comp AS (SELECT t, b,
       |           [ (list_reduce(
       |                [ strpos('0123456789abcdef',
       |                    substr(sha256(CAST(plane AS VARCHAR) || ':'
       |                           || CAST(j - 1 AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1
       |                  FOR i IN range(1, 9) ],
       |                (a, x) -> a * 16 + x) % 1999) - 999
       |             FOR j IN range(1, (SELECT n FROM nd) + 1) ] AS cl
       |         FROM pl),
       |vb AS (SELECT e.vec_id, c.t, c.b,
       |         CASE WHEN CAST(list_sum(
       |           [CAST(round(CAST(e.embedding[j] AS DOUBLE) * 1000) AS BIGINT) * c.cl[j]
       |            FOR j IN range(1, len(e.embedding) + 1)]) AS BIGINT) > 0
       |         THEN 1 ELSE 0 END AS s
       |       FROM embeddings e, comp c),
       |bk AS (SELECT vec_id, t,
       |         t * 64 + sum(s * (1 << CAST(5 - b AS INTEGER))) AS bucket
       |       FROM vb GROUP BY vec_id, t),
       |qb AS (SELECT vec_id AS qid, bucket FROM bk WHERE vec_id < $NQUERIES),
       |cands AS (SELECT DISTINCT q.qid, i.vec_id AS nid
       |          FROM qb q JOIN bk i ON i.bucket = q.bucket
       |          WHERE i.vec_id <> q.qid),
       |sc AS (SELECT c.qid, c.nid,
       |         CAST(list_sum(
       |           [CAST(round(CAST(q.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
       |            * CAST(round(CAST(e.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
       |            FOR i IN range(1, len(q.embedding) + 1)]) AS BIGINT) AS qdot
       |       FROM cands c
       |       JOIN embeddings q ON q.vec_id = c.qid
       |       JOIN embeddings e ON e.vec_id = c.nid)
       |SELECT qid, nid, qdot FROM (
       |  SELECT qid, nid, qdot,
       |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
       |  FROM sc)
       |WHERE rn <= $K""".stripMargin

  /** Full portable-k-means + IVF replay for e05 in the sampled-fit shape:
    * the fit set `itf` is the `fitSample` items with the smallest
    * (sha256(id), id) — a plain ORDER BY/LIMIT, byte-identical to the
    * Spark sample — sha256-Forgy seeds, `iters` unrolled Lloyd rounds
    * over `itf` with exact integer-sum centroids and the
    * -2*dot/n + |S|^2/n^2 rank key (two divisions + one addition, all
    * correctly rounded — identical bits to the Spark side), ONE final
    * assignment of the FULL corpus, then the same probe + top-k as the
    * e03 oracle. */
  /** e16 replay: the same sampled portable-k-means fit as
    * [[kmeansIvfSql]], then every corpus item assigned to its argmin
    * cell against the FITTED centroids c_iters, scored by the exact i64
    * dot against that centroid's sum vector, top-m per cell by
    * (dot DESC, id). */
  private def prototypesSql(k: Int, iters: Int, m: Int, fitSample: Int): String = {
    def assignCte(i: Int, src: String): String =
      s"""s$i AS (SELECT i.id, c.cell,
         |  CAST(-2 * CAST(list_sum([i.qv[j] * c.cs[j]
         |         FOR j IN range(1, len(i.qv) + 1)]) AS BIGINT) AS DOUBLE)
         |    / CAST(c.n AS DOUBLE)
         |  + CAST(CAST(list_sum([c.cs[j] * c.cs[j]
         |         FOR j IN range(1, len(c.cs) + 1)]) AS BIGINT) AS DOUBLE)
         |    / CAST(c.n * c.n AS DOUBLE) AS score
         |  FROM $src i, c${i - 1} c),
         |a$i AS (SELECT id, cell FROM (
         |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score, cell) AS rn
         |  FROM s$i) WHERE rn = 1)""".stripMargin
    def updateCte(i: Int): String =
      s"""u$i AS (SELECT a.cell, u.d AS d, sum(i.qv[CAST(u.d AS INTEGER)]) AS sx
         |  FROM a$i a JOIN itf i ON i.id = a.id,
         |       unnest(range(1, len(i.qv) + 1)) AS u(d)
         |  GROUP BY a.cell, u.d),
         |n$i AS (SELECT cell, count(*) AS n FROM a$i GROUP BY cell),
         |f$i AS (SELECT u.cell, list(u.sx ORDER BY u.d) AS cs, any_value(n.n) AS n
         |  FROM u$i u JOIN n$i n ON n.cell = u.cell GROUP BY u.cell),
         |c$i AS (SELECT p.cell, coalesce(f.cs, p.cs) AS cs, coalesce(f.n, p.n) AS n
         |  FROM c${i - 1} p LEFT JOIN f$i f ON f.cell = p.cell)""".stripMargin
    val fin = iters + 1
    val rounds = (1 to iters).map(i => assignCte(i, "itf") + ",\n" + updateCte(i))
    s"""WITH it AS (SELECT vec_id AS id,
       |    [CAST(round(CAST(embedding[j] AS DOUBLE) * 1000) AS BIGINT)
       |     FOR j IN range(1, len(embedding) + 1)] AS qv
       |  FROM embeddings),
       |itf AS (SELECT id, qv FROM it
       |  ORDER BY sha256(CAST(id AS VARCHAR)), id LIMIT $fitSample),
       |c0 AS (SELECT cell, cs, n FROM (
       |  SELECT row_number() OVER (ORDER BY sha256(CAST(id AS VARCHAR)), id) - 1 AS cell,
       |         qv AS cs, CAST(1 AS BIGINT) AS n
       |  FROM itf) WHERE cell < $k),
       |${rounds.mkString(",\n")},
       |${assignCte(fin, "it")},
       |sc AS (SELECT a.id, a.cell,
       |    CAST(list_sum([i.qv[j] * c.cs[j]
       |         FOR j IN range(1, len(i.qv) + 1)]) AS BIGINT) AS cdot
       |  FROM a$fin a JOIN it i ON i.id = a.id
       |  JOIN c$iters c ON c.cell = a.cell)
       |SELECT cell, rank, id AS vec_id, cdot FROM (
       |  SELECT cell, id, cdot,
       |         row_number() OVER (PARTITION BY cell ORDER BY cdot DESC, id) AS rank
       |  FROM sc) WHERE rank <= $m""".stripMargin
  }

  /** `probeFilter`: extra predicate on the scored corpus side (e.g.
    * "AND l.id % 10 <> 0") — the delete-lifecycle oracle: the quantizer
    * is fit on the FULL corpus (frozen — delete never refits), only the
    * probed cells lose the erased vectors. */
  private def kmeansIvfSql(
      k: Int, iters: Int, nprobe: Int, fitSample: Int,
      probeFilter: String = ""): String = {
    // assignment of every `src` item to its nearest centroid c{i-1} -> a$i
    def assignCte(i: Int, src: String): String =
      s"""s$i AS (SELECT i.id, c.cell,
         |  CAST(-2 * CAST(list_sum([i.qv[j] * c.cs[j]
         |         FOR j IN range(1, len(i.qv) + 1)]) AS BIGINT) AS DOUBLE)
         |    / CAST(c.n AS DOUBLE)
         |  + CAST(CAST(list_sum([c.cs[j] * c.cs[j]
         |         FOR j IN range(1, len(c.cs) + 1)]) AS BIGINT) AS DOUBLE)
         |    / CAST(c.n * c.n AS DOUBLE) AS score
         |  FROM $src i, c${i - 1} c),
         |a$i AS (SELECT id, cell FROM (
         |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score, cell) AS rn
         |  FROM s$i) WHERE rn = 1)""".stripMargin
    // centroid update from a$i -> c$i (empty cells keep their previous)
    def updateCte(i: Int): String =
      s"""u$i AS (SELECT a.cell, u.d AS d, sum(i.qv[CAST(u.d AS INTEGER)]) AS sx
         |  FROM a$i a JOIN itf i ON i.id = a.id,
         |       unnest(range(1, len(i.qv) + 1)) AS u(d)
         |  GROUP BY a.cell, u.d),
         |n$i AS (SELECT cell, count(*) AS n FROM a$i GROUP BY cell),
         |f$i AS (SELECT u.cell, list(u.sx ORDER BY u.d) AS cs, any_value(n.n) AS n
         |  FROM u$i u JOIN n$i n ON n.cell = u.cell GROUP BY u.cell),
         |c$i AS (SELECT p.cell, coalesce(f.cs, p.cs) AS cs, coalesce(f.n, p.n) AS n
         |  FROM c${i - 1} p LEFT JOIN f$i f ON f.cell = p.cell)""".stripMargin
    val fin = iters + 1
    val rounds = (1 to iters).map(i => assignCte(i, "itf") + ",\n" + updateCte(i))
    s"""WITH it AS (SELECT vec_id AS id,
       |    [CAST(round(CAST(embedding[j] AS DOUBLE) * 1000) AS BIGINT)
       |     FOR j IN range(1, len(embedding) + 1)] AS qv
       |  FROM embeddings),
       |itf AS (SELECT id, qv FROM it
       |  ORDER BY sha256(CAST(id AS VARCHAR)), id LIMIT $fitSample),
       |c0 AS (SELECT cell, cs, n FROM (
       |  SELECT row_number() OVER (ORDER BY sha256(CAST(id AS VARCHAR)), id) - 1 AS cell,
       |         qv AS cs, CAST(1 AS BIGINT) AS n
       |  FROM itf) WHERE cell < $k),
       |${rounds.mkString(",\n")},
       |${assignCte(fin, "it")},
       |lab AS (SELECT id, cell FROM a$fin),
       |cd AS (SELECT l.cell, u.d AS d, sum(i.qv[CAST(u.d AS INTEGER)]) AS sx
       |  FROM lab l JOIN it i ON i.id = l.id,
       |       unnest(range(1, len(i.qv) + 1)) AS u(d)
       |  GROUP BY l.cell, u.d),
       |cn2 AS (SELECT cell, count(*) AS n FROM lab GROUP BY cell),
       |cl2 AS (SELECT cd.cell, list(sx ORDER BY d) AS cs, any_value(cn2.n) AS n
       |  FROM cd JOIN cn2 ON cn2.cell = cd.cell GROUP BY cd.cell),
       |q AS (SELECT id AS qid, qv FROM it WHERE id < $NQUERIES),
       |p0 AS (SELECT q.qid, c.cell,
       |    CAST(CAST(list_sum([q.qv[i] * c.cs[i]
       |         FOR i IN range(1, len(q.qv) + 1)]) AS BIGINT) AS DOUBLE)
       |      / CAST(c.n AS DOUBLE) AS score
       |  FROM q, cl2 c),
       |pr AS (SELECT qid, cell FROM (
       |  SELECT qid, cell,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cell) AS rn
       |  FROM p0) WHERE rn <= $nprobe),
       |sc AS (SELECT p.qid, l.id AS nid,
       |    CAST(list_sum([q.qv[i] * i2.qv[i]
       |         FOR i IN range(1, len(q.qv) + 1)]) AS BIGINT) AS qdot
       |  FROM pr p
       |  JOIN lab l ON l.cell = p.cell
       |  JOIN it i2 ON i2.id = l.id
       |  JOIN q ON q.qid = p.qid
       |  WHERE l.id <> p.qid $probeFilter)
       |SELECT qid, nid, qdot FROM (
       |  SELECT qid, nid, qdot,
       |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
       |  FROM sc)
       |WHERE rn <= $K""".stripMargin
  }

  // ---- shared DuckDB sampled-Lloyd replay builders. `sfx` disambiguates
  // independent fits coexisting in ONE WITH list (the m PQ subspaces and
  // the IVF-PQ coarse quantizer). Same machinery as the e05 oracle. ----

  /** s$i$sfx: every `src` row scored against centroids c{i-1}$sfx with the
    * portable -2*dot/n + |S|^2/n^2 key; a$i$sfx: argmin per id. */
  private def lloydAssignCte(sfx: String, i: Int, src: String): String =
    s"""s$i$sfx AS (SELECT i.id, c.cell,
       |  CAST(-2 * CAST(list_sum([i.qv[x] * c.cs[x]
       |         FOR x IN range(1, len(i.qv) + 1)]) AS BIGINT) AS DOUBLE)
       |    / CAST(c.n AS DOUBLE)
       |  + CAST(CAST(list_sum([c.cs[x] * c.cs[x]
       |         FOR x IN range(1, len(c.cs) + 1)]) AS BIGINT) AS DOUBLE)
       |    / CAST(c.n * c.n AS DOUBLE) AS score
       |  FROM $src i, c${i - 1}$sfx c),
       |a$i$sfx AS (SELECT id, cell FROM (
       |  SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY score, cell) AS rn
       |  FROM s$i$sfx) WHERE rn = 1)""".stripMargin

  /** centroid update a$i$sfx -> c$i$sfx (emptied cells keep previous). */
  private def lloydUpdateCte(sfx: String, i: Int, itf: String): String =
    s"""u$i$sfx AS (SELECT a.cell, u.d AS d, sum(i.qv[CAST(u.d AS INTEGER)]) AS sx
       |  FROM a$i$sfx a JOIN $itf i ON i.id = a.id,
       |       unnest(range(1, len(i.qv) + 1)) AS u(d)
       |  GROUP BY a.cell, u.d),
       |n$i$sfx AS (SELECT cell, count(*) AS n FROM a$i$sfx GROUP BY cell),
       |f$i$sfx AS (SELECT u.cell, list(u.sx ORDER BY u.d) AS cs, any_value(n.n) AS n
       |  FROM u$i$sfx u JOIN n$i$sfx n ON n.cell = u.cell GROUP BY u.cell),
       |c$i$sfx AS (SELECT p.cell, coalesce(f.cs, p.cs) AS cs, coalesce(f.n, p.n) AS n
       |  FROM c${i - 1}$sfx p LEFT JOIN f$i$sfx f ON f.cell = p.cell)""".stripMargin

  /** sha256-Forgy seeds + `iters` rounds over `itf` + the final
    * assignment a{iters+1}$sfx of every `it` row against c{iters}$sfx. */
  private def lloydChain(sfx: String, k: Int, iters: Int,
      it: String, itf: String): String = {
    val seeds =
      s"""c0$sfx AS (SELECT cell, cs, n FROM (
         |  SELECT row_number() OVER (ORDER BY sha256(CAST(id AS VARCHAR)), id) - 1 AS cell,
         |         qv AS cs, CAST(1 AS BIGINT) AS n
         |  FROM $itf) WHERE cell < $k)""".stripMargin
    val rounds = (1 to iters).map(i =>
      lloydAssignCte(sfx, i, itf) + ",\n" + lloydUpdateCte(sfx, i, itf))
    (Seq(seeds) ++ rounds ++ Seq(lloydAssignCte(sfx, iters + 1, it)))
      .mkString(",\n")
  }

  /** the quantized corpus + the shared bounded deterministic fit sample. */
  private def itCtes(fitSample: Int): String =
    s"""it AS (SELECT vec_id AS id,
       |    [CAST(round(CAST(embedding[j] AS DOUBLE) * 1000) AS BIGINT)
       |     FOR j IN range(1, len(embedding) + 1)] AS qv
       |  FROM embeddings),
       |itf AS (SELECT id, qv FROM it
       |  ORDER BY sha256(CAST(id AS VARCHAR)), id LIMIT $fitSample)""".stripMargin

  /** per-subspace PQ machinery: sliced it/itf copies, the codebook fit
    * chain, and the per-query ADC lookup table pt_j (integer partials:
    * one rounded division per (query, code)). */
  private def pqPerSubspace(m: Int, ksub: Int, iters: Int, dims: Int): String = {
    val subDim = dims / m
    (0 until m).map { j =>
      val lo = j * subDim + 1
      val hi = (j + 1) * subDim
      val slices =
        s"""it_$j AS (SELECT id, qv[$lo:$hi] AS qv FROM it),
           |itf_$j AS (SELECT id, qv[$lo:$hi] AS qv FROM itf)""".stripMargin
      val pt =
        s"""pt_$j AS (SELECT q.qid, $j AS subspace, c.cell AS code,
           |  CAST(round(CAST(CAST(list_sum([q.qv[x] * c.cs[x]
           |         FOR x IN range(1, len(q.qv) + 1)]) AS BIGINT) AS DOUBLE)
           |       / CAST(c.n AS DOUBLE)) AS BIGINT) AS part
           |  FROM (SELECT id AS qid, qv FROM it_$j WHERE id < $NQUERIES) q,
           |       c${iters}_$j c)""".stripMargin
      Seq(slices, lloydChain(s"_$j", ksub, iters, s"it_$j", s"itf_$j"), pt)
        .mkString(",\n")
    }.mkString(",\n")
  }

  private def pqEncUnion(m: Int, iters: Int): String = (0 until m)
    .map(j => s"SELECT id, $j AS subspace, cell AS code FROM a${iters + 1}_$j")
    .mkString("\n  UNION ALL ")

  private def pqPtUnion(m: Int): String =
    (0 until m).map(j => s"SELECT * FROM pt_$j").mkString("\n  UNION ALL ")

  private val adcTopKSql =
    s"""SELECT qid, nid, adc FROM (
       |  SELECT qid, nid, adc,
       |         row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rn
       |  FROM sc)
       |WHERE rn <= $K""".stripMargin

  /** Full PQ replay for e09: m portable codebook fits (each the same
    * sampled-Lloyd machinery as the e05 oracle, over a SLICED copy of the
    * one shared sample CTE), the full-corpus encode per subspace, then ADC
    * — per-(query, code) integer partials joined to the encoded corpus on
    * (subspace, code) and summed exactly. */
  private def pqAdcSql(m: Int, ksub: Int, iters: Int, fitSample: Int,
      dims: Int = 64): String =
    s"""WITH ${itCtes(fitSample)},
       |${pqPerSubspace(m, ksub, iters, dims)},
       |enc AS (${pqEncUnion(m, iters)}),
       |pt AS (${pqPtUnion(m)}),
       |sc AS (SELECT p.qid, e.id AS nid, CAST(sum(p.part) AS BIGINT) AS adc
       |  FROM enc e JOIN pt p ON p.subspace = e.subspace AND p.code = e.code
       |  WHERE e.id <> p.qid
       |  GROUP BY p.qid, e.id)
       |$adcTopKSql""".stripMargin

  /** Full IVF-PQ replay for e10: the coarse quantizer's sampled-Lloyd
    * chain (suffix _g) AND the m PQ codebook chains share one it/itf;
    * probing ranks coarse cells by the exact-integer dot/n key (as the
    * e03/e05 oracles), candidates are probed cells' members, ADC scores
    * them from codes alone. The shared body ends at `sc` (qid, nid, adc)
    * so e10 (plain ADC top-k) and e11 (shortlist + exact re-rank) replay
    * the same machinery. */
  private def ivfPqBody(coarseK: Int, nprobe: Int, m: Int, ksub: Int,
      iters: Int, fitSample: Int, dims: Int = 64): String =
    s"""WITH ${itCtes(fitSample)},
       |${lloydChain("_g", coarseK, iters, "it", "itf")},
       |${pqPerSubspace(m, ksub, iters, dims)},
       |enc AS (${pqEncUnion(m, iters)}),
       |pt AS (${pqPtUnion(m)}),
       |qg AS (SELECT id AS qid, qv FROM it WHERE id < $NQUERIES),
       |p0 AS (SELECT q.qid, c.cell,
       |    CAST(CAST(list_sum([q.qv[x] * c.cs[x]
       |         FOR x IN range(1, len(q.qv) + 1)]) AS BIGINT) AS DOUBLE)
       |      / CAST(c.n AS DOUBLE) AS score
       |  FROM qg q, c${iters}_g c),
       |pr AS (SELECT qid, cell FROM (
       |  SELECT qid, cell,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cell) AS rn
       |  FROM p0) WHERE rn <= $nprobe),
       |cand AS (SELECT p.qid, a.id FROM pr p JOIN a${iters + 1}_g a ON a.cell = p.cell
       |         WHERE a.id <> p.qid),
       |sc AS (SELECT c.qid, e.id AS nid, CAST(sum(p.part) AS BIGINT) AS adc
       |  FROM cand c JOIN enc e ON e.id = c.id
       |  JOIN pt p ON p.qid = c.qid AND p.subspace = e.subspace AND p.code = e.code
       |  GROUP BY c.qid, e.id)""".stripMargin

  private def ivfPqSql(coarseK: Int, nprobe: Int, m: Int, ksub: Int,
      iters: Int, fitSample: Int, dims: Int = 64): String =
    s"""${ivfPqBody(coarseK, nprobe, m, ksub, iters, fitSample, dims)}
       |$adcTopKSql""".stripMargin

  /** e11: same IVF-PQ body, but the ADC ranking only SHORTLISTS —
    * the top `shortlist` per query by (adc, nid) are re-scored with the
    * exact quantized dot against the raw vectors, and the final top-k
    * ranks on that exact score. */
  private def ivfPqRerankSql(coarseK: Int, nprobe: Int, m: Int, ksub: Int,
      iters: Int, fitSample: Int, shortlist: Int, dims: Int = 64): String =
    s"""${ivfPqBody(coarseK, nprobe, m, ksub, iters, fitSample, dims)},
       |rr AS (SELECT qid, nid FROM (
       |  SELECT qid, nid,
       |         row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid) AS rn
       |  FROM sc) WHERE rn <= $shortlist),
       |ex AS (SELECT r.qid, r.nid,
       |    CAST(list_sum([qi.qv[i] * ni.qv[i]
       |         FOR i IN range(1, len(qi.qv) + 1)]) AS BIGINT) AS qdot
       |  FROM rr r
       |  JOIN it qi ON qi.id = r.qid
       |  JOIN it ni ON ni.id = r.nid)
       |SELECT qid, nid, qdot FROM (
       |  SELECT qid, nid, qdot,
       |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
       |  FROM ex) WHERE rn <= $K""".stripMargin

  /** Unrolled MMR oracle: relevance shortlist, then one (selection,
    * running-max-similarity) CTE pair per greedy step, every score an
    * exact i64 quantized dot and ties to the smallest id — the full
    * trajectory replays bit for bit. */
  private def mmrOracleSql(nQueries: Int, shortlist: Int, k: Int): String = {
    val head =
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |           WHERE vec_id < $nQueries),
         |sc0 AS (SELECT q.qid, e.vec_id AS nid,
         |          ${qdotSql("q.qv", "e.embedding")} AS qdot
         |        FROM q JOIN embeddings e ON e.vec_id <> q.qid),
         |cv AS MATERIALIZED (SELECT s.qid, s.nid, s.qdot, e.embedding AS nv
         |  FROM (SELECT qid, nid, qdot, row_number() OVER (
         |          PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
         |        FROM sc0) s
         |  JOIN embeddings e ON e.vec_id = s.nid
         |  WHERE s.rn <= $shortlist),
         |s1 AS MATERIALIZED (SELECT qid, nid, qdot AS mmr2, 1 AS step FROM (
         |  SELECT qid, nid, qdot, row_number() OVER (
         |    PARTITION BY qid ORDER BY qdot DESC, nid) AS p FROM cv)
         |  WHERE p = 1),
         |u1 AS (SELECT qid, nid FROM s1),
         |b1 AS MATERIALIZED (SELECT c.qid, c.nid,
         |    ${qdotSql("c.nv", "se.embedding")} AS maxsim
         |  FROM cv c JOIN s1 ON s1.qid = c.qid
         |  JOIN embeddings se ON se.vec_id = s1.nid)""".stripMargin
    val steps = (2 to k).map { r =>
      val p = r - 1
      val base =
        s"""s$r AS MATERIALIZED (SELECT qid, nid, sc AS mmr2, $r AS step FROM (
           |  SELECT c.qid, c.nid, c.qdot - b.maxsim AS sc, row_number() OVER (
           |    PARTITION BY c.qid ORDER BY c.qdot - b.maxsim DESC, c.nid) AS p
           |  FROM cv c JOIN b$p b ON b.qid = c.qid AND b.nid = c.nid
           |  WHERE NOT EXISTS (SELECT 1 FROM u$p
           |                    WHERE u$p.qid = c.qid AND u$p.nid = c.nid))
           |  WHERE p = 1),
           |u$r AS (SELECT qid, nid FROM u$p
           |  UNION ALL SELECT qid, nid FROM s$r)""".stripMargin
      if (r == k) base
      else base + s""",
           |b$r AS MATERIALIZED (SELECT b.qid, b.nid,
           |    greatest(b.maxsim, ${qdotSql("c.nv", "se.embedding")}) AS maxsim
           |  FROM b$p b
           |  JOIN cv c ON c.qid = b.qid AND c.nid = b.nid
           |  JOIN s$r ON s$r.qid = b.qid
           |  JOIN embeddings se ON se.vec_id = s$r.nid)""".stripMargin
    }
    val unions = (1 to k)
      .map(r => s"SELECT qid, nid, mmr2, step FROM s$r")
      .mkString("\nUNION ALL\n")
    (head +: steps).mkString(",\n") + "\n" + unions
  }

  val oracle: Map[String, String] = Map(
    // binary search replay: 32-bit sign-pack words, XOR+popcount
    // Hamming shortlist, exact re-rank — integer-exact end to end
    "e19_binary_hamming" ->
      s"""WITH pb AS (SELECT vec_id,
         |    [ list_reduce([CASE WHEN embedding[CAST(w*32 + j AS INTEGER)] > 0
         |                        THEN CAST(1 AS BIGINT)
         |                        ELSE CAST(0 AS BIGINT) END FOR j IN range(1, 33)],
         |                  (a, x) -> a*2 + x)
         |      FOR w IN range(0, 2) ] AS bw
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, bw AS qw FROM pb WHERE vec_id < $NQUERIES),
         |hm AS (SELECT q.qid, n.vec_id AS nid,
         |         CAST(list_sum([ bit_count(xor(q.qw[i], n.bw[i]))
         |                         FOR i IN range(1, 3) ]) AS BIGINT) AS ham
         |       FROM q JOIN pb n ON n.vec_id <> q.qid),
         |sh AS (SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY ham, nid) AS rn FROM hm)
         |  WHERE rn <= 50),
         |sc AS (SELECT sh.qid, sh.nid,
         |         ${qdotSql("qe.embedding", "ne.embedding")} AS qdot
         |       FROM sh JOIN embeddings qe ON qe.vec_id = sh.qid
         |       JOIN embeddings ne ON ne.vec_id = sh.nid)
         |SELECT qid, nid, qdot FROM (
         |  SELECT qid, nid, qdot, row_number() OVER (
         |    PARTITION BY qid ORDER BY qdot DESC, nid) AS rn FROM sc)
         |WHERE rn <= $K""".stripMargin,
    // both retriever rankings replayed (cosine exactly as e07, Hamming
    // exactly as e19's coarse stage), fused with the same integer
    // reciprocals; FULL JOIN mirrors the either-list membership
    "e21_hybrid_rrf" ->
      s"""WITH base AS (SELECT vec_id, embedding,
         |    ${qdotSql("embedding", "embedding")} AS n2 FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv, n2 AS qn2 FROM base
         |      WHERE vec_id < $NQUERIES),
         |scored AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    CAST(${qdotSql("q.qv", "e.embedding")} AS DOUBLE)
         |      / sqrt(CAST(q.qn2 AS DOUBLE)) / sqrt(CAST(e.n2 AS DOUBLE)) AS cos
         |  FROM q, base e WHERE e.vec_id <> q.qid),
         |ca AS (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, nid) AS rnk_a FROM scored),
         |cosl AS (SELECT qid, nid, rnk_a FROM ca WHERE rnk_a <= 10),
         |pb AS (SELECT vec_id,
         |    [ list_reduce([CASE WHEN embedding[CAST(w*32 + j AS INTEGER)] > 0
         |                        THEN CAST(1 AS BIGINT)
         |                        ELSE CAST(0 AS BIGINT) END FOR j IN range(1, 33)],
         |                  (a, x) -> a*2 + x)
         |      FOR w IN range(0, 2) ] AS bw
         |  FROM embeddings),
         |qh AS (SELECT vec_id AS qid, bw AS qw FROM pb WHERE vec_id < $NQUERIES),
         |hm AS (SELECT qh.qid, n.vec_id AS nid,
         |         CAST(list_sum([ bit_count(xor(qh.qw[i], n.bw[i]))
         |                         FOR i IN range(1, 3) ]) AS BIGINT) AS ham
         |       FROM qh JOIN pb n ON n.vec_id <> qh.qid),
         |hb AS (SELECT qid, nid, row_number() OVER (
         |    PARTITION BY qid ORDER BY ham, nid) AS rnk_b FROM hm),
         |haml AS (SELECT qid, nid, rnk_b FROM hb WHERE rnk_b <= 10),
         |f AS (SELECT coalesce(c.qid, h.qid) AS qid,
         |        coalesce(c.nid, h.nid) AS nid,
         |        coalesce(1000000000000 // (60 + c.rnk_a), 0)
         |          + coalesce(1000000000000 // (60 + h.rnk_b), 0) AS rrf
         |      FROM cosl c FULL JOIN haml h
         |        ON c.qid = h.qid AND c.nid = h.nid)
         |SELECT qid, nid, CAST(rrf AS BIGINT) AS rrf, CAST(rn AS INTEGER) AS rnk
         |FROM (SELECT qid, nid, rrf, row_number() OVER (
         |        PARTITION BY qid ORDER BY rrf DESC, nid) AS rn FROM f)
         |WHERE rn <= $K""".stripMargin,
    "e18_mmr_rerank" -> mmrOracleSql(NQUERIES, 20, 5),
    // JL replay: signs from sha256('rp#j#i') 48-bit-prefix parity,
    // round(x*1000) quantization (C-style half-away round in both
    // engines), exact i64 sums — component for component identical
    "e17_random_projection" ->
      """WITH sg AS (SELECT j, i,
        |    CASE WHEN list_sum([(strpos('0123456789abcdef',
        |           substr(substr(sha256('rp#' || CAST(j AS VARCHAR) || '#'
        |                  || CAST(i AS VARCHAR)), 1, 12), d, 1)) - 1)
        |           * CAST(power(16, 12 - d) AS BIGINT)
        |           FOR d IN range(1, 13)]) % 2 = 0
        |      THEN 1 ELSE -1 END AS s
        |  FROM range(0, 16) t1(j), range(0, 64) t2(i)),
        |q AS (SELECT vec_id, r.i,
        |        CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000) AS BIGINT)
        |          AS qv
        |      FROM embeddings, range(0, 64) r(i))
        |SELECT q.vec_id, CAST(sg.j AS INTEGER) AS j,
        |       CAST(sum(sg.s * q.qv) AS BIGINT) AS y
        |FROM q JOIN sg ON sg.i = q.i
        |GROUP BY q.vec_id, sg.j""".stripMargin,
    "e09_knn_pq_adc" -> pqAdcSql(PqM, PqKsub, PqIters, FitSample),
    "e10_knn_ivfpq" ->
      ivfPqSql(coarseK = 8, nprobe = 3, m = PqM, ksub = PqKsub,
        iters = PqIters, fitSample = FitSample),
    "e11_knn_ivfpq_rerank" ->
      ivfPqRerankSql(coarseK = 8, nprobe = 3, m = PqM, ksub = PqKsub,
        iters = PqIters, fitSample = FitSample, shortlist = RerankShortlist),
    "e05_knn_ivf_kmeans" ->
      kmeansIvfSql(k = 10, iters = 5, nprobe = 3, fitSample = FitSample),
    // the persisted-index probe is bit-for-bit the e05 direct path
    // (spec-pinned), so its oracle is the SAME end-to-end replay
    "e22_persisted_ivf" ->
      kmeansIvfSql(k = 10, iters = 5, nprobe = 3, fitSample = FitSample),
    // delete ≡ the frozen full-corpus quantizer probing the remaining
    // vectors: same replay, probed side filtered to the survivors
    "e23_index_delete" ->
      kmeansIvfSql(k = 10, iters = 5, nprobe = 3, fitSample = FitSample,
        probeFilter = "AND l.id % 10 <> 0"),
    "e16_prototypes" ->
      prototypesSql(k = ProtoK, iters = ProtoIters, m = ProtoM,
        fitSample = FitSample),
    "e02_knn_lsh" -> lshKnnSql,
    "e03_knn_ivf" -> ivfKnnSql,
    "e06_knn_ivf_full_probe" -> exactKnnSql,
    "e01_knn_exact" -> exactKnnSql,
    // exact cross-side quantized dots, hit counts + lexicographic best
    "e20_semantic_decontamination" ->
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ev FROM embeddings
         |            WHERE vec_id < 50),
         |tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50),
         |hits AS (
         |  SELECT tr.vec_id, ev.eid, ${qdotSql("tr.embedding", "ev.ev")} AS dot
         |  FROM tr, ev),
         |fl AS (SELECT vec_id, eid, dot FROM hits WHERE dot >= 250000),
         |agg AS (SELECT vec_id, count(*) AS n_eval_hits FROM fl GROUP BY vec_id),
         |best AS (SELECT vec_id, eid AS best_eval_id, dot AS best_dot FROM (
         |  SELECT vec_id, eid, dot, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dot DESC, eid) AS rn FROM fl)
         |  WHERE rn = 1)
         |SELECT a.vec_id, a.n_eval_hits, b.best_eval_id, b.best_dot
         |FROM agg a JOIN best b ON b.vec_id = a.vec_id""".stripMargin,
    "e15_filtered_knn" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label FROM embeddings
         |           WHERE vec_id < $NQUERIES),
         |scored AS (
         |  SELECT q.qid, e.vec_id AS nid, ${qdotSql("q.qv", "e.embedding")} AS qdot
         |  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.qid)
         |SELECT qid, nid, qdot FROM (
         |  SELECT qid, nid, qdot,
         |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
         |  FROM scored) WHERE rn <= $K""".stripMargin,
    "e07_cosine_topk" -> cosineKnnSql,
    // full two-stage Matryoshka replay: 8-dim-prefix shortlist of 50,
    // exact 64-dim re-rank — both integer dots with id tiebreaks
    "e13_mrl_rerank" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, embedding[1:$MrlPrefixDims] AS qp
         |           FROM embeddings WHERE vec_id < $NQUERIES),
         |it AS (SELECT vec_id AS nid, embedding AS nv, embedding[1:$MrlPrefixDims] AS np
         |       FROM embeddings),
         |s1 AS (SELECT q.qid, it.nid, ${qdotSql("q.qp", "it.np")} AS pdot
         |       FROM q, it WHERE it.nid <> q.qid),
         |short AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY pdot DESC, nid) AS rn
         |    FROM s1) WHERE rn <= $MrlShortlist),
         |s2 AS (SELECT sh.qid, sh.nid, ${qdotSql("q.qv", "it.nv")} AS qdot
         |       FROM short sh JOIN q ON q.qid = sh.qid JOIN it ON it.nid = sh.nid)
         |SELECT qid, nid, qdot FROM (
         |  SELECT qid, nid, qdot,
         |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
         |  FROM s2) WHERE rn <= $K""".stripMargin,
    // full int8-SQ replay: per-dim max-abs scales, symmetric codes,
    // integer-dot shortlist, exact re-rank
    "e14_knn_sq8" ->
      s"""WITH sc AS (SELECT i, max(abs(CAST(embedding[i] AS DOUBLE))) AS mx
         |            FROM embeddings, unnest(range(1, 65)) AS u(i)
         |            GROUP BY i),
         |scl AS (SELECT list(mx ORDER BY i) AS scales FROM sc),
         |qz AS (SELECT vec_id,
         |         [CASE WHEN scl.scales[i] > 0
         |            THEN CAST(round(CAST(embedding[i] AS DOUBLE) * 127.0
         |                            / scl.scales[i]) AS BIGINT)
         |            ELSE 0 END FOR i IN range(1, 65)] AS q
         |       FROM embeddings, scl),
         |qq AS (SELECT vec_id AS qid, q AS qa FROM qz WHERE vec_id < $NQUERIES),
         |s1 AS (SELECT qq.qid, e.vec_id AS nid,
         |         CAST(list_sum([qq.qa[i] * e.q[i] FOR i IN range(1, 65)])
         |              AS BIGINT) AS sdot
         |       FROM qq, qz e WHERE e.vec_id <> qq.qid),
         |short AS (SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |           row_number() OVER (PARTITION BY qid ORDER BY sdot DESC, nid) AS rn
         |    FROM s1) WHERE rn <= $RerankShortlist),
         |qv AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |       WHERE vec_id < $NQUERIES),
         |s2 AS (SELECT sh.qid, sh.nid, ${qdotSql("q.qv", "e.embedding")} AS qdot
         |       FROM short sh JOIN qv q ON q.qid = sh.qid
         |       JOIN embeddings e ON e.vec_id = sh.nid)
         |SELECT qid, nid, qdot FROM (
         |  SELECT qid, nid, qdot,
         |         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rn
         |  FROM s2) WHERE rn <= $K""".stripMargin,
    "e12_semantic_dedup" ->
      """WITH RECURSIVE
        |q AS (SELECT vec_id, label,
        |    [CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |     FOR i IN range(1, len(embedding) + 1)] AS qv
        |  FROM embeddings),
        |g AS (SELECT label, qv, min(vec_id) AS rep
        |      FROM q GROUP BY label, qv),
        |pr AS (SELECT x.rep AS id_a, y.rep AS id_b
        |       FROM g x JOIN g y ON x.label = y.label AND x.rep < y.rep
        |       WHERE CAST(list_sum([x.qv[i] * y.qv[i]
        |             FOR i IN range(1, len(x.qv) + 1)]) AS BIGINT) > 250000),
        |eg AS (SELECT id_a AS es, id_b AS ed FROM pr
        |       UNION ALL SELECT id_b, id_a FROM pr),
        |reach(id, lab) AS (
        |  SELECT rep, rep FROM g
        |  UNION
        |  SELECT eg.ed, r.lab FROM reach r JOIN eg ON eg.es = r.id),
        |comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
        |mem AS (SELECT q.vec_id, g.rep
        |        FROM q JOIN g ON g.label = q.label AND g.qv = q.qv)
        |SELECT m.vec_id, c.cluster_id,
        |       CAST(m.vec_id = c.cluster_id AS INTEGER) AS keep
        |FROM mem m JOIN comp c ON c.id = m.rep""".stripMargin,
    "e08_neardup_deduped" ->
      """WITH q AS (SELECT vec_id, label,
        |    [CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |     FOR i IN range(1, len(embedding) + 1)] AS qv
        |  FROM embeddings),
        |g AS (SELECT label, qv, min(vec_id) AS rep, count(*) AS n_copies
        |      FROM q GROUP BY label, qv)
        |SELECT x.rep AS id_a, y.rep AS id_b,
        |  CAST(list_sum([x.qv[i] * y.qv[i]
        |       FOR i IN range(1, len(x.qv) + 1)]) AS BIGINT) AS qdot,
        |  x.n_copies AS n_copies_a, y.n_copies AS n_copies_b
        |FROM g x JOIN g y ON x.label = y.label AND x.rep < y.rep
        |WHERE CAST(list_sum([x.qv[i] * y.qv[i]
        |      FOR i IN range(1, len(x.qv) + 1)]) AS BIGINT) > 250000""".stripMargin,
    "e04_embedding_neardup" ->
      """SELECT x.vec_id AS id_a, y.vec_id AS id_b,
        |  CAST(list_sum([CAST(round(CAST(x.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |               * CAST(round(CAST(y.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |                 FOR i IN range(1, len(x.embedding) + 1)]) AS BIGINT) AS qdot
        |FROM embeddings x JOIN embeddings y
        |  ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE CAST(list_sum([CAST(round(CAST(x.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |                   * CAST(round(CAST(y.embedding[i] AS DOUBLE) * 1000) AS BIGINT)
        |                     FOR i IN range(1, len(x.embedding) + 1)]) AS BIGINT)
        |      > 250000""".stripMargin)
}
