package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the memory layout that makes
  * billion-vector search feasible: split each D-dim vector into `m`
  * subvectors, k-means each subspace to `ksub` centroids, store each
  * vector as `m` small codes. A query never touches raw corpus vectors
  * again: it scores the m * ksub codebook once per subspace (the ADC
  * lookup table), and every corpus vector's approximate dot is the sum of
  * m table lookups — a D-dim float read becomes an m-byte read, the
  * bandwidth win that matters at 100 TB.
  *
  * Everything is expressed relationally, UDF-free:
  *  - training = `m` independent [[KMeans]] fits over sliced columns
  *    (each inherits `fitSampleSize`, so training never scans the corpus
  *    more than the final encode pass does);
  *  - encoding = `m` broadcast-assign passes, long format (id, subspace,
  *    code) — one narrow frame, no row ever wider than three ints;
  *  - ADC scoring = the lookup table IS a broadcast equi-join: query x
  *    codebook partial dots (m * ksub rows per query) joined to the
  *    encoded corpus on (subspace, code), then one map-side-combinable
  *    sum per (query, vector). No shuffle of the corpus, no raw-vector
  *    reads, no cartesian anywhere.
  *
  * Like the other approximate paths (LSH, IVF probing), ADC ranking is
  * spec-verified by recall against the exact scan rather than
  * oracle-replayed (the m codebooks would need m unrolled Lloyd replays);
  * the exact paths it approximates (e01/e07) and the learned-quantizer
  * machinery it reuses (e05/e06) are all hash-verified.
  */
object Pq {

  /** `codebooks`: (subspace, code, cv) — m * ksub rows. */
  final case class PqModel(codebooks: DataFrame, m: Int, subDim: Int)

  private def subVec(vecCol: String, j: Int, subDim: Int) =
    slice(col(vecCol), j * subDim + 1, subDim)

  /** Train m codebooks of `ksub` centroids each. `dims` must be divisible
    * by `m`; vectors are assumed uniform-length (the KMeans fit raises
    * loudly otherwise). */
  def fit(items: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int,
      maxIterations: Int = 5, fitSampleSize: Int = 0): PqModel = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    // the m subspace fits are INDEPENDENT deterministic k-means runs
    // (content-hash seeding, method-local state only), each a chain of
    // small latency-bound driver jobs — run them as concurrent Spark job
    // streams so the scheduler interleaves the slack (the SCC device)
    val books = concurrently(0 until m) { j =>
      CheckpointPolicy.pin(KMeans.fit(
        items.select(col(idCol), subVec(vecCol, j, subDim).as("_sv")),
        idCol, "_sv", ksub, maxIterations,
        fitSampleSize = fitSampleSize)
        .select(lit(j).as("subspace"), col("cell").cast("int").as("code"), col("cv")))
    }
    PqModel(CheckpointPolicy.pin(books.reduce(_ unionByName _)), m, subDim)
  }

  /** Run independent per-subspace builds as concurrent Spark job
    * streams; each thunk must be deterministic and self-contained. The
    * results are pinned inside their own thread
    * so no lazy plan escapes the concurrency scope. */
  private def concurrently[A](js: Range)(f: Int => A): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(js.map(j => Future(f(j)))), Duration.Inf)
  }

  /** Encode every vector as m (subspace, code) rows — the compact corpus
    * representation ADC scoring reads instead of raw vectors. */
  def encode(items: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    (0 until model.m).map { j =>
      KMeans.assign(
        items.select(col(idCol), subVec(vecCol, j, model.subDim).as("_sv")),
        model.codebooks.filter(col("subspace") === j)
          .select(col("code").cast("long").as("cell"), col("cv")),
        idCol, "_sv")
        .select(col(idCol), lit(j).as("subspace"), col("cell").cast("int").as("code"))
    }.reduce(_ unionByName _)

  /** Approximate top-k by ADC: per-query lookup tables (quantized dot of
    * each query subvector with each codebook centroid) broadcast-joined
    * to the encoded corpus, summed per (query, vector). Output
    * (qid, nid, adc). `encoded` is [[encode]]'s output for the corpus.
    */
  /** Portable PQ model: codebooks carry the INTEGER-SUM centroid columns
    * of [[KMeans.fitPortable]] — (subspace, cell, cs, n, ss) — so every
    * downstream step is exact-integer + correctly-rounded-IEEE, replayable
    * bit for bit by a SQL oracle. */
  final case class PqPortableModel(codebooks: DataFrame, m: Int, subDim: Int)

  /** Train m portable codebooks. Every subspace fit samples and seeds by
    * the SAME (sha256(id), id) key, so one sampled row set drives all m
    * fits — the oracle replays them from a single shared CTE. */
  def fitPortable(items: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int, ksub: Int,
      maxIterations: Int = 5, fitSampleSize: Int = 0): PqPortableModel = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val subDim = dims / m
    // independent deterministic fits -> concurrent job streams (see fit)
    val books = concurrently(0 until m) { j =>
      CheckpointPolicy.pin(KMeans.fitPortable(
        items.select(col(idCol), subVec(vecCol, j, subDim).as("_sv")),
        idCol, "_sv", ksub, maxIterations, fitSampleSize = fitSampleSize)
        .select(lit(j).as("subspace"), col("cell"), col("cs"), col("n"), col("ss")))
    }
    PqPortableModel(CheckpointPolicy.pin(books.reduce(_ unionByName _)), m, subDim)
  }

  /** Portable encode: per-subspace [[KMeans.assignPortable]] (exact-integer
    * rank key). Output (idCol, subspace, code). */
  def encodePortable(items: DataFrame, idCol: String, vecCol: String,
      model: PqPortableModel): DataFrame =
    (0 until model.m).map { j =>
      KMeans.assignPortable(
        items.select(col(idCol), subVec(vecCol, j, model.subDim).as("_sv")),
        model.codebooks.filter(col("subspace") === j),
        idCol, "_sv")
        .select(col(idCol), lit(j).as("subspace"), col("cell").cast("int").as("code"))
    }.reduce(_ unionByName _)

  /** Per-(query, subspace, code) ADC lookup tables on the portable rank
    * key: partial = round(float_long_dot(q_sub, cs) / n) — ONE correctly
    * rounded IEEE division and one half-away-from-zero round, then exact
    * i64 all the way (integer partials sum identically in any order, so
    * the map-side-combined aggregation is engine- and partitioning-proof).
    */
  private def adcParts(queries: DataFrame, idCol: String, vecCol: String,
      model: PqPortableModel): DataFrame =
    (0 until model.m).map { j =>
      queries.select(col(idCol).as("qid"), subVec(vecCol, j, model.subDim).as("_qs"))
        .join(broadcast(model.codebooks.filter(col("subspace") === j)), expr("true"))
        .select(col("qid"), col("subspace"),
          col("cell").cast("int").as("code"),
          round(graft.functions.FloatLongDot(col("_qs"), col("cs")).cast("double")
            / col("n").cast("double")).cast("bigint").as("_part"))
    }.reduce(_ unionByName _)

  private def adcTopKFromScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Portable ADC top-k over the whole encoded corpus. Output
    * (qid, nid, adc); ties break on nid. Same broadcast-lookup plan shape
    * as [[adcTopK]]: the corpus never shuffles its codes more than once,
    * queries x codebook stays tiny. */
  def adcTopKPortable(encoded: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, model: PqPortableModel, k: Int): DataFrame = {
    val scored = encoded
      .join(broadcast(adcParts(queries, idCol, vecCol, model)), Seq("subspace", "code"))
      .filter(col(idCol) =!= col("qid"))
      .groupBy(col("qid"), col(idCol).as("nid"))
      .agg(sum(col("_part")).as("adc"))
    adcTopKFromScored(scored, k)
  }

  /** IVF-PQ, portable end to end — the standard billion-vector serving
    * layout (FAISS IVFPQ without the residual step): a coarse quantizer
    * prunes the corpus to `nprobe` of `coarseK` cells, and inside probed
    * cells ADC reads m small codes per vector instead of D floats. The
    * stored corpus is (cell, m codes) — raw vectors are never read by the
    * query path at all, which is the whole point at 100 TB: storage
    * bandwidth drops by ~D*4/m bytes per vector AND the probe skips
    * (coarseK - nprobe)/coarseK of even that.
    *
    * Both quantizers fit on the SAME bounded deterministic sample (one
    * shared ORDER BY sha256(id) LIMIT), every rank key is exact-integer +
    * correctly-rounded-IEEE, so a SQL oracle replays coarse fit, m
    * codebook fits, encode, probe and ADC bit for bit.
    */
  final case class IvfPqPortableModel(
      coarse: DataFrame,   // (cell, cs, n, ss) — coarse integer-sum centroids
      cells: DataFrame,    // (idCol, cell)     — coarse assignment of the corpus
      pq: PqPortableModel, // m codebooks
      encoded: DataFrame)  // (idCol, subspace, code)

  def fitIvfPqPortable(items: DataFrame, idCol: String, vecCol: String,
      dims: Int, coarseK: Int, m: Int, ksub: Int,
      maxIterations: Int = 5, fitSampleSize: Int = 0): IvfPqPortableModel = {
    // the coarse quantizer fit and the m codebook fits are INDEPENDENT
    // deterministic Lloyd runs over the same input — overlap them as
    // concurrent job streams (OPTIMIZATION_r17, the `concurrently` /
    // SCC device, guide §2.6): each is a chain of small latency-bound
    // driver jobs that rarely saturates the executors alone
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val coarseF = Future(CheckpointPolicy.pin(KMeans.fitPortable(items, idCol, vecCol, coarseK,
      maxIterations, fitSampleSize = fitSampleSize)))
    val pqF = Future(fitPortable(items, idCol, vecCol, dims, m, ksub,
      maxIterations, fitSampleSize))
    val coarse = Await.result(coarseF, Duration.Inf)
    val cells = KMeans.assignPortable(
      items.select(col(idCol), col(vecCol)), coarse, idCol, vecCol)
    val pq = Await.result(pqF, Duration.Inf)
    IvfPqPortableModel(coarse, cells, pq,
      encodePortable(items, idCol, vecCol, pq))
  }

  /** Probe + ADC over an [[IvfPqPortableModel]]: queries rank coarse
    * cells by the exact-integer centroid dot (same key as
    * [[Ann.ivfTopK]]), candidates are the probed cells' members, ADC
    * scores them from codes alone. Output (qid, nid, adc).
    *
    * Plan shape: the probed (qid, cell) frame and the per-query lookup
    * tables are broadcast; the corpus-side work is ONE keyed join of
    * `cells` to `encoded` on the id — no corpus self-join, no raw-vector
    * reads, no cartesian. */
  def ivfAdcTopKPortable(model: IvfPqPortableModel, queries: DataFrame,
      idCol: String, vecCol: String, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeScore =
      graft.functions.FloatLongDot(col("_qv"), col("cs")).cast("double") /
        col("n").cast("double")
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("_s").desc, col("cell"))
    val probed = queries.select(col(idCol).as("qid"), col(vecCol).as("_qv"))
      .join(broadcast(model.coarse), expr("true"))
      .select(col("qid"), col("cell"), probeScore.as("_s"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cell"))
    val cand = model.cells.join(broadcast(probed), Seq("cell"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol))
    val scored = cand.join(model.encoded, Seq(idCol))
      .join(broadcast(adcParts(queries, idCol, vecCol, model.pq)),
        Seq("qid", "subspace", "code"))
      .groupBy(col("qid"), col(idCol).as("nid"))
      .agg(sum(col("_part")).as("adc"))
    adcTopKFromScored(scored, k)
  }

  /** Two-stage retrieval: IVF-PQ produces a `shortlist`-sized candidate
    * set per query from codes alone (cheap, approximate), then ONLY those
    * `|queries| * shortlist` raw vectors are read back for an exact
    * quantized-dot re-rank — the standard serving pattern (shortlist with
    * a compressed index, re-rank with exact math) that recovers most of
    * the recall ADC loses while still never scanning the corpus's raw
    * vectors. Output (qid, nid, qdot); ties break on nid.
    *
    * Plan shape: the shortlist (tiny) is broadcast against `items`, so
    * the re-rank is one keyed broadcast join + per-pair dot — the corpus
    * is scanned once, never shuffled, and raw-vector bandwidth is
    * `|queries| * shortlist` rows regardless of corpus size. With
    * `shortlist` >= the corpus size and `nprobe` = coarseK this
    * degenerates to the exact scan (the spec's identity check).
    */
  def ivfAdcRerankTopKPortable(model: IvfPqPortableModel, items: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      nprobe: Int, shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    import org.apache.spark.sql.expressions.Window
    val short = ivfAdcTopKPortable(model, queries, idCol, vecCol,
      nprobe, shortlist).select(col("qid"), col("nid"))
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("_qv"))
    val scored = items.select(col(idCol).as("nid"), col(vecCol).as("_nv"))
      .join(broadcast(short), Seq("nid"))
      .join(broadcast(qv), Seq("qid"))
      .select(col("qid"), col("nid"),
        Ann.quantizedDot(col("_qv"), col("_nv")).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  def adcTopK(encoded: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, model: PqModel, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = (0 until model.m).map { j =>
      queries.select(col(idCol).as("qid"), subVec(vecCol, j, model.subDim).as("_qs"))
        .join(broadcast(model.codebooks.filter(col("subspace") === j)),
          expr("true"))
        .select(col("qid"), col("subspace"), col("code"),
          Ann.quantizedDot(col("_qs"), col("cv")).as("_part"))
    }.reduce(_ unionByName _)
    val scored = encoded
      .join(broadcast(parts), Seq("subspace", "code"))
      .filter(col(idCol) =!= col("qid"))
      .groupBy(col("qid"), col(idCol).as("nid"))
      .agg(sum(col("_part")).as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }
}
