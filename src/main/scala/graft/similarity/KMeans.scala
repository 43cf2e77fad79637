package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CheckpointPolicy

/** Lloyd's k-means over an `array<float>` embedding column — the coarse
  * quantizer for IVF similarity search when no cluster labels ship with
  * the data. UDF-free and fully deterministic:
  *
  *  - seeds are the k vectors with the smallest `xxhash64(id)` — a
  *    deterministic pseudo-random sample, no RNG state;
  *  - assignment scores every (item, centroid) pair with the codegen'd
  *    quantized dot product and picks the cell with `min_by`, ties broken
  *    by cell id. Centroids are broadcast (k rows), so assignment is a
  *    narrow map over the corpus — no shuffle of the items;
  *  - update recomputes each cell's mean by positional explode +
  *    avg per (cell, dim) — one shuffle keyed by (cell, dim), k*dim groups.
  *
  * Scale: per iteration the corpus is read once, shuffled only as
  * (cell, dim, component) triples. Squared L2 distance uses the
  * |a|^2 + |b|^2 - 2ab identity so the same quantized dot kernel serves
  * both distance and similarity.
  */
object KMeans {

  /** Assign every item to its nearest centroid.
    * `centroids`: (cell, cv: array<float>); output (idCol, cell).
    */
  def assign(items: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val scored = items.select(col(idCol), col(vecCol).as("_v"))
      .join(broadcast(centroids.select(col("cell"), col("cv"))))
      .select(
        col(idCol), col("cell"),
        // squared L2 in quantized space: |v|^2 + |c|^2 - 2 v.c
        (Ann.quantizedDot(col("_v"), col("_v"))
          + Ann.quantizedDot(col("cv"), col("cv"))
          - lit(2L) * Ann.quantizedDot(col("_v"), col("cv"))).as("_d2"))
    scored.groupBy(col(idCol))
      .agg(min_by(col("cell"), struct(col("_d2"), col("cell"))).as("cell"))
  }

  /** Centroid of each cell: positional explode -> mean per (cell, dim) ->
    * repack in dim order. Output (cell, cv: array<float>).
    */
  def recompute(items: DataFrame, assignments: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    items.select(col(idCol), col(vecCol).as("_v"))
      .join(assignments, Seq(idCol))
      .select(col("cell"), posexplode(col("_v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("cell"),
        transform(col("pairs"), p => p.getField("cx").cast("float")).as("cv"))

  /** Deterministic farthest-first seeding (Gonzalez'85, the greedy
    * k-center heuristic k-means++ approximates) over a hash-sampled
    * candidate pool: ONE Spark job collects the `poolSize` vectors with
    * the smallest `xxhash64(id)` — a deterministic uniform sample, no
    * RNG state — and the greedy selection runs driver-side on the pool
    * with the same quantized arithmetic as the distributed path. Seed 1
    * is the pool's smallest-hash vector; each next seed maximizes the
    * quantized distance to its nearest chosen seed, ties broken by
    * (hash, id) pool order. Farthest-first never places two seeds in
    * one dense cluster, so Lloyd's iteration starts near the real
    * partition.
    *
    * Pool defaults to 64·k: at coarse-quantizer k every real cluster of
    * relative mass ≥ 1/(8k) lands candidates in the pool with near
    * certainty, and the driver-side greedy is O(pool·k·dim) — microseconds.
    * The previous formulation ran one FULL corpus pass per seed (k
    * sequential jobs); at 100 TB that is k scans for a quantizer the
    * pool sample seeds just as well.
    */
  def farthestFirstSeeds(items: DataFrame, idCol: String, vecCol: String,
      k: Int, poolSize: Int = 0): DataFrame = {
    import items.sparkSession.implicits._
    require(k >= 1, s"farthestFirstSeeds: k must be >= 1, got $k")
    val pool = if (poolSize > 0) poolSize else 64 * k
    val cand: Array[Array[Float]] = items
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .orderBy(xxhash64(col("_id")), col("_id"))
      .limit(pool)
      .select(col("_v"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).toArray)
    require(cand.length >= k,
      s"farthestFirstSeeds: asked for k=$k seeds but only ${cand.length} " +
        s"candidate vectors exist (input rows < k, or poolSize=$pool too " +
        "small); downstream IVF builders require exactly k cells")

    import graft.functions.QuantizedDot.q
    def qdot(a: Array[Float], b: Array[Float]): Long = {
      val n = math.min(a.length, b.length)
      var acc = 0L; var i = 0
      while (i < n) { acc += q(a(i)) * q(b(i)); i += 1 }
      acc
    }
    val norm = cand.map(v => qdot(v, v))
    def d2(i: Int, s: Array[Float], sn: Long): Long =
      norm(i) + sn - 2L * qdot(cand(i), s)

    val seeds = scala.collection.mutable.ArrayBuffer(cand(0))
    val nearest = Array.tabulate(cand.length)(i => d2(i, cand(0), norm(0)))
    while (seeds.size < k) {
      var best = 0; var i = 1
      while (i < cand.length) { if (nearest(i) > nearest(best)) best = i; i += 1 }
      val s = cand(best); val sn = norm(best)
      seeds += s
      var j = 0
      while (j < cand.length) {
        val d = d2(j, s, sn)
        if (d < nearest(j)) nearest(j) = d
        j += 1
      }
    }
    seeds.toSeq.map(_.toSeq).zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "cv")
      .select(col("cell"), col("cv").cast("array<float>").as("cv"))
  }

  /** Fit k cells with `maxIterations` Lloyd rounds from farthest-first
    * seeds; returns the final (cell, cv) centroids. Centroids are tiny
    * (k rows) — each round's frame is collected into a broadcast on the
    * next assignment.
    *
    * A cell that loses every member in a round keeps its previous
    * centroid instead of vanishing — `fit` always returns exactly k
    * cells with dense ids, so `ivfTopK(nprobe)` probes the codebook size
    * it asked for.
    *
    * `fitSampleSize > 0` runs every Lloyd round on a bounded
    * deterministic sample — the `fitSampleSize` vectors with the smallest
    * `xxhash64(id)`, the same device as the seed pool — instead of the
    * full corpus. This is the 100 TB shape: an unsampled fit reads the
    * corpus ~2x per round (assignment + update), while a coarse quantizer
    * estimated from a few-hundred-thousand-vector sample is statistically
    * indistinguishable for IVF probing and leaves the full corpus to be
    * touched exactly once, by the final assignment. With
    * `fitSampleSize >= corpus size` the sample IS the corpus and the
    * result is identical to the unsampled fit (AnnSpec pins this).
    */
  def fit(items: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIterations: Int = 10,
      fitSampleSize: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val all = items.select(col(idCol), col(vecCol))
    // pinned so the sample's (bounded) top-n funnel is paid once, not once
    // per Lloyd round; re-spread after the single-partition limit so the
    // rounds keep full parallelism
    val it =
      if (fitSampleSize <= 0) all
      else CheckpointPolicy.pin(
        all.orderBy(xxhash64(col(idCol)), col(idCol)).limit(fitSampleSize)
          .repartition(col(idCol)))
    var centroids = CheckpointPolicy.pin(farthestFirstSeeds(it, idCol, vecCol, k))
    var i = 0
    while (i < maxIterations) {
      val assignments = assign(it, centroids, idCol, vecCol)
      val fresh = recompute(it, assignments, idCol, vecCol)
      centroids = CheckpointPolicy.pin(
        centroids.select(col("cell"), col("cv").as("_prev"))
          .join(fresh, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("cv"), col("_prev")).as("cv")))
      i += 1
    }
    centroids
  }

  /** Fit + assign: (idCol, cell) cluster labels for every item. The full
    * corpus is always assigned; `fitSampleSize` bounds only what the
    * Lloyd rounds read. */
  def fitPredict(items: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIterations: Int = 10,
      fitSampleSize: Int = 0): DataFrame =
    assign(items,
      fit(items, idCol, vecCol, k, maxIterations, fitSampleSize),
      idCol, vecCol)

  // --- portable (cross-engine-replayable) variant --------------------------
  //
  // Same Lloyd's iteration, but every arithmetic step is exactly
  // reproducible by any SQL engine, so the whole fit can be replayed as an
  // oracle query:
  //  - seeds are the k items with the smallest (sha256(id-as-string), id)
  //    — Forgy seeding by a cross-engine hash instead of the xxhash64
  //    farthest-first pool (which only Spark can compute);
  //  - centroids are the exact per-cell SUMS of quantized components plus
  //    the member count, never a floating-point mean;
  //  - the assignment rank key drops the constant |v|^2 term and computes
  //    -2*dot(q(v),S)/n + |S|^2/n^2 with exact i64 dots and exactly two
  //    correctly-rounded IEEE-754 divisions and one addition — identical
  //    bits on every engine; ties break on cell id.
  // Runs exactly `maxIterations` rounds (no early-exit: a converged round
  // is a no-op, so a fixed count matches any engine's early stop).

  private def quantized(vecCol: String): Column =
    expr(s"transform(`$vecCol`, x -> cast(round(cast(x as double) * 1000) as bigint))")

  /** Assignment against integer-sum centroids (cell, cs: array<long>,
    * n, ss = |cs|^2). Output (idCol, cell). */
  def assignPortable(items: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val score =
      (lit(-2L) * graft.functions.FloatLongDot(col("_v"), col("cs"))).cast("double") /
        col("n").cast("double") +
        col("ss").cast("double") / (col("n") * col("n")).cast("double")
    items.select(col(idCol), col(vecCol).as("_v"))
      .join(broadcast(centroids.select(col("cell"), col("cs"), col("n"), col("ss"))))
      .select(col(idCol), col("cell"), score.as("_s"))
      .groupBy(col(idCol))
      .agg(min_by(col("cell"), struct(col("_s"), col("cell"))).as("cell"))
  }

  /** |S|^2 as an exact i64 — with a LOUD overflow guard. DuckDB raises on
    * bigint overflow while non-ANSI Spark wraps silently, so an unguarded
    * sum-of-squares breaks the "bit-identical across engines" contract
    * exactly at large-cell scale: a cell of n members holds component sums
    * |cs_i| ~ n * 1000 * |x_i|, and dims * max(cs_i)^2 crosses 2^63 around
    * n ~ 4e8 members at 64 dims / unit-scale floats. The guard enforces the
    * sufficient per-component bound max|cs_i| <= floor(sqrt((2^63-1)/dims))
    * — conservative by at most the dims factor — and raises loudly
    * Spark-side, mirroring DuckDB, instead of corrupting ranks.
    */
  private def withSs(centroids: DataFrame): DataFrame =
    centroids.withColumn("ss",
      when(
        expr("aggregate(cs, 0L, (a, x) -> greatest(a, abs(x)))").cast("double")
          <= floor(sqrt(lit(Long.MaxValue).cast("double") /
               greatest(size(col("cs")), lit(1)).cast("double"))),
        expr("aggregate(cs, 0L, (a, x) -> a + x * x)"))
        .otherwise(raise_error(concat(
          lit("graft.KMeans: centroid sum-of-squares would overflow i64 "),
          lit("(cell "), col("cell").cast("string"),
          lit(", n="), col("n").cast("string"),
          lit(") — reduce quantization scale or split the cell")))))

  /** Portable fit: integer-sum centroids after `maxIterations` Lloyd
    * rounds from sha256-Forgy seeds. Output (cell, cs, n, ss).
    *
    * `fitSampleSize > 0` fits on the `fitSampleSize` items with the
    * smallest (sha256(id), id) — the SAME key that picks the Forgy seeds,
    * so the sampled fit draws identical seeds to the full fit and, with
    * `fitSampleSize >= corpus size`, is bit-identical to it (the sample
    * becomes the whole corpus). See [[fit]] for the 100 TB rationale.
    */
  def fitPortable(items: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIterations: Int = 10,
      fitSampleSize: Int = 0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val all = items.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val it =
      if (fitSampleSize <= 0) all
      else CheckpointPolicy.pin(
        all.orderBy(sha2(col("_id").cast("string"), 256), col("_id"))
          .limit(fitSampleSize)
          .repartition(col("_id")))
    val seedKey = sha2(col("_id").cast("string"), 256)
    // top-k by (hash, id): TakeOrderedAndProject, then a k-row window
    // assigns dense cell ids in the same order
    val seeds = it.orderBy(seedKey, col("_id")).limit(k)
      .withColumn("cell",
        row_number().over(Window.orderBy(seedKey, col("_id"))) - 1)
    var centroids = CheckpointPolicy.pin(withSs(seeds.select(
      col("cell").cast("long").as("cell"),
      quantized("_v").as("cs"),
      lit(1L).as("n"))))
    var i = 0
    while (i < maxIterations) {
      val assignments = assignPortable(it, centroids, "_id", "_v")
      val comp = it.join(assignments, Seq("_id"))
        .select(col("cell"), posexplode(quantized("_v")).as(Seq("dim", "x")))
      // n = per-dim row count, exact iff vector lengths are uniform in the
      // cell; ragged lengths raise loudly (same device as Ann.ivfTopK — a
      // separate count over `assignments` would re-run the whole
      // corpus-by-k assignment a second time per round)
      val fresh = comp.groupBy(col("cell"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("nd"))
        .groupBy(col("cell"))
        .agg(
          array_sort(collect_list(struct(col("dim"), col("sx")))).as("pairs"),
          min(col("nd")).as("_nmin"), max(col("nd")).as("_nmax"))
        .select(col("cell"),
          transform(col("pairs"), p => p.getField("sx")).as("cs"),
          when(col("_nmin") === col("_nmax"), col("_nmax"))
            .otherwise(raise_error(concat(
              lit("graft.KMeans: ragged vector lengths in cell "),
              col("cell").cast("string"),
              lit(" — member count is ill-defined; pad or filter to uniform dims"))))
            .as("n"))
      // a cell that loses every member keeps its previous centroid, like fit
      centroids = CheckpointPolicy.pin(withSs(
        centroids.select(col("cell"), col("cs").as("_pc"), col("n").as("_pn"))
          .join(fresh, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("cs"), col("_pc")).as("cs"),
            coalesce(col("n"), col("_pn")).as("n"))))
      i += 1
    }
    centroids
  }

  /** Portable fit + assign: (idCol, cell) labels, bit-identical to a SQL
    * replay of the same seeding and iteration. The full corpus is always
    * assigned; `fitSampleSize` bounds only what the Lloyd rounds read. */
  def fitPredictPortable(items: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIterations: Int = 10,
      fitSampleSize: Int = 0): DataFrame = {
    val labels = assignPortable(
      items.select(col(idCol).as("_id"), col(vecCol).as("_v")),
      fitPortable(items, idCol, vecCol, k, maxIterations, fitSampleSize),
      "_id", "_v")
    labels.select(col("_id").as(idCol), col("cell"))
  }
}
