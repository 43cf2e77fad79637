package graft

import org.apache.spark.sql.functions._

import graft.similarity.Ann

class AnnSpec extends SparkSpec {

  /** deterministic clustered vectors: 4 clusters of 20 points in 8 dims */
  private def clustered() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(4, 8)(rnd.nextGaussian() * 3)
    val rows = for {
      c <- 0 until 4
      i <- 0 until 20
    } yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.3).toFloat)
      (c * 20L + i, v.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("quantizedDot: exact integer value") {
    import spark.implicits._
    val df = Seq((Seq(0.1f, 0.2f, 0.3f), Seq(0.4f, 0.5f, 0.6f))).toDF("a", "b")
    val got = df.select(Ann.quantizedDot(col("a"), col("b"))).head().getLong(0)
    assert(got === 100L * 400 + 200 * 500 + 300 * 600) // 320000
  }

  test("semanticContamination flags planted leaks, best-hit tie-breaks to smallest eval id") {
    import spark.implicits._
    val v = Seq(1.0f, 0.0f, 0.0f)
    val corpus = Seq(
      (100L, v),                          // exact leak of eval 1 AND 2
      (101L, Seq(0.9f, 0.1f, 0.0f)),      // paraphrase-close
      (102L, Seq(0.0f, 0.0f, 1.0f)))      // clean
      .toDF("vec_id", "embedding")
    val eval = Seq((1L, v), (2L, v), (3L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Ann.semanticContamination(corpus, eval, "vec_id", "embedding",
        minDot = 500000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // 100 hits BOTH identical eval vectors (dot 1e6 each); the tie on
    // dot breaks to the smaller eval id
    assert(got(100L) === ((2L, 1L, 1000000L)))
    // 101 clears the bar against them too (dot = 900*1000 = 900000)
    assert(got(101L) === ((2L, 1L, 900000L)))
    assert(!got.contains(102L), "orthogonal corpus vector must pass clean")
  }

  test("cosine top-k ranks by angle, not magnitude; scores bounded") {
    import spark.implicits._
    val items = Seq(
      (0L, Seq(1.0f, 0.0f)),    // query
      (1L, Seq(9.0f, 9.0f)),    // big norm, 45 degrees
      (2L, Seq(0.2f, 0.01f)),   // small norm, nearly collinear
      (3L, Seq(-1.0f, 0.0f)))   // opposite
      .toDF("vec_id", "embedding")
    val got = Ann.bruteForceCosineTopK(items,
        items.filter(col("vec_id") === 0L), "vec_id", "embedding", 3)
      .orderBy(col("cos").desc)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // nearly-collinear tiny vector beats the large 45-degree one
    assert(got.map(_._1).toSeq === Seq(2L, 1L, 3L))
    assert(got.forall { case (_, c) => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9 })
    assert(math.abs(got(2)._2 - (-1.0)) < 1e-9)
  }

  test("brute-force top-k returns k best by dot with id tiebreak") {
    val items = clustered()
    val q = items.filter(col("vec_id") === 0L)
    val res = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
    assert(res.count() === 5)
    // all neighbours of a cluster-0 query are cluster-0 points
    val nids = res.select("nid").collect().map(_.getLong(0))
    assert(nids.forall(_ < 20L))
  }

  test("filteredTopK: same-group neighbors only, equal to per-group brute force") {
    import spark.implicits._
    val items = clustered().withColumn("grp", (col("vec_id") % 2).cast("int"))
    val q = items.filter(col("vec_id") < 4L)
    val got = Ann.filteredTopK(items, q, "vec_id", "embedding", "grp", 3)
    // every neighbor shares its query's parity group
    got.collect().foreach(r =>
      assert(r.getLong(0) % 2 === r.getLong(1) % 2,
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s group"))
    // and per group the result IS the brute-force top-k over that group
    (0 to 1).foreach { g =>
      val sub = items.filter(col("grp") === g)
      val expect = Ann.bruteForceTopK(sub, q.filter(col("grp") === g),
        "vec_id", "embedding", 3)
      assert(rowSet(got.join(expect.select("qid").distinct(), Seq("qid"), "left_semi"))
        === rowSet(expect))
    }
  }

  test("IVF top-k achieves high recall vs brute force") {
    val items = clustered()
    val q = items.filter(col("vec_id") % 20 === 0) // one query per cluster
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(items, q, "vec_id", "embedding", "label", 5, nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall")
  }

  test("dedupedNearDupPairs collapses identical vectors; counts expand to the raw pair set") {
    import spark.implicits._
    // two distinct near-dup vectors in cell 0 (3 and 2 exact copies) plus
    // an unrelated cell-1 vector: the raw same-cell query pays 3*2 cross
    // pairs + 3 + 1 intra pairs; the deduped path emits ONE rep pair
    val a = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    val b = Seq(1.0f, 2.0f, 3.0f, 3.9f)
    val c = Seq(-5.0f, 0.0f, 0.0f, 0.1f)
    val items = Seq(
      (1L, a, 0), (2L, a, 0), (3L, a, 0),
      (10L, b, 0), (11L, b, 0),
      (20L, c, 1))
      .toDF("vec_id", "embedding", "label")
    val got = Ann.dedupedNearDupPairs(items, "vec_id", "embedding", "label",
      minDot = 25000L).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) === (1L, 10L))
    assert((r.getAs[Long]("n_copies_a"), r.getAs[Long]("n_copies_b")) === (3L, 2L))
    // the rep-pair qdot equals the raw pair qdot (members score identically)
    val rawDot = items.filter(col("vec_id").isin(1L, 10L))
      .agg(collect_list(col("embedding"))).head()
      .getAs[scala.collection.Seq[scala.collection.Seq[Float]]](0)
    assert(r.getAs[Long]("qdot") ===
      rawDot(0).zip(rawDot(1)).map { case (x, y) =>
        math.round(x * 1000.0) * math.round(y * 1000.0) }.sum)
    // cross-cluster expansion: n_copies_a * n_copies_b reproduces the raw
    // same-cell pair count between the two clusters
    assert(r.getAs[Long]("n_copies_a") * r.getAs[Long]("n_copies_b") === 6L)
    val groups = Ann.embeddingExactGroups(items, "vec_id", "embedding", Seq("label"))
    val m = groups.collect().map(g =>
      g.getAs[Long]("rep_id") ->
        (g.getAs[Long]("n_copies"), g.getAs[scala.collection.Seq[Long]]("ids").toSeq)).toMap
    assert(m(1L) === ((3L, Seq(1L, 2L, 3L))))
    assert(m(10L) === ((2L, Seq(10L, 11L))))
    assert(m(20L) === ((1L, Seq(20L))))
  }

  test("k-means recovers planted clusters and the learned-cell IVF keeps recall") {
    import graft.similarity.KMeans
    val items = clustered()
    val labels = KMeans.fitPredict(items, "vec_id", "embedding", k = 4, maxIterations = 5)
    // purity: every learned cell should be dominated by one true cluster
    val joined = items.select(col("vec_id"), (col("vec_id") / 20).cast("int").as("truth"))
      .join(labels, Seq("vec_id"))
      .groupBy(col("cell"), col("truth")).count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val byCell = joined.groupBy(_._1).values
    val purity = byCell.map(g => g.map(_._3).max).sum.toDouble /
      byCell.map(g => g.map(_._3).sum).sum
    assert(purity >= 0.9, s"k-means purity $purity")

    // IVF over learned cells keeps recall vs brute force
    val withCell = items.join(labels, Seq("vec_id"))
    val q = withCell.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(withCell, q, "vec_id", "embedding", "cell", 5, nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"learned-cell IVF recall $recall")
  }

  test("LSH top-k candidates are a subset of items and recall is nontrivial") {
    val items = clustered()
    val q = items.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(items, q, "vec_id", "embedding", 5, bits = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same-cluster points agree on most hyperplane signs => decent recall
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall")
  }

  test("portable LSH keeps recall like the float-dot variant") {
    val items = clustered()
    val q = items.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.lshTopK(items, q, "vec_id", "embedding", 5, bits = 4,
        portable = true)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, s"portable LSH recall $recall")
  }

  test("sampled k-means fit: degenerate identity at fitSampleSize >= corpus, recall on a real subsample") {
    import graft.similarity.KMeans
    val items = clustered()
    // fitSampleSize >= corpus: the sample IS the corpus, so the portable
    // fit must be bit-identical to the unsampled fit (shared sha256 key
    // means even the Forgy seeds coincide)
    val full = KMeans.fitPredictPortable(
      items, "vec_id", "embedding", k = 4, maxIterations = 5)
    val degenerate = KMeans.fitPredictPortable(
      items, "vec_id", "embedding", k = 4, maxIterations = 5,
      fitSampleSize = 100000)
    assert(rowSet(degenerate) === rowSet(full),
      "fitSampleSize >= corpus must reproduce the unsampled fit exactly")

    // real subsample: fit on half the corpus, assign everything; the
    // learned quantizer must still give IVF clearly-better-than-random
    // recall (the 100 TB shape: Lloyd never reads the full corpus)
    val labels = KMeans.fitPredict(
      items, "vec_id", "embedding", k = 4, maxIterations = 5,
      fitSampleSize = 40)
    assert(labels.count() === 80L, "assignment must cover the FULL corpus")
    val withCell = items.join(labels, Seq("vec_id"))
    val q = withCell.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(withCell, q, "vec_id", "embedding", "cell", 5, nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.75, s"sampled-fit IVF recall $recall")
  }

  test("PQ: codes are compact and in range, ADC top-k keeps recall vs exact scan") {
    import graft.similarity.Pq
    val items = clustered()
    // ksub=16 on 80 points: fine enough that ADC rank tracks true dots;
    // a coarser book (ksub=4) collapses same-cluster points onto one code
    // and in-cluster order is quantized away entirely
    val model = Pq.fit(items, "vec_id", "embedding", dims = 8, m = 4, ksub = 16)
    assert(model.codebooks.count() === 64L, "4 subspaces x 16 codes")
    val encoded = Pq.encode(items, "vec_id", "embedding", model).localCheckpoint()
    assert(encoded.count() === 320L, "80 vectors x 4 subspace codes")
    val range = encoded.agg(min("code"), max("code")).head()
    assert(range.getInt(0) >= 0 && range.getInt(1) < 16)

    val q = items.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Pq.adcTopK(encoded, q, "vec_id", "embedding", model, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(adc).size.toDouble / exact.size
    // 4 clusters, 2-dim subspaces: same-cluster points share codes, so
    // ADC must at least keep neighbours in-cluster; exact rank inside the
    // cluster is quantized away, hence the modest bar
    assert(recall >= 0.5, s"PQ ADC recall $recall")
    // every retrieved neighbour of a cluster-0 query stays in cluster 0
    val nidsOfQ0 = Pq.adcTopK(encoded, items.filter(col("vec_id") === 0L),
      "vec_id", "embedding", model, 5)
      .select("nid").collect().map(_.getLong(0))
    assert(nidsOfQ0.forall(_ < 20L), s"ADC must not cross clusters: ${nidsOfQ0.toSeq}")

    // plan shape: the corpus-side scoring join must be a KEYED broadcast
    // join on (subspace, code); the only nested-loop crosses are the
    // query x m*ksub-row codebook table builds
    val plan = Pq.adcTopK(encoded, q, "vec_id", "embedding", model, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian in ADC:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"ADC lookup must be keyed:\n$plan")
  }

  test("portable PQ: deterministic, sample-invariant at full size, recall kept, keyed plan") {
    import graft.similarity.Pq
    val items = clustered()
    val model = Pq.fitPortable(items, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 16, maxIterations = 3)
    val again = Pq.fitPortable(items, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 16, maxIterations = 3)
    assert(rowSet(model.codebooks) === rowSet(again.codebooks),
      "portable PQ fit must be deterministic")
    // sampled fit at fitSampleSize >= corpus is the identity
    val sampled = Pq.fitPortable(items, "vec_id", "embedding",
      dims = 8, m = 4, ksub = 16, maxIterations = 3, fitSampleSize = 1000)
    assert(rowSet(model.codebooks) === rowSet(sampled.codebooks),
      "fitSampleSize >= corpus must equal the full fit")

    val encoded = Pq.encodePortable(items, "vec_id", "embedding", model)
      .localCheckpoint()
    assert(encoded.count() === 320L, "80 vectors x 4 subspace codes")
    val q = items.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Pq.adcTopKPortable(encoded, q, "vec_id", "embedding", model, 5)
    val got = adc.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.5, s"portable PQ ADC recall $recall")
    val plan = adc.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian in portable ADC:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"portable ADC lookup must be keyed:\n$plan")
  }

  test("IVF-PQ: full probe equals brute ADC exactly; narrow probe stays in-cluster; keyed plan") {
    import graft.similarity.Pq
    val items = clustered()
    val model = Pq.fitIvfPqPortable(items, "vec_id", "embedding",
      dims = 8, coarseK = 4, m = 4, ksub = 16, maxIterations = 3)
    val q = items.filter(col("vec_id") % 20 === 0)

    // probing EVERY coarse cell makes the candidate set the whole corpus,
    // so IVF-PQ must reproduce brute-force ADC bit for bit — the same
    // full-probe identity the e06 oracle uses for IVF
    val full = Pq.ivfAdcTopKPortable(model, q, "vec_id", "embedding",
      nprobe = 4, k = 5)
    val brute = Pq.adcTopKPortable(model.encoded, q, "vec_id", "embedding",
      model.pq, 5)
    assert(rowSet(full) === rowSet(brute),
      "full-probe IVF-PQ must equal brute ADC")

    // nprobe=1 on well-separated clusters: neighbours stay in the
    // query's own cluster and recall vs the exact scan survives pruning
    val narrow = Pq.ivfAdcTopKPortable(model, q, "vec_id", "embedding",
      nprobe = 1, k = 5)
    val nidsOfQ0 = narrow.filter(col("qid") === 0L)
      .select("nid").collect().map(_.getLong(0))
    assert(nidsOfQ0.forall(_ < 20L),
      s"nprobe=1 must not cross clusters: ${nidsOfQ0.toSeq}")
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = narrow.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-PQ recall $recall")

    val plan = narrow.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian in IVF-PQ:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"candidate+ADC joins must be keyed:\n$plan")
  }

  test("IVF-PQ + exact re-rank: degenerates to the exact scan, beats plain ADC, keyed plan") {
    import graft.similarity.Pq
    val items = clustered()
    val model = Pq.fitIvfPqPortable(items, "vec_id", "embedding",
      dims = 8, coarseK = 4, m = 4, ksub = 16, maxIterations = 3)
    val q = items.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)

    // full probe + shortlist >= corpus: the shortlist IS the corpus and
    // the re-rank IS the exact scan, so the result must be bit-identical
    // to bruteForceTopK (scores included — both are the quantized dot)
    val degenerate = Pq.ivfAdcRerankTopKPortable(model, items, q,
      "vec_id", "embedding", nprobe = 4, shortlist = 1000, k = 5)
    assert(rowSet(degenerate) === rowSet(exact),
      "full-probe full-shortlist re-rank must equal the exact scan")

    // realistic shape: re-ranking a 4x shortlist can only improve on the
    // ADC ranking it starts from (same candidates, exact final scores)
    val exactSet = exact.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcSet = Pq.ivfAdcTopKPortable(model, q, "vec_id", "embedding",
        nprobe = 2, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerank = Pq.ivfAdcRerankTopKPortable(model, items, q,
      "vec_id", "embedding", nprobe = 2, shortlist = 20, k = 5)
    val rerankSet = rerank.select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = exactSet.intersect(adcSet).size.toDouble / exactSet.size
    val rerankRecall = exactSet.intersect(rerankSet).size.toDouble / exactSet.size
    assert(rerankRecall >= adcRecall,
      s"re-rank recall $rerankRecall must be >= plain ADC recall $adcRecall")
    assert(rerankRecall >= 0.5, s"re-rank recall $rerankRecall")

    // plan shape: the re-rank join pulls shortlist rows by KEY — no
    // cartesian, no corpus shuffle beyond the one keyed read-back
    val plan = rerank.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian in re-rank:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"re-rank read-back must be keyed:\n$plan")
  }

  test("portable k-means: deterministic, k cells, and usable IVF recall") {
    import graft.similarity.KMeans
    val items = clustered()
    val labels = KMeans.fitPredictPortable(
      items, "vec_id", "embedding", k = 4, maxIterations = 5)
    val again = KMeans.fitPredictPortable(
      items, "vec_id", "embedding", k = 4, maxIterations = 5)
    assert(rowSet(labels) === rowSet(again), "portable fit must be deterministic")
    val cells = labels.select("cell").distinct().collect().map(_.getLong(0)).sorted
    assert(cells.forall(c => c >= 0 && c < 4))

    // Forgy seeds are a worse start than farthest-first, but full-probe
    // IVF over the learned cells is still exact, and nprobe=2 must beat
    // random cell selection clearly
    val withCell = items.join(labels, Seq("vec_id"))
    val q = withCell.filter(col("vec_id") % 20 === 0)
    val exact = Ann.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Ann.ivfTopK(withCell, q, "vec_id", "embedding", "cell", 5,
        nprobe = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact, "full-probe IVF over portable cells must be exact")
    val ivf = Ann.ivfTopK(withCell, q, "vec_id", "embedding", "cell", 5,
        nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"portable-cell IVF recall $recall")
  }

  test("prototypes: per-cell quota, rank ordered by centroid dot, deterministic") {
    import graft.similarity.KMeans
    val items = clustered()
    val m = 5
    val protos = Ann.prototypes(items, "vec_id", "embedding",
      k = 4, m = m, maxIterations = 5)
    val again = Ann.prototypes(items, "vec_id", "embedding",
      k = 4, m = m, maxIterations = 5)
    assert(rowSet(protos) === rowSet(again), "prototype pick must be deterministic")
    val rows = protos.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every populated cell yields at most m, ranks dense from 1
    rows.groupBy(_._1).foreach { case (cell, rs) =>
      assert(rs.length <= m, s"cell $cell over quota")
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq,
        s"cell $cell ranks not dense")
      // rank order is descending centroid dot
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"cell $cell dots not descending by rank")
    }
    // the picked set per cell is exactly the m best centroid dots among
    // that cell's members (cross-check against a direct recompute)
    val cent = KMeans.fitPortable(items, "vec_id", "embedding",
      k = 4, maxIterations = 5)
    val labels = KMeans.assignPortable(
      items.select(col("vec_id").as("_id"), col("embedding").as("_v")),
      cent, "_id", "_v")
    val direct = items.select(col("vec_id").as("_id"), col("embedding").as("_v"))
      .join(labels, Seq("_id"))
      .join(cent.select(col("cell"), col("cs")), Seq("cell"))
      .select(col("cell"), col("_id"),
        graft.functions.FloatLongDot(col("_v"), col("cs")).as("cdot"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = direct.groupBy(_._1).toSeq.flatMap { case (cell, rs) =>
      rs.sortBy(x => (-x._3, x._2)).take(m).map(x => (cell, x._2)).toSeq
    }.toSet
    assert(rows.map(r => (r._1, r._3)).toSet === expect,
      "prototype membership must equal the direct per-cell top-m")
  }

  test("semantic dedup: transitive chains cluster, exactly one keep each") {
    import spark.implicits._
    // cell 0: A~B and B~C but A!~C (near-dup is not transitive) plus an
    // exact copy of A; cell 1: an isolated vector. quantized dots:
    // A.B = B.C = 1.0*0.5*1e6 = 500000 > 250000; A.C = 0.
    val items = Seq(
      (10L, Seq(1.0f, 0.0f), 0), // A
      (11L, Seq(1.0f, 0.0f), 0), // exact copy of A
      (12L, Seq(0.5f, 0.5f), 0), // B: near A and C
      (13L, Seq(0.0f, 1.0f), 0), // C
      (20L, Seq(1.0f, 1.0f), 1)) // isolated (other cell)
      .toDF("vec_id", "embedding", "label")
    val got = Ann.semanticDedupClusters(
        items, "vec_id", "embedding", "label", minDot = 250000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set(
      (10L, 10L, 1), (11L, 10L, 0), (12L, 10L, 0), (13L, 10L, 0),
      (20L, 20L, 1)))
  }

  test("semantic dedup throws when the CC cap is too small for a chain") {
    import spark.implicits._
    // unit vectors 20° apart in one cell: each is near its neighbours
    // only (cos 20° ≈ 0.94 > 0.9 > cos 40° ≈ 0.77) — a 10-vertex path
    val items = (0 until 10).map { i =>
      val a = math.toRadians(20.0 * i)
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    intercept[IllegalStateException] {
      Ann.semanticDedupClusters(items, "vec_id", "embedding", "label",
        minDot = 900000L, maxIterations = 2).collect()
    }
  }

  test("prefix re-rank: exact when shortlist covers the corpus") {
    val items = clustered()
    val queries = items.filter(col("vec_id") < 3)
    val exact = rowSet(
      Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5))
    val got = rowSet(Ann.prefixRerankTopK(items, queries,
      "vec_id", "embedding", 5, prefixDims = 4, shortlist = 100))
    assert(got === exact)
  }

  test("prefix re-rank: high recall on clustered data with a real shortlist") {
    val items = clustered()
    val queries = items.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Ann.prefixRerankTopK(items, queries,
      "vec_id", "embedding", 5, prefixDims = 4, shortlist = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size === exact.size)
    // half the dimensions still carry the cluster structure: the prefix
    // shortlist should recover nearly all true neighbours
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("int8 SQ: exact when shortlist covers the corpus; high recall at 15") {
    val items = clustered()
    val queries = items.filter(col("vec_id") < 5)
    val exact = rowSet(
      Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5))
    assert(rowSet(Ann.sqInt8TopK(items, queries,
      "vec_id", "embedding", 5, shortlist = 100)) === exact)
    val got = Ann.sqInt8TopK(items, queries,
      "vec_id", "embedding", 5, shortlist = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exactPairs).size.toDouble / exactPairs.size
    // int8 rank error is small but the 15-of-80 shortlist is tight on
    // 8-dim toy vectors; measured 0.88 on this fixture
    assert(recall >= 0.85, s"recall $recall")
  }

  test("binary Hamming search: exact with full shortlist, usable recall at 15") {
    import spark.implicits._
    // 32-dim clustered vectors (dim must be a multiple of 32)
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val items = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + (rnd.nextGaussian() * 0.2).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = items.filter(col("vec_id") < 5)
    val exact = rowSet(
      Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5))
    assert(rowSet(Ann.binaryTopK(items, queries,
      "vec_id", "embedding", dim = 32, k = 5, shortlist = 100)) === exact,
      "full shortlist must recover the exact ranking")
    val got = Ann.binaryTopK(items, queries,
      "vec_id", "embedding", dim = 32, k = 5, shortlist = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Ann.bruteForceTopK(items, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exactPairs).size.toDouble / exactPairs.size
    // 32 sign bits is coarse; cluster structure still puts most true
    // neighbours in the 15-of-80 Hamming shortlist
    assert(recall >= 0.7, s"recall $recall")
    // dim not a multiple of 32 fails loudly
    intercept[IllegalArgumentException] {
      Ann.binaryTopK(items, queries, "vec_id", "embedding",
        dim = 33, k = 5, shortlist = 10)
    }
  }

  test("hybrid RRF: hand-derived fusion — both-lists beats one-list, ties break to smaller id") {
    import spark.implicits._
    // dim 32, only the first two components carry signal; signs give a
    // Hamming ranking that DISAGREES with cosine:
    //   cosine order:  2 (1.0), 1 (~0.994), 3 (0.707), 4 (~0.0002)
    //   hamming order: 2 (0),   3 (0),      4 (0),     1 (1 bit off)
    // with perList = 3 each list cuts its 4th: 4 is hamming-only, 1 is
    // cosine-only. Integer reciprocals (k0 = 60):
    //   r1 -> 10^12 div 61 = 16393442622, r2 -> 16129032258,
    //   r3 -> 15873015873
    def v(a: Float, b: Float) = Seq(a, b) ++ Seq.fill(30)(0.0f)
    val items = Seq(
      (1L, v(0.9f, 0.1f)),
      (2L, v(1.0f, 0.0f)),
      (3L, v(0.5f, -0.5f)),
      (4L, v(0.001f, -5.0f)),
      (100L, v(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val qs = items.filter(col("vec_id") === 100L)
    val got = Ann.hybridRrfTopK(items, qs, "vec_id", "embedding",
        dim = 32, perList = 3, k = 4)
      .collect().map(r => r.getInt(3) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1) === ((2L, 2L * 16393442622L)), "rank 1 in both lists")
    assert(got(2) === ((3L, 15873015873L + 16129032258L)),
      "cos r3 + ham r2 beats any single-list score")
    assert(got(3) === ((1L, 16129032258L)), "cosine-only candidate")
    assert(got(4) === ((4L, 15873015873L)), "hamming-only candidate")
    // tie case: drop 4 so 1 and 3 score symmetrically (cos r2 + ham r3
    // vs cos r3 + ham r2) — the tie must break to the smaller id
    val tied = Ann.hybridRrfTopK(items.filter(col("vec_id") =!= 4L), qs,
        "vec_id", "embedding", dim = 32, perList = 3, k = 3)
      .collect().map(r => r.getInt(3) -> r.getLong(1)).toMap
    assert(tied(2) === 1L && tied(3) === 3L,
      "equal fused scores must order by id")
  }

  test("MMR: second pick trades relevance for diversity; k=1 = pure argmax") {
    import spark.implicits._
    import graft.similarity.Mmr
    // query 100 = (1,0); candidate 1 is the long top hit, candidate 2 a
    // near-duplicate of it (sim(2,1) > rel(2), so its MMR score goes
    // negative), candidate 3 less relevant but diverse:
    //   step2: score(2) = 1.19e6 - 1.428e6 = -238000
    //          score(3) = 0.5e6  - 0.6e6   = -100000  -> 3 wins
    val items = Seq(
      (1L, Seq(1.20f, 0.00f)),
      (2L, Seq(1.19f, 0.00f)),
      (3L, Seq(0.50f, 0.50f)),
      (100L, Seq(1.00f, 0.00f))).toDF("vec_id", "embedding")
    val qs = items.filter(col("vec_id") === 100L)
    val got = Mmr.rerank(items, qs, "vec_id", "embedding", shortlist = 3, k = 3)
      .collect().map(r => r.getInt(3) -> r.getLong(1)).toMap
    assert(got(1) === 1L, "step 1 is the pure relevance argmax")
    assert(got(2) === 3L, "step 2 must skip the near-duplicate for diversity")
    assert(got(3) === 2L)
    val k1 = Mmr.rerank(items, qs, "vec_id", "embedding", shortlist = 3, k = 1)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(k1.toSeq === Seq((1L, 1)))
  }

  test("random projection: deterministic signs, JL distance band, dim guard") {
    import spark.implicits._
    import graft.similarity.RandomProjection
    // sign formula is a pure function and roughly balanced
    val signs = for (j <- 0 until 32; i <- 0 until 64) yield RandomProjection.sign(j, i)
    assert(signs.forall(s => s == 1L || s == -1L))
    val plus = signs.count(_ == 1L)
    assert(plus > signs.size * 2 / 5 && plus < signs.size * 3 / 5,
      s"sign matrix badly unbalanced: $plus/+ of ${signs.size}")

    val rnd = new scala.util.Random(7)
    val vecs = (0 until 6).map(id =>
      (id.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val k = 32
    val y = RandomProjection.project(df, "vec_id", "embedding", 64, k)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toVector }
    // JL: E[||ya-yb||^2] = k * ||qa-qb||^2; at k=32 individual ratios
    // concentrate well inside [0.4, 2.2]
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.rint(x * 1000).toLong).toVector }.toMap
    for (a <- 0L until 5L; b <- (a + 1) to 5L) {
      val dProj = y(a).zip(y(b)).map { case (p, r) => (p - r).toDouble }
        .map(d => d * d).sum / k
      val dTrue = q(a).zip(q(b)).map { case (p, r) => (p - r).toDouble }
        .map(d => d * d).sum
      val ratio = dProj / dTrue
      assert(ratio > 0.4 && ratio < 2.2, s"pair ($a,$b): JL ratio $ratio")
    }

    // wrong dimensionality fails loudly instead of zero-padding
    val bad = Seq((9L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[Exception] {
      RandomProjection.project(bad, "vec_id", "embedding", 64, 4).collect()
    }
  }
}
