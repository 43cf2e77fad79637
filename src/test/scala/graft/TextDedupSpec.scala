package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextFunctions._

class TextDedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tokens/shingles/counts") {
    val df = docs((1L, "the quick  brown fox"), (2L, ""), (3L, "a b"))
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n"),
        shingles(tokens(col("text")), 3).as("sh"))
    val m = df.collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getAs[scala.collection.Seq[String]](2))).toMap
    assert(m(1L)._1 === 4)
    assert(m(1L)._2 === Seq("the quick brown", "quick brown fox"))
    assert(m(2L)._1 === 0 && m(2L)._2.isEmpty)
    assert(m(3L)._2.isEmpty) // shorter than shingle size
  }

  test("language id picks the profile with most marker hits") {
    val df = docs(
      (1L, "the cat is out of the bag and happy"),
      (2L, "der hund ist ein freund und das ist gut"),
      (3L, "el gato es un animal y la casa es grande"),
      (4L, "zz yy xx"))
      .select(col("doc_id"), langId(col("text")).as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "und"))
  }

  test("quality score is in [0,1] and penalizes punctuation walls") {
    val df = docs(
      (1L, "the analysis of the data shows a clear trend in the results and it holds"),
      (2L, "....,,,!!!! ???? ..,,"))
      .select(col("doc_id"), qualityScore(col("text")).as("q"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m(1L) > m(2L))
  }

  test("exact dedup groups identical texts") {
    val d = Dedup.exactGroups(
      docs((1L, "same text"), (2L, "same text"), (3L, "other")),
      "doc_id", "text")
    val m = d.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("same text") === (1L, 2L))
    assert(m("other") === (3L, 1L))
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "zigma") // one word edit
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val pairs = Dedup.minhashDuplicates(
      docs((1L, base), (2L, near), (3L, other)),
      "doc_id", "text", threshold = 0.4)
    val got = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("minhash hot-bucket cap drops boilerplate clusters, keeps real near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "zigma")
    val boiler = "this content is provided as is without warranty of any " +
      "kind either express or implied including fitness for a purpose"
    // 12 identical boilerplate docs: every one of their buckets holds 12
    // members; the distinctive near-dup pair's buckets hold 2
    val rows = Seq((1L, base), (2L, near)) ++ (10L to 21L).map(i => (i, boiler))
    val capped = Dedup.minhashDuplicates(
      docs(rows: _*), "doc_id", "text", threshold = 0.4, maxBucketSize = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)),
      "cap must drop the boilerplate cluster (exactGroups' job) but keep the real pair")
    val uncapped = Dedup.minhashDuplicates(
      docs(rows: _*), "doc_id", "text", threshold = 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 1 + 12 * 11 / 2, "uncapped finds all 66 boilerplate pairs")
  }

  test("dedupedNearDuplicates on a duplicate-free corpus equals raw minhashDuplicates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "zigma")
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val d = docs((1L, base), (2L, near), (3L, other))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val composed = Dedup.dedupedNearDuplicates(d, "doc_id", "text", threshold = 0.4)
    val raw = Dedup.minhashDuplicates(d, "doc_id", "text", threshold = 0.4)
    assert(canon(composed.pairs) === canon(raw))
    // trivial copy clusters: every doc is its own representative
    assert(composed.copyClusters.filter(col("n_copies") > 1).isEmpty)
  }

  test("dedupedNearDuplicates collapses copy clusters; clusters expand back") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "zigma")
    // 5 exact copies of base (ids 1..5) + 3 copies of near (ids 10..12):
    // the raw path pays 5*3 cross-cluster pairs + 10 + 3 intra pairs; the
    // composed path emits ONE representative pair and the cluster map
    val rows = (1L to 5L).map(i => (i, base)) ++ (10L to 12L).map(i => (i, near))
    val res = Dedup.dedupedNearDuplicates(docs(rows: _*), "doc_id", "text",
      threshold = 0.4)
    val pairs = res.pairs.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 10L)), "one pair among representatives only")
    val clusters = res.copyClusters.collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(clusters === Map(1L -> 5L, 10L -> 3L))
  }

  test("capped minhash + exactGroups union keeps full recall on a boilerplate cluster") {
    // pins the recall contract documented on minhashDuplicates(maxBucketSize):
    // pairs the cap can lose are exactly those inside large clusters of
    // IDENTICAL documents, which exactGroups recovers — the union of the
    // capped run and the exact-group expansion must equal the uncapped run
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val near = base.replace("sigma", "zigma")
    val boiler = "this content is provided as is without warranty of any " +
      "kind either express or implied including fitness for a purpose"
    val rows = Seq((1L, base), (2L, near)) ++ (10L to 21L).map(i => (i, boiler))
    val d = docs(rows: _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairSet(Dedup.minhashDuplicates(d, "doc_id", "text", threshold = 0.4))
    val capped = pairSet(Dedup.minhashDuplicates(d, "doc_id", "text",
      threshold = 0.4, maxBucketSize = 5))
    // expand exact groups to their intra-cluster pairs (all J = 1.0)
    val exactPairs = Dedup.exactGroups(d, "doc_id", "text")
      .filter(col("n_copies") > 1)
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))), " +
          "p -> p.a < p.b)")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
    val expanded = exactPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((capped union expanded) === uncapped)
    assert((capped union expanded).nonEmpty && capped != uncapped,
      "fixture must actually exercise the cap")
  }

  test("nearDupClusters merges a transitive chain that pairwise thresholds would split") {
    // a~b and b~c are near-dups but a~c is NOT (near-duplication is not
    // transitive) — the cluster step must still place a, b, c together.
    // Doc 4 is an exact copy of a (inherits the cluster via the copy map),
    // doc 9 is unrelated (its own singleton cluster).
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val a = base
    val b = (3 to 14).map(i => s"w$i").mkString(" ")      // shifted window
    val c = (5 to 16).map(i => s"w$i").mkString(" ")      // shifted further
    val d = docs((1L, a), (2L, b), (3L, c), (4L, a), (9L, "zz yy xx ww vv uu"))
    val t = 0.5
    // fixture sanity: the chain holds pairwise but not end to end
    def j(x: String, y: String): Double = {
      def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      val (sx, sy) = (sh(x), sh(y))
      sx.intersect(sy).size.toDouble / sx.union(sy).size
    }
    assert(j(a, b) >= t && j(b, c) >= t && j(a, c) < t)
    val out = Dedup.nearDupClusters(d, "doc_id", "text", threshold = t)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("nearDupClusters throws when the CC cap is too small for a chain") {
    // twelve documents, each the last shifted by two words: neighbours
    // are near-dups (J = 8/12), documents two apart are not (J = 6/14),
    // so the pair graph is a 12-vertex path — more than two star rounds
    val d = docs((0 until 12).map(i =>
      (i.toLong, (2 * i until 2 * i + 12).map(w => s"w$w").mkString(" "))): _*)
    intercept[IllegalStateException] {
      Dedup.nearDupClusters(d, "doc_id", "text", maxIterations = 2).collect()
    }
  }

  test("evalContainment: leaked eval item scores high where Jaccard would not") {
    val evalItem = "what is the capital of france the answer is paris"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, filler + " " + evalItem + " " + filler), // leak buried in a long page
      (2L, filler))                                 // clean
    import spark.implicits._
    val eval = Seq(Tuple1(evalItem)).toDF("text")
    val got = Dedup.evalContainment(d, "doc_id", "text", eval, "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // the leak contributes its 8 interior shingles (+2 boundary-spanning
    // ones are misses); a long page still flags clearly
    assert(got(1L)._2 >= 8L, "every interior eval shingle must hit")
    assert(got(1L)._3 > 0.05 && got(1L)._3 < 0.2,
      "containment flags the leak; Jaccard on the same pair would be ~0.06 too " +
        "but containment is against the DOC size, stable as eval sets grow")
    assert(got(2L) === ((58L, 0L, 0.0)), "clean doc: 58 shingles, zero hits")
    // n_shingles bookkeeping: the duplicated filler's shingles collapse
    // (distinct): 58 filler + 8 eval-interior + 2x2 boundary = 70
    assert(got(1L)._1 === 70L)
  }

  test("ngram jaccard: exact value for a known pair") {
    val a = "w1 w2 w3 w4 w5" // shingles: {w1w2w3, w2w3w4, w3w4w5}
    val b = "w1 w2 w3 w4 zz" // shingles: {w1w2w3, w2w3w4, w3w4zz}
    val pairs = Dedup.ngramJaccardPairs(docs((1L, a), (2L, b)), "doc_id", "text",
      threshold = 0.1)
    val r = pairs.head()
    assert((r.getLong(0), r.getLong(1)) === (1L, 2L))
    assert(r.getDouble(2) === 0.5) // 2 shared / 4 union
  }

  test("simhash: identical docs collide, near-dups within distance, output is stable") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs((1L, base), (2L, base), (3L, "unrelated words entirely different content here"))
    val pairs = Dedup.simhashDuplicates(d, "doc_id", "text", maxDist = 3)
    val m = pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(m((1L, 2L)) === 0)
    assert(!m.contains((1L, 3L)) && !m.contains((2L, 3L)))
  }

  test("simhash hot-chunk cap drops a degenerate templated cluster, keeps the real pair") {
    // pins the recall contract documented on simhashDuplicates(maxBucketSize):
    // templated docs simhash identically, so every (chunk, value) bucket
    // they populate is quadratic; the cap drops those buckets while a pair
    // whose buckets are small survives untouched.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val boiler = "this content is provided as is without warranty of any kind"
    val rows = Seq((1L, base), (2L, base)) ++ (10L to 21L).map(i => (i, boiler))
    val d = docs(rows: _*)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairSet(Dedup.simhashDuplicates(d, "doc_id", "text", maxDist = 3))
    assert(uncapped === Set((1L, 2L)) ++
      (for (a <- 10L to 21L; b <- 10L to 21L if a < b) yield (a, b)).toSet,
      "uncapped finds the real pair plus all 66 boilerplate pairs")
    val capped = pairSet(Dedup.simhashDuplicates(d, "doc_id", "text", maxDist = 3,
      maxBucketSize = 5))
    assert(capped === Set((1L, 2L)),
      "cap must drop the templated cluster (exactGroups' job) but keep the real pair")
    // subset contract: the cap only ever removes pairs, never invents them
    assert(capped.subsetOf(uncapped))
  }

  test("winnowing fingerprints overlap heavily under a local edit") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val edited = base.replace("tok20", "changed")
    val df = docs((1L, base), (2L, edited))
      .select(col("doc_id"), winnow(tokens(col("text")), 3, 4).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]](1).toSet).toMap
    val overlap = fps(1L).intersect(fps(2L)).size.toDouble / fps(1L).union(fps(2L)).size
    assert(overlap > 0.5)
  }

  test("PII redaction scrubs emails, urls and phone runs; counts audit them") {
    val d = docs(
      (1L, "reach me at jane.doe+x@corp.example.org or https://ex.org/u?id=2 soon"),
      (2L, "call +1 (415) 555-0199 today"),
      (3L, "nothing sensitive here"))
    val out = d.select(
      col("doc_id"),
      redactPii(col("text")).as("clean"),
      patternCount(col("text"), EmailPattern).as("n_email"),
      patternCount(col("text"), UrlPattern).as("n_url"),
      patternCount(col("text"), PhonePattern).as("n_phone"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L)._1 === "reach me at <EMAIL> or <URL> soon")
    assert((out(1L)._2, out(1L)._3) === (1, 1))
    assert(out(2L)._1 === "call <PHONE> today")
    assert(out(2L)._4 === 1)
    assert(out(3L)._1 === "nothing sensitive here")
    assert((out(3L)._2, out(3L)._3, out(3L)._4) === (0, 0, 0))
  }

  test("duplicated-span stats: cross-doc, within-doc, and short docs") {
    // doc 1 and 2 share one 4-token span ("w x y z"); doc 3 repeats its
    // own span twice (within-doc dup, not cross); doc 4 is too short
    val d = docs(
      1L -> "a b c w x y z q",       // spans at pos1..5; "w x y z" shared
      2L -> "w x y z r s t",         // spans at pos1..4
      3L -> "p q r s p q r s",       // "p q r s" occurs twice (pos 1, 5)
      4L -> "too short")
    val got = Dedup.duplicatedSpanStats(d, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((5L, 1L, 1L)))  // only "w x y z" duplicated, cross
    assert(got(2L) === ((4L, 1L, 1L)))
    // doc 3: spans p1..p5; "p q r s" (p1, p5) duplicated but same-doc
    assert(got(3L) === ((5L, 2L, 0L)))
    assert(got(4L) === ((0L, 0L, 0L)))
  }

  test("removeDuplicatedSpans: cross-doc span cut once, canonical kept, short docs pass") {
    val d = docs(
      1L -> "a b c w x y z q",   // "w x y z" at pos 3 — the canonical copy
      2L -> "w x y z r s t",     // same span at pos 0 — cut
      4L -> "too short",
      5L -> "")
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("a b c w x y z q", 8L, 0L)), "canonical doc untouched")
    assert(got(2L) === (("r s t", 3L, 4L)), "non-canonical occurrence cut")
    assert(got(4L) === (("too short", 2L, 0L)), "sub-n docs pass through")
    assert(got(5L) === (("", 0L, 0L)))
  }

  test("removeDuplicatedSpans: within-doc repeats and overlapping chains keep one copy") {
    val d1 = docs(3L -> "p q r s p q r s")
    val g1 = Dedup.removeDuplicatedSpans(d1, "doc_id", "text", n = 4).head()
    assert((g1.getString(1), g1.getLong(2), g1.getLong(3)) === (("p q r s", 4L, 4L)))
    // three overlapping repeats of the same period-4 chain: removals
    // [4,12) from the period span plus the shifted dups merge into one
    // interval, leaving exactly one period
    val d2 = docs(7L -> "x y z w x y z w x y z w")
    val g2 = Dedup.removeDuplicatedSpans(d2, "doc_id", "text", n = 4).head()
    assert((g2.getString(1), g2.getLong(2), g2.getLong(3)) === (("x y z w", 4L, 8L)))
  }

  test("removeDuplicatedSpans: snowflake-scale ids — canonical pick is exact, no overflow") {
    // ids far beyond 2^32 (the round-10 review's collision/overflow
    // case for an id*2^31+pos encoding): the struct-min canonical must
    // keep exactly the lexicographically-first occurrence and ANSI mode
    // must not throw
    val big = 1L << 33
    val d = docs(
      0L -> "w x y z a b c d",
      big -> "w x y z p q r s",          // shares "w x y z" at pos 0
      (big * 9000L) -> "w x y z u v m n") // ~7.7e13, the stress-id scale
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(got(0L) === (("w x y z a b c d", 0L)), "doc 0 is canonical")
    assert(got(big) === (("p q r s", 4L)))
    assert(got(big * 9000L) === (("u v m n", 4L)))
  }

  test("removeDuplicatedSpansDeduped: copies inherit the cleaned representative") {
    val d = docs(
      1L -> "a b c w x y z q",   // canonical holder of "w x y z"
      2L -> "w x y z r s t",     // loses [0,4)
      3L -> "w x y z r s t",     // exact copy of 2 — inherits, NOT emptied
      4L -> "w x y z r s t")
    val got = Dedup.removeDuplicatedSpansDeduped(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("a b c w x y z q", 8L, 0L)))
    // the raw path would cut 3 and 4 to NOTHING (every span a dup of
    // doc 2); dedup-first keeps one cleaned text per distinct document
    Seq(2L, 3L, 4L).foreach(i => assert(got(i) === (("r s t", 3L, 4L))))
  }

  test("removeDuplicatedSpansDeduped equals the raw path on a duplicate-free corpus") {
    val d = docs(
      1L -> "a b c w x y z q",
      2L -> "w x y z r s t",
      4L -> "too short",
      5L -> "")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(canon(Dedup.removeDuplicatedSpansDeduped(d, "doc_id", "text", n = 4)) ===
      canon(Dedup.removeDuplicatedSpans(d, "doc_id", "text", n = 4)))
  }

  test("containmentPairs: quote flagged one-way, truncating milli ratio, Jaccard-blind case") {
    val a = (1 to 9).map(i => s"q$i").mkString(" ")             // 2 shingles
    val b = "x1 x2 x3 " + a + " y1 y2 y3"                       // contains both
    val d = (1 to 10).map(i => s"d$i").mkString(" ")            // 3 shingles
    val e = "e1 " + (1 to 9).map(i => s"d$i").mkString(" ") + " e2" // 2 of the 3
    val c = (1 to 12).map(i => s"c$i").mkString(" ")            // unrelated
    val docs0 = docs(1L -> a, 2L -> b, 3L -> d, 4L -> e, 5L -> c)
    val got = Dedup.containmentPairs(docs0, "doc_id", "text",
        n = 8, minContainmentPct = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 1 fully inside 2: containment 1000; the reverse direction is
    // 2-of-8 = 25% — the asymmetry Jaccard cannot express (J = 2/8)
    assert(got((1L, 2L)) === ((2L, 2L, 1000L)))
    assert(!got.contains((2L, 1L)), "the superset is not 'contained'")
    // 3 -> 4 shares 2 of 3 shingles: 1000*2 div 3 = 666, truncating
    assert(got((3L, 4L)) === ((2L, 3L, 666L)))
    assert(got.keySet === Set((1L, 2L), (3L, 4L), (4L, 3L)),
      s"unrelated docs must not pair, got ${got.keySet}")
  }

  test("containmentPairs: hot boilerplate shingles capped; true quotes survive the cap") {
    val a = (1 to 9).map(i => s"q$i").mkString(" ")
    val b = "x1 x2 x3 " + a + " y1 y2 y3"
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    // 70 docs sharing ONE boilerplate shingle (over the cap of 64) plus
    // a unique tail shingle each: uncapped, that one shingle generates
    // 70*69 candidate rows; capped, those pairs vanish while the real
    // quote pair keeps all its (cold) evidence
    val plated = (10L until 80L).map(i => i -> s"$boiler filler$i")
    val corpus = docs(Seq(1L -> a, 2L -> b) ++ plated: _*)
    val capped = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 8, minContainmentPct = 50, maxShingleDocs = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)),
      s"boilerplate-only pairs must be capped away, got $capped")
    // on a corpus with NO hot shingle the cap changes nothing
    val clean = docs(1L -> a, 2L -> b, 3L -> (1 to 12).map(i => s"c$i").mkString(" "))
    assert(
      rowSet(Dedup.containmentPairs(clean, "doc_id", "text", 8, 50, 64)) ===
        rowSet(Dedup.containmentPairs(clean, "doc_id", "text", 8, 50, 0)),
      "cap must be a no-op without hot shingles")
  }

  test("containmentPairsDeduped: copies collapse to one pair carrying copy counts") {
    val a = (1 to 9).map(i => s"q$i").mkString(" ")
    val b = "x1 x2 x3 " + a + " y1 y2 y3"
    // 1 copy of the quoted doc, 3 byte-identical copies of the superset:
    // the raw operator emits 1x3 = 3 A-in-B rows (and copy-copy rows at
    // 100% both ways); deduped emits ONE row with the counts
    val corpus = docs(1L -> a, 2L -> b, 3L -> b, 4L -> b)
    val raw = Dedup.containmentPairs(corpus, "doc_id", "text", 8, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(raw === Set((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (3L, 2L), (2L, 4L), (4L, 2L), (3L, 4L), (4L, 3L)),
      s"raw pays copies(A)*copies(B), got $raw")
    val got = Dedup.containmentPairsDeduped(corpus, "doc_id", "text", 8, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === Map((1L, 2L) -> ((1000L, 1L, 3L))),
      "one row per distinct-text pair, copy counts riding")
  }

  test("removeDuplicatedSpans: a doc assembled from two other docs' spans empties out") {
    val d = docs(
      1L -> "m n o p z1 z2",
      2L -> "q r s t z3 z4",
      5L -> "m n o p q r s t") // both halves canonical elsewhere -> all cut
    val got = Dedup.removeDuplicatedSpans(d, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L)._3 === 0L && got(2L)._3 === 0L, "canonical sources untouched")
    assert(got(5L) === (("", 0L, 8L)), "fully-duplicated doc empties out")
  }

  test("BPE token count: golden merges, rank order, word isolation") {
    // hand-derived TRUE rank-ordered BPE under BpeMerges:
    // "the"  t,h,e -> th,e (rank 1) -> the (rank 2)          = 1
    // "that" t,h,a,t -> th,a,t -> th,at (rank 8) -> that (34) = 1
    // "with" w,i,t,h -> w,i,th (rank 1); (i,t) can no longer
    //        fire — its t was consumed — so it stays           = 3
    //        (the prefix-separator bug merged this to 1 by
    //        letting pattern (i,t) match inside the th symbol)
    // "math" m,a,t,h -> m,a,th (rank 1)                        = 3
    // "here" h,e,r,e -> h,e,re (rank 5)                        = 3
    // "standing" -> st,and,ing (ranks 3,4,15,16,17)            = 3
    // "zebra" has no matching pair                             = 5
    // merges never cross words ("th e" stays th + e = 2)
    val df = docs(
      1L -> "the", 2L -> "that", 3L -> "with", 4L -> "standing",
      5L -> "zebra", 6L -> "th e", 7L -> "", 8L -> "the that",
      10L -> "math", 11L -> "here")
      .select(col("doc_id"), bpeTokenCount(col("text")).as("n"))
    val got = df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 3, 4L -> 3,
      5L -> 5, 6L -> 2, 7L -> 0, 8L -> 2, 10L -> 3, 11L -> 3))
    // leftmost, non-overlapping within a rank: "eee" under e+e -> ee,e
    val over = docs(9L -> "eee")
      .select(bpeTokenCount(col("text"))).head().getInt(0)
    assert(over === 2)
  }

  test("DedupIndex: bucketed round-trip replays the in-memory dedup family") {
    import graft.dedup.DedupIndex
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "the quick brown fox jumps over the lazy cat again and again",
      4L -> "completely different text about spark catalyst optimizer plans",
      5L -> "completely different text about spark catalyst optimizer plans",
      6L -> "")
    val idx = DedupIndex.build(corpus, "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32)
    DedupIndex.writeBucketed(idx, "graft_test_didx", numBuckets = 4)
    val stored = DedupIndex.readBucketed(spark, "graft_test_didx")
    assert((stored.shingleSize, stored.numHashes, stored.bands) === ((3, 128, 32)))

    // pair generation over the STORED tables == the in-memory composition
    val expectedPairs = Dedup.dedupedNearDuplicates(
      corpus, "doc_id", "text", threshold = 0.4).pairs
    assert(rowSet(stored.pairs(0.4)) === rowSet(expectedPairs))
    assert(rowSet(stored.pairs(0.4)).nonEmpty) // the (1,3) near-dup pair

    // cluster assignment over the stored tables == Dedup.nearDupClusters
    val expectedClusters =
      Dedup.nearDupClusters(corpus, "doc_id", "text", threshold = 0.4)
    assert(rowSet(stored.clusterAssign(0.4, "doc_id")) === rowSet(expectedClusters))

    // bucketing is live: a (band, bucket)-keyed aggregation over the
    // stored bucket table satisfies its distribution from the write-time
    // layout — zero exchange (the GraphIO writeBucketed property)
    val aggPlan = stored.buckets.groupBy(col("band"), col("bucket")).count()
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"bucket-keyed agg should reuse write-time bucketing:\n$aggPlan")
  }

  test("bucketStats: boilerplate-heavy corpus trips the hot-bucket metric; diverse corpus stays clean") {
    import graft.dedup.DedupIndex
    // 30 near-identical docs: a 60-token shared template + one distinct
    // suffix token each. Distinct sha256 -> 30 representatives, but ~58
    // of each doc's 59 shingles are shared, so most bands hash all 30
    // reps into ONE (band, bucket) key — the recall-eroding shape the
    // metric exists to surface
    val prefix = (1 to 60).map(i => s"tok$i").mkString(" ")
    val boiler = docs((1L to 30L).map(i => i -> s"$prefix suffix$i"): _*)
    val hotIdx = DedupIndex.build(boiler, "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32)
    val hot = DedupIndex.bucketStats(hotIdx, maxBucketSize = 4).head()
    assert(hot.getAs[Long]("bucket_rows") === 30L * 32L,
      "one bucket row per representative per band")
    assert(hot.getAs[Long]("hot_bucket_count") >= 8L,
      "the shared template must concentrate most bands past the cap")
    assert(hot.getAs[Double]("capped_row_fraction") > 0.3,
      "a large fraction of candidate mass sits in dropped buckets")
    assert(hot.getAs[Long]("max_occupancy") >= 10L)

    // 30 docs over DISJOINT vocabularies: every bucket holds one rep
    // (xxhash64 collisions aside) — the cap never bites
    val clean = docs((1L to 30L).map(i =>
      i -> (1 to 12).map(j => s"w${i}_$j").mkString(" ")): _*)
    val cleanIdx = DedupIndex.build(clean, "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32)
    val ok = DedupIndex.bucketStats(cleanIdx, maxBucketSize = 4).head()
    assert(ok.getAs[Long]("bucket_rows") === 30L * 32L)
    assert(ok.getAs[Long]("hot_bucket_count") === 0L)
    assert(ok.getAs[Double]("capped_row_fraction") === 0.0)
    assert(ok.getAs[Long]("occupancy_p99") <= 2L)

    // degenerate-but-reachable: an EMPTY index (just-built store, or a
    // fully-deleted corpus) must report a TOTAL health row — all zeros,
    // never NULL (ADVICE r15: a listener's getAs[Long] NPE'd here)
    val emptyIdx = DedupIndex.build(docs(), "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32)
    val z = DedupIndex.bucketStats(emptyIdx, maxBucketSize = 4).head()
    assert(!z.anyNull, "the empty-index health row must be total")
    assert(z.getAs[Long]("bucket_rows") === 0L)
    assert(z.getAs[Long]("distinct_buckets") === 0L)
    assert(z.getAs[Long]("max_occupancy") === 0L)
    assert(z.getAs[Long]("occupancy_p99") === 0L)
    assert(z.getAs[Long]("hot_bucket_count") === 0L)
    assert(z.getAs[Double]("capped_row_fraction") === 0.0)
  }

  test("DedupIndex.merge: incremental append equals whole-corpus rebuild") {
    import graft.dedup.DedupIndex
    val base = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      5L -> "completely different text about spark catalyst optimizer plans",
      7L -> "")
    // the batch exercises every merge path: an exact copy of an indexed
    // text that UNDERCUTS its representative id (0 < 1 — stored rows must
    // re-key, not recompute), a plain additional copy (9), a batch-
    // internal copy pair (10, 11), and a genuinely new text (12)
    val batch = docs(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      9L -> "completely different text about spark catalyst optimizer plans",
      10L -> "a brand new page that was never indexed before today okay",
      11L -> "a brand new page that was never indexed before today okay",
      12L -> "the quick brown fox jumps over the lazy cat again and again")
    val merged = DedupIndex.merge(
      DedupIndex.build(base, "doc_id", "text"), batch, "doc_id", "text")
    val whole = DedupIndex.build(base.unionByName(batch), "doc_id", "text")
    assert(rowSet(merged.clusters) === rowSet(whole.clusters))
    assert(rowSet(merged.shingles) === rowSet(whole.shingles))
    assert(rowSet(merged.buckets) === rowSet(whole.buckets))
    // and the downstream consumers see identical results
    assert(rowSet(merged.pairs(0.4)) === rowSet(whole.pairs(0.4)))
    assert(rowSet(merged.pairs(0.4)).nonEmpty) // (0, 12) near-dup pair
    assert(rowSet(merged.clusterAssign(0.4, "doc_id")) ===
      rowSet(whole.clusterAssign(0.4, "doc_id")))
  }

  test("advanceClusters: maintained map ≡ rebuilt closure across batches, merges fire") {
    import graft.dedup.DedupIndex
    // two far-apart clusters X and Y, plus an exact-copy pair
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val tY = "kk ll mm nn oo pp qq rr ss tt"
    val base = docs(
      1L -> tX, 2L -> tX,
      5L -> tY,
      7L -> "completely separate text about something else entirely here")
    // batch 1: an undercut copy (0 < 1 — the rekey path: key AND label
    // must follow), a near-dup of X (extends X's cluster), a new
    // singleton
    val b1 = docs(
      0L -> tX,
      12L -> "aa bb cc dd ee ff gg hh ii zz",
      14L -> "nothing like anything indexed so far in this whole corpus")
    // batch 2: a BRIDGE doc overlapping both X and Y — the transitive
    // cluster merge the closure exists for (J(bridge, X) = J(bridge, Y)
    // = 4/14 ≈ 0.286, so threshold 0.25; 64 bands of 2 rows make the
    // LSH recall deterministic-certain at that similarity)
    val b2 = docs(20L -> "aa bb cc dd ee ff kk ll mm nn oo pp")
    val thr = 0.25
    val idx0 = DedupIndex.build(base, "doc_id", "text", bands = 64)
    val ncl0 = idx0.nearClusters(thr).localCheckpoint()

    val m1 = DedupIndex.mergeDetailed(idx0, b1, "doc_id", "text")
    val ncl1 = DedupIndex.advanceClusters(m1, ncl0, thr).localCheckpoint()
    assert(rowSet(ncl1) === rowSet(m1.index.nearClusters(thr)),
      "batch 1: advance must equal the closure rebuilt")
    assert(rowSet(ncl1) === rowSet(
      DedupIndex.build(base.unionByName(b1), "doc_id", "text", bands = 64)
        .nearClusters(thr)),
      "batch 1: and the closure of a whole-corpus rebuild")
    // the rekey landed: X's cluster is labelled by the new minimum 0
    val l1 = ncl1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(0L) === 0L && l1(12L) === 0L)

    val m2 = DedupIndex.mergeDetailed(m1.index, b2, "doc_id", "text")
    val ncl2 = DedupIndex.advanceClusters(m2, ncl1, thr).localCheckpoint()
    assert(rowSet(ncl2) === rowSet(m2.index.nearClusters(thr)),
      "batch 2: advance must equal the closure rebuilt")
    // the bridge MERGED X and Y into one cluster labelled 0
    val l2 = ncl2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2(5L) === 0L && l2(20L) === 0L,
      s"bridge must merge X and Y: $l2")
    // untouched singletons keep their labels
    assert(l2(7L) === 7L && l2(14L) === 14L)

    // batch 3 — the rekey-undercuts-the-LABEL trap: an exact copy of
    // tY (rep 5, NOT the cluster's label 0) arrives with id -1 < 0, so
    // rep 5 re-keys to -1 and the whole merged cluster's min drops
    // below its current label — a plain label-value rename cannot see
    // this; the bounded min repair must
    val b3 = docs(-1L -> tY)
    val m3 = DedupIndex.mergeDetailed(m2.index, b3, "doc_id", "text")
    val ncl3 = DedupIndex.advanceClusters(m3, ncl2, thr).localCheckpoint()
    assert(rowSet(ncl3) === rowSet(m3.index.nearClusters(thr)),
      "batch 3: advance must equal the closure rebuilt after an undercut rekey")
    val l3 = ncl3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l3(0L) === -1L && l3(-1L) === -1L && l3(20L) === -1L,
      s"the rekeyed member must relabel its whole cluster: $l3")
    assert(l3(7L) === 7L && l3(14L) === 14L)
  }

  test("persisted near-cluster lifecycle: build once, advance per batch, read ≡ rebuild") {
    import graft.dedup.DedupIndex
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val base = docs(
      1L -> tX, 2L -> tX,
      5L -> "kk ll mm nn oo pp qq rr ss tt",
      7L -> "completely separate text about something else entirely here")
    val batch = docs(
      0L -> tX,
      12L -> "aa bb cc dd ee ff gg hh ii zz")
    val name = "ncl_life"
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    dropAll()
    try {
      DedupIndex.writeBucketed(
        DedupIndex.build(base, "doc_id", "text"), name, numBuckets = 4)
      DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      DedupIndex.mergeBucketed(spark, name, batch, "doc_id", "text")
      val got = DedupIndex.readNearClusters(spark, name)
      val rebuilt = DedupIndex.readBucketed(spark, name).nearClusters(0.4)
      assert(rowSet(got) === rowSet(rebuilt),
        "maintained table must equal the closure over the merged index")
      // and the document-level face explodes through the stored clusters
      val assign = DedupIndex.readBucketed(spark, name)
        .clusterAssignFrom(got, "doc_id")
      val whole = DedupIndex.build(base.unionByName(batch), "doc_id", "text")
        .clusterAssign(0.4, "doc_id")
      assert(rowSet(assign) === rowSet(whole))
    } finally dropAll()
  }

  test("writeBucketed under an existing name drops the earlier index's maintained cluster table") {
    import graft.dedup.DedupIndex
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val name = "ncl_rewrite"
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    dropAll()
    try {
      DedupIndex.writeBucketed(
        DedupIndex.build(docs(1L -> tX, 2L -> tX), "doc_id", "text"), name, numBuckets = 4)
      DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      DedupIndex.writeBucketed(
        DedupIndex.build(docs(3L -> "kk ll mm nn oo pp qq rr ss tt",
          4L -> "completely separate text about something else entirely here"),
          "doc_id", "text"), name, numBuckets = 4)
      // the old closure describes an index that is gone
      assert(!spark.catalog.tableExists(s"${name}_nearclusters"))
      assert(!spark.catalog.tableExists(s"${name}_nclmeta"))
      // so a merge advances nothing, and a rebuild closes the stored index
      DedupIndex.mergeBucketed(spark, name, docs(5L -> "uu vv ww xx yy zz ab cd ef gh"),
        "doc_id", "text")
      assert(!spark.catalog.tableExists(s"${name}_nearclusters"))
      DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      assert(rowSet(DedupIndex.readNearClusters(spark, name)) ===
        Set(Seq(3L, 3L), Seq(4L, 4L), Seq(5L, 5L)))
    } finally dropAll()
  }

  test("mergeBucketed/deleteBucketed refuse a nearclusters table missing its nclmeta") {
    import graft.dedup.DedupIndex
    import spark.implicits._
    val name = "ncl_halfbuilt"
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    dropAll()
    try {
      DedupIndex.writeBucketed(
        DedupIndex.build(docs(1L -> "aa bb cc dd ee ff gg hh ii jj"),
          "doc_id", "text"), name, numBuckets = 4)
      DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      // the signature of a buildNearClusters interrupted between its two
      // staged writes: clusters committed, parameters missing. Advancing
      // silently would leave readNearClusters serving a stale table.
      spark.sql(s"DROP TABLE ${name}_nclmeta")
      val batch = docs(2L -> "kk ll mm nn oo pp qq rr ss tt")
      val ex = intercept[IllegalStateException](
        DedupIndex.mergeBucketed(spark, name, batch, "doc_id", "text"))
      assert(ex.getMessage.contains("buildNearClusters"))
      val ex2 = intercept[IllegalStateException](
        DedupIndex.deleteBucketed(spark, name, Seq(1L).toDF("doc_id"), "doc_id"))
      assert(ex2.getMessage.contains("buildNearClusters"))
    } finally dropAll()
  }

  test("deleteDocs: rebuild-without on every frame; rekey, shrink, empty, unknown, idempotent") {
    import graft.dedup.DedupIndex
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "completely different text about spark catalyst optimizer plans"
    val tC = "a brand new page that was never indexed before today okay"
    val tD = "nothing like anything indexed so far in this whole corpus"
    val corpus = docs(
      1L -> tA, 2L -> tA, 3L -> tA, // delete the REP 1 -> promote 2, rekey
      5L -> tB,                     // delete 5 -> group EMPTIES, text leaves
      7L -> tC, 8L -> tC,           // delete the COPY 8 -> ids shrink only
      9L -> tD)                     // untouched
    import spark.implicits._
    val del = Seq(1L, 5L, 8L, 99L).toDF("doc_id") // 99 never existed
    val r = DedupIndex.deleteDetailed(
      DedupIndex.build(corpus, "doc_id", "text"), del, "doc_id")
    val remaining = docs(2L -> tA, 3L -> tA, 7L -> tC, 9L -> tD)
    val rebuilt = DedupIndex.build(remaining, "doc_id", "text")
    assert(rowSet(r.index.clusters) === rowSet(rebuilt.clusters))
    assert(rowSet(r.index.shingles) === rowSet(rebuilt.shingles))
    assert(rowSet(r.index.buckets) === rowSet(rebuilt.buckets))
    // the working parts say what happened
    assert(rowSet(r.rekey) === Set(Seq(1L, 2L)))
    assert(rowSet(r.emptiedRepIds) === Set(Seq(5L)))
    // downstream consumers replay off the delete exactly
    assert(rowSet(r.index.clusterAssign(0.4, "doc_id")) ===
      rowSet(rebuilt.clusterAssign(0.4, "doc_id")))
    // idempotent: re-delivering the delete names nothing
    val r2 = DedupIndex.deleteDetailed(r.index, del, "doc_id")
    assert(r2.touchedShas.isEmpty)
    assert(rowSet(r2.index.clusters) === rowSet(rebuilt.clusters))
  }

  test("repairClustersAfterDelete: a deleted bridge SPLITS its cluster ≡ rebuilt closure") {
    import graft.dedup.DedupIndex
    import spark.implicits._
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val tY = "kk ll mm nn oo pp qq rr ss tt"
    val tB = "aa bb cc dd ee ff kk ll mm nn oo pp" // bridges X and Y
    val thr = 0.25
    val corpus = docs(1L -> tX, 2L -> tX, 5L -> tY, 20L -> tB)
    val idx0 = DedupIndex.build(corpus, "doc_id", "text", bands = 64)
    val ncl0 = idx0.nearClusters(thr).localCheckpoint()
    // the bridge holds X and Y together in ONE cluster labelled 1
    val l0 = ncl0.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l0(5L) === 1L && l0(20L) === 1L, s"bridge must merge upfront: $l0")

    // delete the bridge's only copy -> its text leaves -> the cluster
    // must SPLIT back into {1(,2)} and {5}
    val r1 = DedupIndex.deleteDetailed(idx0, Seq(20L).toDF("doc_id"), "doc_id")
    val ncl1 = DedupIndex.repairClustersAfterDelete(r1, ncl0, thr).localCheckpoint()
    assert(rowSet(ncl1) === rowSet(r1.index.nearClusters(thr)),
      "repair must equal the closure rebuilt post-delete")
    val l1 = ncl1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 === Map(1L -> 1L, 5L -> 5L), s"split must land: $l1")

    // delete the REP of X (copy 2 survives): pure rekey, labels follow
    val r2 = DedupIndex.deleteDetailed(r1.index, Seq(1L).toDF("doc_id"), "doc_id")
    val ncl2 = DedupIndex.repairClustersAfterDelete(r2, ncl1, thr).localCheckpoint()
    assert(rowSet(ncl2) === rowSet(r2.index.nearClusters(thr)))
    val l2 = ncl2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2 === Map(2L -> 2L, 5L -> 5L), s"rekey must land: $l2")

    // delete the Y singleton outright: its whole affected cluster
    // vanishes and only the untouched rows pass through
    val r3 = DedupIndex.deleteDetailed(r2.index, Seq(5L).toDF("doc_id"), "doc_id")
    val ncl3 = DedupIndex.repairClustersAfterDelete(r3, ncl2, thr).localCheckpoint()
    assert(rowSet(ncl3) === rowSet(r3.index.nearClusters(thr)))
    assert(rowSet(ncl3) === Set(Seq(2L, 2L)))
  }

  test("persisted delete lifecycle: deleteBucketed rewrites staged, repairs the cluster table") {
    import graft.dedup.DedupIndex
    import spark.implicits._
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val tY = "kk ll mm nn oo pp qq rr ss tt"
    val tB = "aa bb cc dd ee ff kk ll mm nn oo pp"
    val corpus = docs(1L -> tX, 2L -> tX, 5L -> tY, 20L -> tB,
      9L -> "nothing like anything indexed so far in this whole corpus")
    val name = "ncl_del"
    def dropAll(): Unit =
      Seq("clusters", "shingles", "buckets", "meta", "nearclusters", "nclmeta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${name}_$t"))
    dropAll()
    try {
      DedupIndex.writeBucketed(
        DedupIndex.build(corpus, "doc_id", "text", bands = 64), name, numBuckets = 4)
      DedupIndex.buildNearClusters(spark, name, threshold = 0.25)
      DedupIndex.deleteBucketed(spark, name,
        Seq(20L, 1L).toDF("doc_id"), "doc_id")
      val idx = DedupIndex.readBucketed(spark, name)
      val rebuilt = DedupIndex.build(
        docs(2L -> tX, 5L -> tY,
          9L -> "nothing like anything indexed so far in this whole corpus"),
        "doc_id", "text", bands = 64)
      assert(rowSet(idx.clusters) === rowSet(rebuilt.clusters))
      assert(rowSet(idx.shingles) === rowSet(rebuilt.shingles))
      assert(rowSet(idx.buckets) === rowSet(rebuilt.buckets))
      assert(rowSet(DedupIndex.readNearClusters(spark, name)) ===
        rowSet(idx.nearClusters(0.25)))
      // a no-op delete touches nothing (the redelivery guard)
      DedupIndex.deleteBucketed(spark, name,
        Seq(20L, 1L).toDF("doc_id"), "doc_id")
      assert(rowSet(DedupIndex.readBucketed(spark, name).clusters) ===
        rowSet(rebuilt.clusters))
    } finally dropAll()
  }

  test("every table of a dedup index keeps its declared bucket spec through the lifecycle") {
    import graft.dedup.DedupIndex
    import spark.implicits._
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.BucketSpec
    val tX = "aa bb cc dd ee ff gg hh ii jj"
    val name = "ncl_layout"
    val declared = Map(
      "clusters" -> None,
      "shingles" -> Some(BucketSpec(4, Seq("id"), Seq("id"))),
      "buckets" -> Some(BucketSpec(4, Seq("band", "bucket"), Seq("band", "bucket"))),
      "meta" -> None,
      "nearclusters" -> Some(BucketSpec(4, Seq("id"), Seq("id"))),
      "nclmeta" -> None)
    def dropAll(): Unit = (declared.keys.toSeq :+ "_epoch")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`"))
    dropAll()
    try {
      DedupIndex.writeBucketed(DedupIndex.build(
        docs(1L -> tX, 2L -> "kk ll mm nn oo pp qq rr ss tt"), "doc_id", "text"),
        name, numBuckets = 4)
      // every maintenance face runs at the index's own bucket count
      DedupIndex.buildNearClusters(spark, name, threshold = 0.4)
      DedupIndex.mergeBucketed(spark, name,
        docs(3L -> tX, 4L -> "aa bb cc dd ee ff gg hh ii zz"), "doc_id", "text")
      DedupIndex.deleteBucketed(spark, name, Seq(2L).toDF("doc_id"), "doc_id")
      val family = spark.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith(s"${name}_") && !t.endsWith("__epoch")).toSet
      assert(family === declared.keySet.map(t => s"${name}_$t"))
      declared.foreach { case (t, spec) =>
        assert(spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(s"${name}_$t")).bucketSpec === spec, s"${name}_$t")
      }
      assert(rowSet(DedupIndex.readNearClusters(spark, name)) ===
        rowSet(DedupIndex.readBucketed(spark, name).nearClusters(0.4)))
    } finally dropAll()
  }

  test("writeBucketed(readBucketed(name), name) rewrites a stored dedup index in place") {
    import graft.dedup.DedupIndex
    val name = "didx_self"
    def dropAll(): Unit = Seq("clusters", "shingles", "buckets", "meta", "_epoch")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${name}_$t`"))
    dropAll()
    try {
      val idx = DedupIndex.build(docs(
        1L -> "aa bb cc dd ee ff gg hh ii jj", 2L -> "aa bb cc dd ee ff gg hh ii jj",
        3L -> "aa bb cc dd ee ff gg hh ii zz", 4L -> "kk ll mm nn oo pp qq rr ss tt"),
        "doc_id", "text")
      DedupIndex.writeBucketed(idx, name, numBuckets = 4)
      val first = DedupIndex.readBucketed(spark, name)
      val (clusters, shingles, buckets) =
        (rowSet(first.clusters), rowSet(first.shingles), rowSet(first.buckets))
      assert(clusters === rowSet(idx.clusters) && shingles === rowSet(idx.shingles))
      // the new contents are read from the very tables they replace
      DedupIndex.writeBucketed(DedupIndex.readBucketed(spark, name), name, numBuckets = 4)
      val back = DedupIndex.readBucketed(spark, name)
      assert((back.shingleSize, back.numHashes, back.bands) ===
        ((idx.shingleSize, idx.numHashes, idx.bands)))
      assert(rowSet(back.clusters) === clusters)
      assert(rowSet(back.shingles) === shingles)
      assert(rowSet(back.buckets) === buckets)
    } finally dropAll()
  }

  test("DocStream.fromDedupIndex probe equals the indexCorpusDeduped probe") {
    import graft.streaming.DocStream
    val corpus = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      12L -> "one two three four five six seven eight nine ten")
    val incoming = docs(
      20L -> "alpha beta gamma delta epsilon zeta eta theta iota mu",
      21L -> "unrelated words entirely nothing shared with anything here")
    val viaOld = DocStream.dedupedNearDupAgainstCorpus(
      incoming, DocStream.indexCorpusDeduped(corpus, "doc_id", "text"),
      "doc_id", "text", threshold = 0.4)
    val viaIdx = DocStream.dedupedNearDupAgainstCorpus(
      incoming,
      DocStream.fromDedupIndex(
        graft.dedup.DedupIndex.build(corpus, "doc_id", "text")),
      "doc_id", "text", threshold = 0.4)
    assert(rowSet(viaIdx.hits) === rowSet(viaOld.hits))
    assert(rowSet(viaIdx.hits).nonEmpty) // 20 hits the 10/11 representative
    assert(rowSet(viaIdx.copyCounts) === rowSet(viaOld.copyCounts))
  }
}
