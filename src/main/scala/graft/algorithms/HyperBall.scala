package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.sketch.Hll

/** HyperBall / ANF: the neighbourhood function N(r) = Σ_v |B(v, r)| and
  * the effective diameter estimated from per-vertex HyperLogLog ball
  * counters (Palmer et al., "ANF: a fast and scalable tool for data
  * mining in massive graphs", KDD'02; Boldi & Vigna, "In-core
  * computation of geometric centralities with HyperBall", ICDMW'13).
  * Complements [[BreadthFirstSearch.pseudoDiameter]]'s double-sweep
  * LOWER BOUND with the scale-standard estimator of the whole distance
  * distribution.
  *
  * Each vertex carries an HLL register set of its ball B(v, r); one
  * round merges every out-neighbour's registers into the owner's —
  * `register = max(own, neighbours)` per bucket — so after r rounds the
  * counter sketches exactly the vertices within r hops. Registers are
  * [[Hll.registers]] rows ((id, bucket) -> max rank): a round is ONE
  * equi-join (edges × registers, keyed by vertex) plus ONE map-side-
  * combinable max — no per-vertex state wider than m = 2^p rows, no
  * shuffle beyond the join's. The counter arithmetic is the
  * engine-portable 48-bit sha256-prefix HLL, so registers, harmonic
  * sums and raw estimates replay bit for bit in a SQL oracle (the d20
  * device).
  *
  * 100 TB shape: cost per round = |E| join rows + a groupBy on
  * (vertex, bucket) — the BFS round shape with a constant-factor
  * register payload; rounds ≤ effective diameter (real graphs: tens).
  * The per-round neighbourhood value is an AGGREGATE row, not a driver
  * action — the whole NF table is one lazy union, so the unconditional
  * fixed-round form (the oracle face) runs with zero driver actions.
  */
object HyperBall {

  import Columns.{DST, ID, SRC}

  /** Ball registers after every round 0..`rounds`: element k of the
    * result sketches B(v, k) for every vertex. Directed graphs grow
    * balls along OUT-edges; undirected graphs along both directions.
    * Each round is pinned — the iteration reuses it and so
    * do all 0..k estimate consumers.
    */
  def ballRegisters(g: Graph, p: Int, rounds: Int): Seq[DataFrame] = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val fwd = g.edges.select(col(SRC), col(DST))
    // pinned ONCE for the loop (OPTIMIZATION_r17): the propagation edge
    // list was a lazy plan re-evaluated (scan + union) by EVERY round's
    // contrib join — rounds × the whole edge-derivation cost (g63: 20
    // re-runs of an orders-scan + distinct). The Pregel/PageRank loops
    // already pin their loop-invariant edges; HyperBall now does too.
    val prop = CheckpointPolicy.pin((
      if (g.directed) fwd
      else fwd.union(g.edges.select(col(DST).as(SRC), col(SRC).as(DST)))))
    val init = CheckpointPolicy.pin(Hll.registers(
      g.vertices.select(col(ID)), Seq(ID), col(ID).cast("string"), p))
    var regs = init
    val out = Seq.newBuilder[DataFrame]
    out += init
    (1 to rounds).foreach { _ =>
      val contrib = prop
        .join(regs.select(col(ID).as(DST), col("bucket"), col("r")), Seq(DST))
        .select(col(SRC).as(ID), col("bucket"), col("r"))
      regs = CheckpointPolicy.pin(Hll.merge(regs.select(col(ID), col("bucket"), col("r"))
        .union(contrib), Seq(ID)))
      out += regs
    }
    out.result()
  }

  /** All rounds' estimates in ONE aggregation (OPTIMIZATION_r17): the
    * checkpointed round register frames are tagged with their round
    * number, unioned, and estimated grouped by (round, vertex) — 1
    * exchange instead of `rounds`+1 separate per-round aggregations
    * (guide §2.4: two operations keyed the same way share one
    * exchange). Values are identical to per-round [[Hll.estimate]]
    * calls: the (round, id) groups partition exactly the same register
    * rows. Output: (round, id, n_zero, s_sum, est_raw, lc_range). */
  private def taggedEstimates(g: Graph, p: Int, rounds: Int): DataFrame =
    Hll.estimate(
      ballRegisters(g, p, rounds).zipWithIndex.map { case (regs, k) =>
        regs.select(lit(k).as("round"), col(ID), col("bucket"), col("r"))
      }.reduce(_ union _),
      Seq("round", ID), p)

  /** Per-vertex neighbourhood estimates for rounds 0..`rounds`: one row
    * per (round, vertex) with the d20-audited HLL columns (n_zero,
    * s_sum, est_raw) — est_raw ≈ |B(v, round)|. The per-vertex face of
    * ANF (per-vertex ball growth is itself a centrality signal).
    */
  def vertexNeighbourhoods(g: Graph, p: Int, rounds: Int): DataFrame =
    taggedEstimates(g, p, rounds)
      .select(col("round"), col(ID), col("n_zero"), col("s_sum"),
        col("est_raw"))

  /** The neighbourhood function: (round, nf) where nf = Σ_v est_raw as
    * an exact DECIMAL(32,6) sum — each per-vertex estimate is a
    * 6-decimal double (cross-engine bit-equal, the d20 contract), its
    * decimal conversion is exact, and decimal addition is associative,
    * so the sum is order-independent and replayable — a double sum
    * would be neither. nf is nondecreasing in the round (registers only
    * grow).
    */
  def neighbourhoodFunction(g: Graph, p: Int, rounds: Int): DataFrame =
    // one grouped aggregation over the tagged estimates instead of
    // rounds+1 separate global aggs (OPTIMIZATION_r17); the decimal sum
    // is exact and associative, so per-round values are bit-identical
    taggedEstimates(g, p, rounds)
      .groupBy(col("round"))
      .agg(sum(col("est_raw").cast("decimal(26,6)")).cast("decimal(32,6)")
        .as("nf"))
      .select(col("round"), col("nf"))

  /** Per-vertex HARMONIC centrality estimate — the statistic HyperBall
    * was built for (Boldi & Vigna: "in-core computation of GEOMETRIC
    * CENTRALITIES with HyperBall"): H(v) = Σ_{u≠v} 1/d(u,v), estimated
    * as Σ_r (|B(v,r)| − |B(v,r−1)|) / r from the per-round ball
    * estimates. Vertices beyond `rounds` hops contribute nothing —
    * callers size `rounds` past the effective diameter (the same
    * saturation contract as [[effectiveDiameter]]).
    *
    * Exactness device — INTEGER MICRO-UNITS with NO floating point
    * anywhere. The per-round estimate is taken at 1e-6 granularity as
    * `e_micro = K div s_sum` where `K = floor(α_m·m²·2^Rmax·1e6)` is
    * ONE exact integer ([[harmonicNumeratorMicro]], BigInt rational
    * arithmetic, pasted into the plan as a digit-string DECIMAL
    * literal) and s_sum is an exact i64: integral division of two
    * exact positive integers, so no engine folds a double constant, no
    * IEEE operation exists to differ by an ulp, and no rounding rule
    * is ever consulted. (Two earlier faces — `round(est, 6)` on a
    * double, then `floor(num/s_sum·1e6)` with an engine-folded double
    * `num` — each proved portable in-container yet flipped a last-ulp
    * boundary in another engine build; only the all-integer form is
    * safe against engine-version drift.)
    * Deltas are nonnegative (registers only grow), and instead of
    * dividing by r — division rounds — each delta is multiplied by the
    * exact integer L/r where L = lcm(1..rounds) (the g33
    * harmonic-closeness device), with the weighted sum carried in i64.
    * Output (id, h_lcm_micro) as BIGINT: h_lcm_micro ≈ 1e6·L·H(v);
    * ranking and ratios are unaffected by the scaling.
    *
    * Plan shape: the round frames are per-vertex aggregates of the SAME
    * checkpointed registers the NF reuses; the pivot is `rounds` keyed
    * equi-joins on the vertex id — each frame one row per vertex.
    */
  def harmonicCentrality(g: Graph, p: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // lcm(1..16) = 720720; at 17 it jumps to 12,252,240 and the
    // weight×delta products leave the exact face's weight envelope. 16
    // rounds covers real effective diameters (web/social graphs: single
    // digits); DEEPER graphs use [[harmonicCentralityDeep]] — same
    // integer pipeline, rounds grouped so each bucket's lcm weights
    // stay small, one integral division per bucket. The dispatch is
    // EXPLICIT (no silent fallback): the deep face's output is a
    // differently named and differently scaled column ((id, h_micro) ≈
    // 1e6·H vs (id, h_lcm_micro) ≈ 1e6·L·H — the single-bucket lcm
    // scaling cannot extend past 16 rounds), and a caller who raises
    // `rounds` must opt into that contract change knowingly.
    require(rounds <= 16,
      s"harmonicCentrality supports rounds <= 16 (lcm weight envelope); got " +
        s"$rounds — call harmonicCentralityDeep explicitly for deeper graphs. " +
        "NOTE its output column is (id, h_micro) ~ 1e6*H(v), not h_lcm_micro.")
    val L = (1 to rounds).foldLeft(1L)((acc, r) =>
      acc / gcd(acc, r) * r)
    // the exact integer numerator as a digit-string DECIMAL literal;
    // `div` (IntegralDivide) of positive integers = floor, no double
    val k = harmonicNumeratorMicro(p)
    val kLit = s"CAST('$k' AS DECIMAL(${k.toString.length}, 0))"
    // one grouped aggregation + one pivot instead of rounds+1 aggs and
    // rounds keyed joins (OPTIMIZATION_r17): every vertex appears in
    // every round's registers (round-0 seeds all ids; merge only grows
    // them), so max(when(round = n)) picks exactly the one per-round
    // value the join form produced — 2 exchanges total.
    val e = taggedEstimates(g, p, rounds)
      .select(col("round"), col(ID), expr(s"$kLit div s_sum").as("_e"))
    val pivots = (0 to rounds).map(n =>
      max(when(col("round") === n, col("_e"))).as(s"_e$n"))
    val joined = e.groupBy(col(ID)).agg(pivots.head, pivots.tail: _*)
    // The delta×weight ACCUMULATION is DECIMAL(38,0): a term
    // (e_r − e_{r−1})·(L/r) on a ≳1.3e7-vertex ball (e_micro ≈
    // 1e6·|ball|) already passes 2^63 at round 1, so an i64 sum would
    // throw under ANSI (or wrap silently off it) on exactly the
    // web-scale graphs the face is documented for — the weighted sum
    // overflows long before the per-round estimates do (ADVICE r13).
    // Decimal integer arithmetic is exact and engine-portable (the
    // oracle accumulates in HUGEINT, identically exact). Only the FINAL
    // result casts to BIGINT — still loud under ANSI if the output
    // itself cannot fit, and the output column stays BIGINT on both
    // faces (the unique-to-this-query DECIMAL(38,0) OUTPUT column was
    // one of two constructs separating the r10–r12 driver-red oracle
    // from the 166 green ones; intermediates were never the issue).
    val h = (1 to rounds).map { r =>
      (col(s"_e$r") - col(s"_e${r - 1}")).cast("decimal(38,0)") * lit(L / r)
    }.reduce(_ + _)
    joined.select(col(ID), h.cast("long").as("h_lcm_micro"))
  }

  /** Deep-graph harmonic face for effective diameters past 16: the
    * identical integer pipeline with ROUNDS GROUPED INTO BUCKETS so the
    * lcm weights stay bounded. Rounds are partitioned greedily — a
    * bucket [lo..hi] extends while lcm(lo..hi)/lo ≤ 720720, the exact
    * face's own weight envelope (lo=1 reproduces the 1..16 bucket; deep
    * buckets shrink as new primes enter, and a singleton bucket always
    * fits since its weight is 1). Within a bucket deltas are weighted
    * by the exact integers L_b/r as before (no division); buckets are
    * then combined as Σ_b (S_b div L_b) — ONE floor division per
    * bucket, each losing < 1 micro-unit, so the result understates
    * 1e6·H(v) by at most #buckets micro-units (≈1e-6·#buckets in H
    * units, orders below the HLL error itself). All-integer, so the
    * same engine-portability contract as the exact face holds.
    *
    * Output (id, h_micro) as BIGINT: h_micro ≈ 1e6·H(v) directly (no
    * lcm scaling — bucket lcms differ, so a common scale must be H's
    * own).
    */
  def harmonicCentralityDeep(g: Graph, p: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val buckets = bucketRounds(rounds)
    val k = harmonicNumeratorMicro(p)
    val kLit = s"CAST('$k' AS DECIMAL(${k.toString.length}, 0))"
    // same single-pass pivot as the exact face (OPTIMIZATION_r17):
    // 2 exchanges instead of rounds+1 aggs + rounds keyed joins
    val e = taggedEstimates(g, p, rounds)
      .select(col("round"), col(ID), expr(s"$kLit div s_sum").as("_e"))
    val pivots = (0 to rounds).map(n =>
      max(when(col("round") === n, col("_e"))).as(s"_e$n"))
    val joined = e.groupBy(col(ID)).agg(pivots.head, pivots.tail: _*)
    // same DECIMAL(38,0) accumulation as the exact face (ADVICE r13):
    // a bucket's weighted sum overflows i64 on ≳1e7-vertex balls even
    // though every per-round estimate fits comfortably
    val sums = buckets.zipWithIndex.map { case ((lo, hi, lb), i) =>
      (lo to hi).map { r =>
        (col(s"_e$r") - col(s"_e${r - 1}")).cast("decimal(38,0)") * lit(lb / r)
      }.reduce(_ + _).as(s"_s$i")
    }
    val hExpr = buckets.zipWithIndex
      .map { case ((_, _, lb), i) => s"(_s$i div ${lb}L)" }
      .mkString(" + ")
    joined.select(col(ID) +: sums: _*)
      .selectExpr(ID, s"CAST($hExpr AS BIGINT) AS h_micro")
  }

  /** Greedy round-bucket partition for [[harmonicCentralityDeep]]:
    * contiguous (lo, hi, lcm(lo..hi)) spans of 1..rounds, each extended
    * while its max weight lcm(lo..hi)/lo stays ≤ 720720 (= lcm(1..16),
    * the exact face's envelope). */
  private[graft] def bucketRounds(rounds: Int): Seq[(Int, Int, Long)] = {
    val out = Seq.newBuilder[(Int, Int, Long)]
    var lo = 1
    while (lo <= rounds) {
      var hi = lo
      var l = lo.toLong
      var grown = true
      while (grown && hi < rounds) {
        val next = l / gcd(l, hi + 1L) * (hi + 1)
        if (next / lo <= 720720L) { hi += 1; l = next } else grown = false
      }
      out += ((lo, hi, l))
      lo = hi + 1
    }
    out.result()
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** The harmonic-centrality micro-unit numerator as ONE exact integer:
    * K = floor(α_m · m² · 2^Rmax · 10^6) with
    * α_m = 0.7213/(1 + 1.079/m) expanded rationally —
    * K = ⌊7213 · m · 2^(p+49) · 10^5 / (1000m + 1079)⌋. BigInt
    * arithmetic, so both the Spark face and the SQL oracle embed the
    * identical digit string (p=4 → 6086438618134249105544) and neither
    * engine ever folds a floating-point constant.
    */
  def harmonicNumeratorMicro(p: Int): BigInt =
    (BigInt(7213) * (1L << p) * BigInt(2).pow(p + 49) * 100000) /
      (1000L * (1L << p) + 1079)

  /** Effective diameter at fraction `num`/`den` (default 9/10): the
    * smallest round r with den·nf(r) >= num·max(nf) — all-decimal
    * arithmetic, so the threshold test is exact. One row
    * (effective_diameter, nf_max). The max is the last round's value by
    * monotonicity; callers must size `rounds` past saturation (a round
    * that changes nothing is the convergence witness).
    */
  def effectiveDiameter(nf: DataFrame, num: Int = 9, den: Int = 10): DataFrame = {
    val mx = nf.agg(max(col("nf")).as("nf_max"))
    nf.crossJoin(broadcast(mx))
      .filter(col("nf") * den >= col("nf_max") * num)
      .agg(min(col("round")).as("effective_diameter"), max(col("nf_max")).as("nf_max"))
  }
}
