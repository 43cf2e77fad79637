package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}
import graft.matrix.CooMatrix

/** Katz index: S = Σ_{k=1..maxIterations} β^k · A^k — a path-count
  * similarity between every reachable vertex pair.
  *
  * The reference module is broken (katz_index.py:4,7 import a nonexistent
  * `matrix` module) and its loop squares the matrix (`a *= a`, :26),
  * computing A^(2^k) with `beta` unused — not the Katz series its docstring
  * describes. This implements the real series: accumulate β^k·A^k with the
  * power advanced by one multiply per iteration, stopping early when the
  * largest new term falls below `tolerance`.
  *
  * β must be < 1/λ_max(A) for the series to converge; the reference's
  * default β=1.0 diverges on any cyclic graph, so we default to 0.1.
  */
final case class KatzIndex(
    beta: Double = 0.1,
    tolerance: Option[Double] = None,
    maxIterations: Int = 10) {
  import Columns._

  val INDEX = "katz_index"

  def run(g: Graph): DataFrame = {
    val a = CooMatrix.adjacency(g).pinned()
    var power = a // A^k
    var sum = a.scale(beta) // Σ β^k A^k so far
    var betaK = beta
    var i = 1
    var done = false
    while (i < maxIterations && !done) {
      power = power.multiply(a).pinned()
      betaK *= beta
      val term = power.scale(betaK)
      sum = sum.plus(term).pinned()
      done = tolerance.exists(t => term.maxAbs() < t)
      i += 1
    }
    sum.df.select(col(ROW).as(SRC), col(COL).as(DST), col(VAL).as(INDEX))
  }
}
