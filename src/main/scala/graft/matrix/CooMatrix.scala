package graft.matrix

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Columns, Graph}

/** Sparse matrix in COO form: one `(row, col, val)` DataFrame row per
  * non-zero entry.
  *
  * The reference imports a `matrix` module that does not exist in the
  * repository (algorithms/katz_index.py:4,7 against an empty
  * pyspark_graph/__init__.py), so this is a fresh design: matmul is an
  * equi-join on the inner dimension plus a grouped sum — the canonical
  * distributed SpGEMM, which Catalyst shuffles on the join key and AQE can
  * skew-split.
  */
final case class CooMatrix(df: DataFrame) {
  import Columns._

  /** this * other — join on inner index, multiply, sum per output cell */
  def multiply(other: CooMatrix): CooMatrix = {
    val a = df.select(col(ROW), col(COL).as("_k"), col(VAL).as("_va"))
    val b = other.df.select(col(ROW).as("_k"), col(COL), col(VAL).as("_vb"))
    CooMatrix(
      a.join(b, Seq("_k"))
        .groupBy(col(ROW), col(COL))
        .agg(sum(col("_va") * col("_vb")).as(VAL)))
  }

  /** elementwise sum, treating absent cells as zero */
  def plus(other: CooMatrix): CooMatrix =
    CooMatrix(
      df.unionByName(other.df)
        .groupBy(col(ROW), col(COL))
        .agg(sum(col(VAL)).as(VAL)))

  def scale(factor: Double): CooMatrix =
    CooMatrix(df.withColumn(VAL, col(VAL) * lit(factor)))

  def maxAbs(): Double = {
    val r = df.agg(max(abs(col(VAL)))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** this matrix, pinned through [[CheckpointPolicy]] */
  def pinned(): CooMatrix = CooMatrix(CheckpointPolicy.pin(df))
}

object CooMatrix {
  import Columns._

  /** Adjacency matrix of a graph: A[src, dst] = 1 per (deduped) edge;
    * undirected graphs get both orientations.
    */
  def adjacency(g: Graph): CooMatrix = {
    val fwd = g.edges.select(col(SRC).as(ROW), col(DST).as(COL))
    val all = if (g.directed) fwd
      else fwd.union(g.edges.select(col(DST).as(ROW), col(SRC).as(COL)))
    CooMatrix(all.distinct().withColumn(VAL, lit(1.0)))
  }
}
