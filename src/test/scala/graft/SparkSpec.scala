package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graph

/** Shared one-session-per-suite harness (cf. reference tests/spark_test.py:6-15). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** order-insensitive row comparison */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Run `body` with `dir` as the shared context's checkpoint directory,
    * so every pin in it is reliable, then restore the prior directory. */
  def withCheckpointDir[A](dir: String)(body: => A): A =
    org.apache.spark.graft.CheckpointDirs.withCheckpointDir(spark.sparkContext, dir)(body)

  /** a fresh empty directory for checkpoint files */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** the number of files under `dir`, at any depth */
  def filesUnder(dir: String): Long = {
    def count(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles().map(count).sum else 1L
    count(new java.io.File(dir))
  }
}

object SparkSpec {
  /** Four cores, whatever the host has: the plan-shape and job-count
    * specs assume this session. */
  lazy val session: SparkSession = LocalSession(4, "ERROR")
}

/** Canonical sample graphs — port of reference tests/samples.py:6-35. */
object Fixtures {
  import org.apache.spark.sql.functions._

  private def g(spark: SparkSession,
      vs: Seq[String], es: Seq[(String, String)], directed: Boolean): Graph = {
    import spark.implicits._
    Graph.index(
      vs.toDF("id"),
      es.toDF("src", "dst").withColumn("nine", lit(9)),
      directed)
  }

  /** samples.py:6-11 — 6 vertices a..f, 7 edges incl back-edge b->a; 2 triangles */
  def sample1(spark: SparkSession, directed: Boolean = true): Graph =
    g(spark, Seq("a", "b", "c", "d", "e", "f"),
      Seq("a" -> "b", "a" -> "c", "b" -> "d", "b" -> "c", "b" -> "e", "e" -> "d", "b" -> "a"),
      directed)

  /** samples.py:14-19 — chain with one 3-cycle */
  def sample2(spark: SparkSession, directed: Boolean = true): Graph =
    g(spark, Seq("a", "b", "c", "d", "e", "f"),
      Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e", "e" -> "f"),
      directed)

  /** samples.py:22-27 — 3-cycle {a,b,c} + star {d,e,f}; 1 triangle */
  def twoComponents(spark: SparkSession, directed: Boolean = true): Graph =
    g(spark, Seq("a", "b", "c", "d", "e", "f"),
      Seq("a" -> "b", "b" -> "c", "c" -> "a", "d" -> "e", "d" -> "f"),
      directed)

  /** samples.py:30-35 — long ids 0..5 with a string label column */
  def labelled(spark: SparkSession, directed: Boolean = true): Graph = {
    import spark.implicits._
    Graph.index(
      Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"), (5L, "f"))
        .toDF("id", "label"),
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (3L, 5L)).toDF("src", "dst"),
      directed)
  }
}
