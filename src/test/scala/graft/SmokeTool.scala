/** Dev harness (test scope only — never ships in the library jar): dumps
  * named SparkEntry queries to /tmp/smoke_out for tools/cmp_one.py to
  * cross-check against their DuckDB oracle.
  *
  *   sbt 'Test/runMain SmokeTest d02_minhash_dedup'
  *   python3 tools/cmp_one.py d02_minhash_dedup <<'EOF' ... oracle sql ... EOF
  */
object SmokeTest {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SMOKE_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSession(8, "ERROR")
    args.toSeq.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"/tmp/smoke_out/$n.parquet")
      graft.SparkEntry.oracleSql.get(n).foreach { sql =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"/tmp/smoke_out/$n.sql"),
          sql.getBytes("UTF-8"))
      }
      println(s"=== $n rows=${spark.read.parquet(s"/tmp/smoke_out/$n.parquet").count()}")
    }
    spark.stop()
  }
}
