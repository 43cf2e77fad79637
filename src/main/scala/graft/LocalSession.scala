package graft

import org.apache.spark.sql.SparkSession

/** The one builder of a local engine session, shared by `Bench`,
  * `Verify`, the test suites and the test-scope tools: `local[cpus]` with
  * as many shuffle partitions as cores, the [[GraftExtensions]] functions,
  * UTC, no UI, and legacy TIMESTAMP(NANOS) event layouts read as raw long
  * nanoseconds. */
object LocalSession {
  def apply(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
