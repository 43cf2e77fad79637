package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run hands to its workload: the session, the tracer
  * and the ledgers of calls, latencies and failures. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** latency samples by operation kind, timed loop only */
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** summed call seconds and work units by operation kind, timed loop only */
  val busy = mutable.LinkedHashMap.empty[String, Double]
  val units = mutable.LinkedHashMap.empty[String, Double]
  /** named figures a workload reports (counts, ratios, quality) */
  val figures = mutable.LinkedHashMap.empty[String, Double]
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  /** duration (s) of each superstep callback of the direct Pregel runs,
    * timed loop only */
  val superstepSeconds = mutable.ArrayBuffer.empty[Double]
  /** engine seconds spent in the current round (oracle checks excluded) */
  var roundSeconds = 0.0
  var timed = false
  /** driver heap MB after a full GC (block store excluded), sampled after
    * set-up and after the timed loop; never between calls, because a
    * forced collection hands the context cleaner work that then runs
    * during the next call */
  val heapSamples = mutable.ArrayBuffer.empty[Double]
  /** seconds spent computing oracle answers and checking results */
  var checkSeconds = 0.0

  def cpus: Int = spark.sparkContext.defaultParallelism

  /** One call into the engine: timed (as a span when tracing), then
    * checked against the oracle outside the timing. An exception or a
    * failed check counts as a failed call. `kind` groups latencies;
    * `work` is the call's size in the workload's throughput unit. */
  def call[A](kind: String, layer: String, name: String, work: Double = 0.0)(
      body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(layer, name)(body))
      catch { case e: Throwable => Left(e) }
    res match {
      case Left(e) =>
        roundSeconds += (System.nanoTime() - t0) / 1e9
        fail(s"$layer.$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
      case Right((a, sec)) =>
        roundSeconds += sec
        System.err.println(f"[perfbench] call $layer.$name ${sec}%.3f s")
        if (timed) {
          latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += sec
          busy(kind) = busy.getOrElse(kind, 0.0) + sec
          units(kind) = units.getOrElse(kind, 0.0) + work
        }
        val c0 = System.nanoTime()
        val verdict = try check(a)
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
        checkSeconds += (System.nanoTime() - c0) / 1e9
        verdict match {
          case Some(why) => fail(s"$layer.$name wrong result: $why"); None
          case None => Some(a)
        }
    }
  }

  /** A span around benchmark-side work that is not a checked call
    * (set-up steps that have no result to verify). */
  def step[A](layer: String, name: String)(body: => A): A = {
    val (a, sec) = tracer.span(layer, name)(body)
    System.err.println(f"[perfbench] step $layer.$name ${sec}%.3f s")
    a
  }

  def fail(why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += why
    System.err.println(s"[perfbench] FAIL $why")
  }

  def add(figure: String, v: Double): Unit = figures(figure) = figures.getOrElse(figure, 0.0) + v
}

/** A benchmark workload: `setup` builds everything the loop needs (and
  * is timed as set-up), `round` runs one fixed mix of calls. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** untimed warm-up before the loop; by default one full round */
  def warmup(): Unit = round(0)
  /** end-of-run figures measured outside the calls (e.g. stored bytes) */
  def finish(): Unit = ()
  def teardown(): Unit = ()
}
