package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed loop with a
  * single client thread against a `local[nproc]` session.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints a human-readable record (every named metric with its unit)
  * and, as the last line, one JSON object with every named metric
  * (run.py keeps the ones BENCHMARK.json lists).
  * Every call's result is checked against a driver-side oracle; a wrong
  * result or an exception counts as a failed call. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("work", ".bench_build/work")).toAbsolutePath)
  }

  val workloads: Map[String, Ctx => Workload] = Map(
    "graph_iterative" -> (c => new GraphIterative(c)),
    "graph_lifecycle" -> (c => new GraphLifecycle(c)),
    "corpus_dedup_ann" -> (c => new CorpusDedupAnn(c)))

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation MB in use right after a full collection, minus the
    * block store's cached and checkpointed blocks. In local mode the
    * executor's block store lives in the driver heap and is freed by the
    * context cleaner at its own pace; what remains is the driver's own
    * working set (collected results, driver-side fast paths, plans). */
  def heapAfterGcMb(sc: org.apache.spark.SparkContext): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    val blocks = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (pools.map(_.getUsage.getUsed).sum - blocks) / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, with its value. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else {
      val p = math.floor(100.0 * (s.size - 10) / s.size)
      val i = math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1).max(0)
      Some((p, s(i)))
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    deleteTree(a.work.toFile)
    Files.createDirectories(a.work.resolve("local"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(a.work, cpus)
    System.err.println(f"[perfbench] session up ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val ctx = new Ctx(spark, tracer, a.seed)
    val wl = make(ctx)
    var exit = 0
    try {
      // set-up: session, inputs, builds and the workload's warm-up
      wl.setup()
      tracer.phase = "warmup"
      wl.warmup()
      // oracle answers are benchmark work, not engine set-up
      val setupS = (System.nanoTime() - t0) / 1e9 - ctx.checkSeconds
      ctx.heapSamples += heapAfterGcMb(spark.sparkContext)

      tracer.phase = "loop"
      ctx.timed = true
      val rounds = mutable.ArrayBuffer.empty[Double]
      val loopStart = System.nanoTime()
      var r = 1
      while (rounds.isEmpty || (System.nanoTime() - loopStart) / 1e9 < a.seconds) {
        ctx.roundSeconds = 0.0
        wl.round(r)
        rounds += ctx.roundSeconds
        r += 1
      }
      ctx.timed = false
      ctx.heapSamples += heapAfterGcMb(spark.sparkContext)
      tracer.phase = "finish"
      wl.finish()

      System.err.println(s"[perfbench] heap MB ${ctx.heapSamples.map(_.round).mkString(",")}")
      val rec = Report(a, ctx, setupS, rounds.toSeq, cpus)
      rec.printHuman()
      if (a.trace) {
        tracer.drain()
        val tr = TraceReport(ctx, rounds.sum, median(rounds.toSeq))
        tr.write(a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.json"))
        println(rec.json(rec.named ++ tr.metrics))
      } else println(rec.json(rec.named))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      try wl.teardown() catch { case e: Throwable => System.err.println(s"[perfbench] teardown: $e") }
      spark.stop()
      deleteTree(a.work.toFile)
    }
    System.exit(exit)
  }
}
