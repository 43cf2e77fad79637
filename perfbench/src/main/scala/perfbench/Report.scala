package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import Main.{median, tail}

/** Formatting helpers shared by the records. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")
}

/** End-to-end record of one run. */
final case class Report(
    args: Main.Args, ctx: Ctx, setupS: Double, rounds: Seq[Double], cpus: Int) {
  private def heapSamples = ctx.heapSamples.toSeq

  /** the call kind whose work per busy second is the throughput */
  private val throughputKind = args.workload match {
    case "graph_iterative" => "algo"
    case "graph_lifecycle" => "write"
    case _ => "ingest"
  }

  private def p50(kind: String): Double = median(ctx.latencies.getOrElse(kind, Nil).toSeq)

  def workPerS: Double =
    ctx.units.getOrElse(throughputKind, 0.0) / ctx.busy.getOrElse(throughputKind, Double.NaN)

  /** The end-to-end metrics BENCHMARK.json lists, identical in name and
    * unit on every workload. */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("wall_s", median(rounds), "s"),
    ("work_per_s", workPerS, "1/s"))

  /** Every named metric of the workload, for the human-readable record. */
  def named: Seq[(String, Double, String)] = {
    val common = endToEnd ++ Seq(
      ("driver_heap_mb", median(heapSamples), "MB"),
      ("error_rate", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio"),
      ("rounds", rounds.size.toDouble, "count"),
      ("driver_heap_peak_mb", heapSamples.max, "MB"),
      ("oracle_s", ctx.checkSeconds, "s"))
    val specific = args.workload match {
      case "graph_iterative" => Seq(("edges_per_s", workPerS, "1/s"))
      case "graph_lifecycle" =>
        val reads = ctx.latencies.getOrElse("read", Nil).toSeq
        val (pct, tailV) = tail(reads).getOrElse((Double.NaN, Double.NaN))
        Seq(
          ("write_p50_s", p50("write"), "s"),
          ("read_p50_s", p50("read"), "s"),
          ("read_tail_s", tailV, "s"),
          ("read_tail_percentile", pct, "pct"),
          ("read_samples", reads.size.toDouble, "count"),
          ("stored_bytes_per_edge", ctx.figures.getOrElse("stored_bytes_per_edge", Double.NaN), "B"))
      case _ => Seq(
        ("ingest_docs_per_s", workPerS, "1/s"),
        ("query_p50_s", p50("query"), "s"),
        ("ann_recall_at_10", ctx.figures.getOrElse("ann_recall_at_10", Double.NaN), "ratio"),
        ("dedup_recall", ctx.figures.getOrElse("dedup_recall", Double.NaN), "ratio"))
    }
    common ++ specific
  }

  def printHuman(): Unit = {
    println(s"[perfbench] workload=${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"cpus=$cpus attempted=${ctx.attempted} failed=${ctx.failed}")
    ctx.fingerprints.foreach { case (k, v) => println(s"[perfbench] input $k fingerprint $v") }
    named.foreach { case (k, v, u) => println(f"[perfbench] $k%-24s ${Json.num(v)}%s $u") }
    ctx.failures.foreach(f => println(s"[perfbench] failure: $f"))
  }

  def json(metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""metrics": ${Json.metrics(metrics)}}"""
}

/** Per-layer attribution of a traced run, built from the benchmark's own
  * spans and the Spark listener. */
final case class TraceReport(ctx: Ctx, tracedWall: Double, tracedRound: Double) {
  private val spans = ctx.tracer.spans.toSeq.filter(!_.end.isNaN)
  private val jobs = ctx.tracer.listener.jobs.values.toSeq.filter(!_.end.isNaN)
  private val stats = Attribution.stats(spans, jobs)
  private val loop = stats.filter(_.span.phase == "loop")
  private val setup = stats.filter(_.span.phase == "setup")
  private val children = spans.groupBy(_.parent)

  /** layers with calls in the timed loop (core runs in set-up only) */
  val layers = Seq("pregel", "algorithms", "sources", "dedup", "similarity")

  private def descendants(s: Span): Seq[Span] =
    children.getOrElse(s.id, Nil).flatMap(k => k +: descendants(k))

  /** Jobs owned by a span or any of its descendants. */
  private val owned: Map[Int, Seq[JobRec]] = stats.map(st => st.span.id -> st.jobs).toMap
  private def allJobs(s: Span): Seq[JobRec] = (s +: descendants(s)).flatMap(x => owned.getOrElse(x.id, Nil))

  /** span wall minus the union of every job interval inside it */
  private def gap(s: Span): Double =
    math.max(0.0, s.wall - Attribution.unionLength(
      allJobs(s).map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))) / 1000.0)

  private def callP50(layer: String, name: String): Double = {
    val xs = loop.filter(st => st.span.layer == layer && st.span.name == name).map(_.span.wall)
    if (xs.isEmpty) 0.0 else median(xs)
  }
  private def setupWall(layer: String, name: String): Double =
    setup.filter(st => st.span.layer == layer && st.span.name == name).map(_.span.wall).sum

  private def sum(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum

  def metrics: Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def m(k: String, v: Double, u: String): Unit = out += ((k, if (v.isNaN) 0.0 else v, u))
    val loopJobs = loop.flatMap(_.jobs)
    val byId = spans.map(s => s.id -> s).toMap
    val top = loop.filter(st => byId.get(st.span.parent).forall(_.phase != "loop"))

    m("core.index_s", setupWall("core", "index"), "s")
    m("core.adjacency_s", setupWall("core", "adjacency"), "s")

    val pregelSpans = loop.filter(st => st.span.layer == "pregel")
    val steps = ctx.superstepSeconds.size.toDouble
    val calls = pregelSpans.size.toDouble
    m("pregel.supersteps", if (calls > 0) steps / calls else 0.0, "count")
    m("pregel.converged", ctx.figures.getOrElse("pregel_converged", 0.0), "ratio")
    m("pregel.superstep_p50_s", median(ctx.superstepSeconds.toSeq), "s")
    m("spark.jobs_per_superstep", if (steps > 0) pregelSpans.map(st => allJobs(st.span).size).sum / steps else 0.0, "count")
    Seq("cc_pregel" -> "cc_pregel_supersteps", "lpa" -> "lpa_supersteps").foreach { case (op, key) =>
      val sp = loop.filter(st => st.span.layer == "algorithms" && st.span.name == op)
      val perCall = ctx.figures.getOrElse(key, 0.0)
      m(s"algorithms.${op}_jobs_per_superstep",
        if (sp.nonEmpty && perCall > 0) sp.map(st => allJobs(st.span).size).sum / (perCall * sp.size) else 0.0, "count")
    }

    Seq("pagerank", "cc_pregel", "cc_star", "scc", "lpa").foreach(n => m(s"algorithms.${n}_s", callP50("algorithms", n), "s"))

    m("sources.write_bucketed_s", setupWall("sources", "write_bucketed"), "s")
    m("sources.build_components_s", setupWall("sources", "build_components"), "s")
    m("sources.append_edges_s", callP50("sources", "append_edges"), "s")
    m("sources.delete_edges_s", callP50("sources", "delete_edges"), "s")
    m("sources.read_components_s", callP50("sources", "read_components"), "s")
    m("sources.read_degrees_s", callP50("sources", "read_degrees"), "s")
    val written = ctx.figures.getOrElse("bytes_written", 0.0)
    m("sources.bytes_written", written, "B")
    m("sources.files_written", ctx.figures.getOrElse("files_written", 0.0), "count")
    val delta = ctx.figures.getOrElse("delta_bytes", 0.0)
    m("sources.bytes_written_per_delta_byte", if (delta > 0) written / delta else 0.0, "ratio")

    m("dedup.build_s", setupWall("dedup", "build"), "s")
    m("dedup.merge_s", callP50("dedup", "merge"), "s")
    m("dedup.advance_clusters_s", callP50("dedup", "advance_clusters"), "s")
    m("dedup.delete_s", callP50("dedup", "delete"), "s")
    m("dedup.pair_precision", ctx.figures.getOrElse("pair_precision", 0.0), "ratio")
    m("similarity.build_s", setupWall("similarity", "build"), "s")
    m("similarity.topk_s", callP50("similarity", "topk"), "s")
    m("similarity.append_s", callP50("similarity", "append"), "s")

    m("spark.jobs", loopJobs.size, "count")
    m("spark.stages", sum(loopJobs)(_.stages), "count")
    m("spark.tasks", sum(loopJobs)(_.tasks.toDouble), "count")
    m("spark.executor_run_s", sum(loopJobs)(_.runMs / 1000.0), "s")
    m("spark.gc_s", sum(loopJobs)(_.gcMs / 1000.0), "s")
    m("spark.shuffle_read_bytes", sum(loopJobs)(_.shuffleRead.toDouble), "B")
    m("spark.shuffle_write_bytes", sum(loopJobs)(_.shuffleWrite.toDouble), "B")
    m("spark.spill_bytes", sum(loopJobs)(_.spill.toDouble), "B")
    m("spark.task_failures", sum(loopJobs)(_.taskFailures.toDouble), "count")
    m("spark.driver_gap_s", top.map(st => gap(st.span)).sum, "s")
    m("spark.self_s", loop.map(_.jobUnion).sum, "s")

    layers.foreach { l =>
      val ls = loop.filter(_.span.layer == l)
      val lj = ls.flatMap(_.jobs)
      m(s"$l.self_s", ls.map(_.self).sum, "s")
      m(s"$l.jobs", lj.size, "count")
      m(s"$l.executor_run_s", sum(lj)(_.runMs / 1000.0), "s")
      m(s"$l.shuffle_bytes", sum(lj)(j => (j.shuffleRead + j.shuffleWrite).toDouble), "B")
      m(s"$l.driver_gap_s", top.filter(_.span.layer == l).map(st => gap(st.span)).sum, "s")
    }

    val selfSum = loop.map(st => st.self + st.jobUnion).sum
    m("trace.wall_s", tracedWall, "s")
    m("trace.self_sum_s", selfSum, "s")
    m("trace.round_s", tracedRound, "s")
    out.toSeq
  }

  /** The full trace: every span with its jobs, written once at the end. */
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"spans\": ["
    sb ++= stats.map { st =>
      val s = st.span
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": ${Json.str(s.layer)}, "name": ${Json.str(s.name)}, """ +
        s""""phase": ${Json.str(s.phase)}, "group": ${Json.str(s.group)}, "start_ms": ${Json.num(s.start)}, """ +
        s""""end_ms": ${Json.num(s.end)}, "self_s": ${Json.num(st.self)}, "spark_s": ${Json.num(st.jobUnion)}, """ +
        s""""jobs": [${st.jobs.map(_.id).mkString(", ")}]}"""
    }.mkString(",\n")
    sb ++= "],\n\"jobs\": ["
    sb ++= jobs.map { j =>
      s"""{"id": ${j.id}, "group": ${Json.str(j.group)}, "start_ms": ${Json.num(j.start)}, "end_ms": ${Json.num(j.end)}, """ +
        s""""stages": ${j.stages}, "tasks": ${j.tasks}, "run_ms": ${j.runMs}, "gc_ms": ${j.gcMs}, """ +
        s""""shuffle_read": ${j.shuffleRead}, "shuffle_write": ${j.shuffleWrite}, "spill": ${j.spill}, """ +
        s""""task_failures": ${j.taskFailures}}"""
    }.mkString(",\n")
    sb ++= "],\n\"metrics\": "
    sb ++= Json.metrics(metrics)
    sb ++= "}\n"
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}
