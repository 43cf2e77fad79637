package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer of the engine, as seen from outside it.
  * Times are wall-clock milliseconds (fractional) on the same clock as
  * Spark's listener events, so jobs can be placed inside spans. */
final case class Span(
    id: Int, parent: Int, layer: String, name: String, group: String,
    phase: String, start: Double, var end: Double = Double.NaN) {
  def wall: Double = (end - start) / 1000.0
}

/** A finished Spark job with the task metrics of its stages summed. */
final class JobRec(val id: Int, val group: String, val start: Double) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Collects jobs, stages and tasks. Registered only in traced runs; the
  * engine itself carries no tracing code. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, group, e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!e.taskInfo.successful)
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.taskFailures += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def pending: Int = synchronized { jobs.values.count(_.end.isNaN) }
}

/** Span recorder. With tracing off it only measures wall time; with
  * tracing on it also keeps every span in memory, sets the Spark job
  * group to the span id before each call, and listens to the scheduler.
  * Everything is written out once, after the run. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  var phase = "setup"
  val listener = new JobListener
  private val enabled = traced
  if (enabled) sc.addSparkListener(listener)

  /** Time `body` as a span of `layer`; returns its value and wall seconds. */
  def span[A](layer: String, name: String)(body: => A): (A, Double) = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, parent, layer, name, s"span-${spans.size}", phase, nowMs)
    if (enabled) {
      spans += s
      stack.push(s)
      sc.setJobGroup(s.group, s"$layer.$name", interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    try {
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      s.end = nowMs
      if (enabled) {
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, s"${p.layer}.${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Wait until the listener bus has delivered every job end. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (listener.pending > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }
}

/** Per-span and per-layer attribution of a finished traced run. */
object Attribution {

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => !s.isNaN && !e.isNaN && e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Jobs owned by each span: by job group when it names a live span,
    * otherwise by the innermost span open when the job started (one
    * client thread, so spans never overlap except by nesting). */
  def jobsBySpan(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val byGroup = spans.map(s => s.group -> s.id).toMap
    val ordered = spans.sortBy(_.start)
    def innermost(t: Double): Option[Int] =
      ordered.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id)
    jobs.flatMap { j =>
      val owner = byGroup.get(j.group).filter { id =>
        val s = spans(id); j.start >= s.start - 5 && j.start <= s.end + 5
      }.orElse(innermost(j.start))
      owner.map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  final case class SpanStats(
      span: Span, self: Double, jobUnion: Double, jobs: Seq[JobRec])

  /** Self time: span wall minus the part covered by child spans minus
    * the part covered by its own Spark jobs (which goes to `spark`). */
  def stats(spans: Seq[Span], jobs: Seq[JobRec]): Seq[SpanStats] = {
    val owned = jobsBySpan(spans, jobs)
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val kidIv = kids.map(k => (k.start, k.end))
      val own = owned.getOrElse(s.id, Nil)
      val jobIv = own.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      val kidsLen = unionLength(kidIv)
      // jobs may overlap a child span only if launched from another
      // thread; count the covered time once
      val coveredLen = unionLength(kidIv ++ jobIv)
      val self = math.max(0.0, (s.end - s.start) - coveredLen) / 1000.0
      SpanStats(s, self, math.max(0.0, coveredLen - kidsLen) / 1000.0, own)
    }
  }
}
