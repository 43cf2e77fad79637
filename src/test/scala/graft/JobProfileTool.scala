import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev harness (test scope only): runs named SparkEntry queries ONCE each
  * with a SparkListener counting jobs and per-job wall time, so an
  * optimization round can attribute a query's seconds to driver round
  * trips (job count) vs genuinely slow stages — the job-count A/B the
  * r17 verdict asked for on the HITS/eigenvector lazy-pin claim.
  *
  *   SMOKE_SF_DIR=/root/testdata/sf0.1 SMOKE_CPUS=32 \
  *     sbt 'Test/runMain JobProfile g28_hits d02_minhash_dedup'
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SMOKE_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SMOKE_CPUS", "32").toInt
    val topN = sys.env.getOrElse("SMOKE_TOP_JOBS", "12").toInt
    val spark = graft.LocalSession(cpus)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    import org.apache.spark.sql.functions._
    spark.range(0L, 2000000L, 1L, 8)
      .select(pmod(hash(col("id")), lit(1000)).as("k"))
      .groupBy(col("k")).count().agg(sum(col("count"))).collect()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          jobs.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    for (n <- args.toSeq) {
      jobs.clear(); starts.clear()
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener queue (job-end events are async; the bus is
      // private — a short sleep is enough for a dev tool)
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val all = jobs.asScala.toSeq.sortBy(_._1)
      val totalJob = all.map(_._2).sum
      println(f"=== $n%-28s wall=$wall%7.3f s  jobs=${all.size}%4d  " +
        f"sum_job=$totalJob%7.3f s  gap=${wall - totalJob}%6.3f s")
      all.sortBy(-_._2).take(topN).foreach { case (id, s, desc) =>
        println(f"    job#$id%-5d $s%7.3f s  ${desc.take(110)}")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }
}
