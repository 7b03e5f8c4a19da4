package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB time attribution for a named query (optimization tooling,
  * guide §1: measure first). Bench reports one wall number per query;
  * the 3-8 s entries are compositions of MANY actions (persist
  * materializations, in-query `require` probes, streaming micro-batches,
  * store writes), so optimizing them needs the split.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.Profile l116_blob_perceptual_neardup"
  *
  * Prints one line per Spark job: start-offset, duration, stage count
  * and the callSite/description, then the query total. Warmup at
  * sf0.001 first (same discipline as Bench) so JIT/codegen compile cost
  * does not masquerade as engine time.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.graded("graft-profile")

    val warm = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")

    case class Job(id: Int, desc: String, started: Long, var ended: Long = -1L,
                   var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val j = Job(e.jobId, desc, e.time)
        j.stages = e.stageInfos.size
        jobs.put(e.jobId, j): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (collecting) {
        Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
      }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (warm.isDirectory) {
        try fn(spark, warm.toString).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[profile] warmup: ${e.getMessage}") }
        GraftSession.releaseCached(spark)
      }
      jobs.clear(); collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      GraftSession.releaseCached(spark)
      // listener bus is async; give tail events a moment
      Thread.sleep(300)
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.started)
      val base = js.headOption.map(_.started).getOrElse(0L)
      println(s"===== $name  wall=${f"$wall%.2f"}s  jobs=${js.size} =====")
      js.foreach { j =>
        val dur = if (j.ended >= 0) (j.ended - j.started) / 1000.0 else -1.0
        println(f"  +${(j.started - base) / 1000.0}%7.2fs  ${dur}%6.2fs  stages=${j.stages}%2d  ${j.desc.take(110)}")
      }
      val jobSum = js.collect { case j if j.ended >= 0 => j.ended - j.started }.sum / 1000.0
      println(f"  job-sum=${jobSum}%.2fs  gap(wall-jobsum)=${wall - jobSum}%.2fs")
    }
    spark.stop()
  }
}
