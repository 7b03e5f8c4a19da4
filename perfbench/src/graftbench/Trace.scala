package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A timed region. Times are milliseconds since the tracer opened.
  * The layer is the first dot-separated component of the name. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
                      var endMs: Double, attrs: Map[String, Any]) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** One StreamingQueryProgress, kept per batch. */
final case class Progress(query: String, batchId: Long, atMs: Double,
                          durations: Map[String, Long], inputRows: Long,
                          stateRows: Long, stateCommitMs: Long,
                          droppedByWatermark: Long)

/** Span recorder plus Spark listeners. When `on` is false every call is
  * a pass-through and nothing is registered with the engine.
  *
  * Jobs are attributed to the innermost open span of the thread that
  * submitted them (through a SparkContext local property); stages and
  * tasks follow their job. Everything stays in memory until `close`. */
final class Tracer private (spark: SparkSession, val on: Boolean) {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val PropKey = "graftbench.span"

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  private def epochToMs(epoch: Long): Double = (epoch - originEpochMs).toDouble

  /** Run `body` inside a span. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get.headOption
        .orElse(Option(sc.getLocalProperty(PropKey)).map(_.toInt)).getOrElse(-1)
      val s = spans.synchronized {
        val sp = Span(spans.size, name, parent, nowMs, Double.NaN, attrs.toMap)
        spans += sp
        sp
      }
      val prevProp = sc.getLocalProperty(PropKey)
      stack.set(s.id :: stack.get)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack.set(stack.get.tail)
        sc.setLocalProperty(PropKey, prevProp)
      }
    }

  /** A span recorded after the fact (e.g. from a sampler thread), with
    * an explicit parent. */
  def record(name: String, parent: Int, startMs: Double, endMs: Double,
             attrs: (String, Any)*): Unit =
    if (on) spans.synchronized {
      spans += Span(spans.size, name, parent, startMs, endMs, attrs.toMap)
    }

  def currentSpan: Int = stack.get.headOption.getOrElse(-1)

  // ---- engine listener -------------------------------------------------
  final class JobRec(val id: Int, val span: Int, val startMs: Double, var endMs: Double = Double.NaN,
                     var ok: Boolean = true)
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L
    def toMap: Map[String, Any] = Map("tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1000000, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spill)
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val perSpan = mutable.HashMap.empty[Int, Acc]
  val total = new Acc
  var stages = 0L
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  var peakBlockBytes = 0L

  private val engineListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new JobRec(e.jobId, span, epochToMs(e.time))
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = epochToMs(e.time)
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val span = stageJob.get(e.stageId).flatMap(jobs.get).map(_.span).getOrElse(-1)
        Seq(total, perSpan.getOrElseUpdate(span, new Acc)).foreach { a =>
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        blockBytes += size - blocks.getOrElse(key, 0L)
        if (size == 0) blocks.remove(key) else blocks(key) = size
        peakBlockBytes = math.max(peakBlockBytes, blockBytes)
      }
    }
  }

  // ---- streaming listener ----------------------------------------------
  val progress = mutable.ArrayBuffer.empty[Progress]
  val queryStarts = mutable.HashMap.empty[java.util.UUID, Double]
  val firstProgressMs = mutable.HashMap.empty[java.util.UUID, Double]

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      val at = nowMs
      firstProgressMs.getOrElseUpdate(p.runId, at)
      val ops = p.stateOperators
      progress += Progress(Option(p.name).getOrElse(""), p.batchId, at,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsDroppedByWatermark).sum)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Note the moment a query's start() was called, for startup time. */
  def started(runId: java.util.UUID, atMs: Double): Unit =
    if (on) lock.synchronized { queryStarts(runId) = atMs }

  if (on) {
    spark.sparkContext.addSparkListener(engineListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver everything posted so far. */
  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Deregister the listeners (before the leak gauges are read). */
  def close(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(engineListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- summaries -------------------------------------------------------
  def finishedSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var acc = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) acc += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) acc += curB - curA
    acc
  }

  /** Wall time in [lo, hi] not covered by any engine job. */
  def schedGapMs(lo: Double, hi: Double): Double = lock.synchronized {
    (hi - lo) - unionMs(jobs.values.filter(!_.endMs.isNaN).map(j => (j.startMs, j.endMs)).toSeq, lo, hi)
  }

  /** Median over stages (with at least 4 tasks) of max / median task
    * run time. */
  def taskSkew: Double = lock.synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 4).flatMap { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) Some(ts.max / med) else None
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }

  /** Spans plus engine jobs (as `engine.job` children of the span that
    * submitted them), each with its self time: duration minus the union
    * of its children. */
  def spanTable(): Seq[Map[String, Any]] = {
    val ss = finishedSpans
    val jobSpans = lock.synchronized {
      jobs.values.filter(!_.endMs.isNaN).toSeq.map(j =>
        Span(-1000000 - j.id, "engine.job", j.span, j.startMs, j.endMs,
          Map("job_id" -> j.id, "ok" -> j.ok)))
    }
    val all = ss ++ jobSpans
    val children = all.groupBy(_.parent)
    val accs = lock.synchronized(perSpan.map { case (k, v) => k -> v.toMap }.toMap)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val self = s.durMs - unionMs(kids, s.startMs, s.endMs)
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self,
        "attrs" -> s.attrs, "tasks" -> accs.getOrElse(s.id, Map.empty))
    }
  }

  /** Self time summed per layer, in seconds. */
  def layerSelfS(table: Seq[Map[String, Any]]): Map[String, Double] =
    table.groupBy(_("layer").toString).map { case (l, rows) =>
      l -> rows.map(_("self_ms").asInstanceOf[Double]).sum / 1000.0
    }
}

object Tracer {
  def apply(spark: SparkSession, on: Boolean): Tracer = new Tracer(spark, on)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
