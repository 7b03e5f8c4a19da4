package graftbench

import java.nio.file.{Files, Path}
import graft.sources.GraftLog
import graft.streaming.{GraftLogConnector, Pipeline, Reliability, SchemaRegistry, TumblingWindow}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** `events_stream`: one PSPF consumer over an 8-partition graftlog
  * topic with Zipf-skewed keys. Payloads are parsed through a
  * SchemaRegistry; malformed ones go to the DLQ topic through a second,
  * stateless query on the same topic; valid ones feed a watermarked
  * tumbling-window aggregation in update mode whose foreachBatch sink
  * writes each batch with `writeBatchIdempotent`.
  *
  * Phase 1 (backfill, closed loop): drain the pre-produced backlog,
  * stopping both queries once partway and restarting them from their
  * checkpoints. Phase 2 (tail, open loop): a producer process appends at
  * a fixed rate on top of the backfilled log; each emitted window row's
  * latency runs from the scheduled time of the newest event it contains
  * to the return of the sink write. */
object EventsStream extends Workload {
  val name = "events_stream"

  val BacklogEvents = 80000
  val SpacingMs = 5L
  val BatchCap = 10000
  val TailRate = 2000
  val RestartShare = 0.4
  /** Tail events due in the first `RampMs` give no latency samples. */
  val RampMs = 2000L
  /** The warm-up drains one full-size batch. */
  val WarmEvents = BatchCap
  val AggTopic = "agg"

  final case class In(root: String, exp: EventGen.Expected, t0: Long, seed: Long, tailMs: Long)

  private def topicDir(in: In) = s"${in.root}/${EventGen.Topic}"

  def prepare(spark: SparkSession, dir: Path, seed: Long, seconds: Int): In = {
    val root = dir.resolve("log").toString
    val end = System.currentTimeMillis()
    val exp = EventGen.backlog(s"$root/${EventGen.Topic}", seed, BacklogEvents, SpacingMs, end)
    In(root, exp, end - BacklogEvents * SpacingMs, seed, tailMs(seconds))
  }

  /** The tail is measured for `seconds` after a ramp of `RampMs` that
    * covers the producer JVM's first ticks; the backfill's length is set
    * by the backlog, not by the clock. */
  private def tailMs(seconds: Int): Long = RampMs + math.max(3000L, seconds * 1000L)

  def manifest(in: In): Map[String, Any] =
    EventGen.manifest(BacklogEvents, SpacingMs, in.exp, TailRate, in.tailMs) ++
      Map("batch_cap" -> BatchCap, "restart_after_share" -> RestartShare)

  def warm(spark: SparkSession, dir: Path, in: In): Unit = {
    val root = dir.resolve("log").toString
    val end = System.currentTimeMillis()
    EventGen.backlog(s"$root/${EventGen.Topic}", 7L, WarmEvents, SpacingMs, end)
    val small = In(root, null, end - WarmEvents * SpacingMs, 7L, 0L)
    val c = consumer(spark, small, Tracer(spark, on = false), new Latencies(Long.MaxValue), dir)
    c.start()
    c.awaitCommitted(WarmEvents)
    c.stop()
  }

  /** Window-row latencies recorded by the sink, for rows whose newest
    * event was due at or after `fromMs`. */
  final class Latencies(@volatile var fromMs: Long) {
    val ms = mutable.ArrayBuffer.empty[Double]
    def add(rowNewestMs: Long, doneMs: Long): Unit =
      if (rowNewestMs >= fromMs) ms.synchronized(ms += (doneMs - rowNewestMs).toDouble)
  }

  /** The consumer: the aggregation query and its DLQ leg, startable
    * and stoppable together. */
  final class Consumer(spark: SparkSession, in: In, tr: Tracer, lat: Latencies, ckpt: Path) {
    val conn = new GraftLogConnector(in.root, EventGen.NumPartitions)
    private val registry = new SchemaRegistry
    registry.register(EventGen.EventType, EventGen.payloadSchema)
    var agg: StreamingQuery = _
    var dlq: StreamingQuery = _
    var starts = 0
    val aggCkpt: String = ckpt.resolve("agg").toString
    private val dlqCkpt = ckpt.resolve("dlq").toString

    private def parsed: DataFrame = registry.parse(
      spark.readStream.format("graftlog")
        .option("maxRecordsPerTrigger", BatchCap.toString)
        .load(topicDir(in))
        .select(col("id"), col("key"), col("event_type"), col("value").as("payload"),
          col("timestamp")))

    private def sink(b: DataFrame, batchId: Long): Unit = {
      val flat = b.select(unix_millis(col("window.start")).as("window_ms"), col("key"),
          col("n"), col("amount"), unix_millis(col("newest")).as("newest_ms"))
        .persist()
      try {
        val newest = tr.span("streaming.batch_compute", "batch" -> batchId) {
          flat.select("newest_ms").collect().map(_.getLong(0))
        }
        tr.span("streaming.sink_write", "batch" -> batchId) {
          conn.writeBatchIdempotent(flat, AggTopic, batchId, "perfbench-agg")
        }
        val done = System.currentTimeMillis()
        newest.foreach(lat.add(_, done))
      } finally flat.unpersist()
    }

    def start(): Unit = tr.span("streaming.query.start", "start" -> starts) {
      val valid = parsed.filter(!col("_corrupt"))
        .withColumn("p", from_json(col("parsed"), EventGen.payloadSchema))
        .withColumn("et", timestamp_millis(col("p.ts")))
      val windows = Pipeline(valid)
        .watermarked("et", s"${EventGen.WatermarkDelayMs} milliseconds")
        .windowAgg(TumblingWindow(EventGen.WindowMs), col("et"), Seq(col("key")),
          Seq(count(lit(1)).as("n"), sum(col("p.amount")).as("amount"),
            max(col("timestamp")).as("newest")))
        .toDF
      val t = tr.nowMs
      agg = windows.writeStream.queryName("events_agg").outputMode("update")
        .option("checkpointLocation", aggCkpt)
        .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
        .start()
      tr.started(agg.runId, t)
      startDlq()
      starts += 1
    }

    /** The DLQ leg alone (it resumes from its own checkpoint). */
    def startDlq(): Unit = {
      val bad = parsed.filter(col("_corrupt"))
        .select(col("id"), col("key"), col("event_type"), col("payload").as("value"))
      // the DLQ leg needs no low latency: a 1 s trigger keeps its batches
      // from interleaving with every aggregation batch
      dlq = bad.writeStream.queryName("events_dlq")
        .option("checkpointLocation", dlqCkpt)
        .trigger(Trigger.ProcessingTime(1000L))
        .foreachBatch { (b: DataFrame, id: Long) =>
          tr.span("streaming.dlq_write", "batch" -> id) {
            conn.writeBatchIdempotent(Reliability.enrichForDlq(b, EventGen.Topic, "id"),
              conn.dlqTopic(EventGen.Topic), id, "perfbench-dlq")
          }
        }
        .start()
    }

    def stop(): Unit = { agg.stop(); dlq.stop() }

    def failure: Option[Throwable] = agg.exception.orElse(dlq.exception)

    private def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .map(s => OffsetJson.sum(s.endOffset)).getOrElse(0L)

    /** Block until both queries have committed `n` log records (or one
      * of them failed). */
    def awaitCommitted(n: Long, aggOnly: Boolean = false): Unit =
      while ((committed(agg) < n || (!aggOnly && committed(dlq) < n)) && failure.isEmpty) {
        require(agg.isActive && dlq.isActive, "consumer query stopped")
        Thread.sleep(10)
      }
  }

  private def consumer(spark: SparkSession, in: In, tr: Tracer, lat: Latencies, dir: Path) =
    new Consumer(spark, in, tr, lat, Files.createDirectories(dir.resolve("ckpt")))

  def run(spark: SparkSession, in: In, tr: Tracer, seconds: Int, ctx: Ctx): Outcome = {
    val lat = new Latencies(Long.MaxValue)
    val c = consumer(spark, in, tr, lat, ctx.fresh("events-ckpt"))
    val backlog = BacklogEvents.toLong
    val t0 = System.nanoTime()

    // phase 1: backfill with one stop/restart
    tr.span("streaming.backfill") {
      c.start()
      c.awaitCommitted((backlog * RestartShare).toLong, aggOnly = true)
      c.stop()
      c.start()
      c.awaitCommitted(backlog, aggOnly = true)
    }
    val backfillS = (System.nanoTime() - t0) / 1e9
    val backfillEndMs = tr.nowMs

    // phase 2: open-loop tail from a producer process. The tail measures
    // the aggregation query alone: the DLQ leg pauses and catches up from
    // its checkpoint once the producer is done.
    c.dlq.stop()
    val start = System.currentTimeMillis() + 1500
    lat.fromMs = start + RampMs
    val expFile = ctx.fresh("tail").resolve("expected.txt")
    val lagMs = mutable.ArrayBuffer.empty[(Double, Long)]
    val tailStartMs = tr.nowMs + 1500 + RampMs
    val sampler = if (tr.on) Some(new Sampler(tr, topicDir(in), c, lagMs)) else None
    sampler.foreach(_.start())
    tr.span("streaming.tail") {
      Producer.run(topicDir(in), in.seed * 31 + 7, TailRate, start, in.tailMs, in.t0, expFile)
    }
    val tailExp = EventGen.Expected.read(expFile)
    val tailLag = sampler.map { s => s.stopNow(); s.lagNow() }.getOrElse(0L)
    c.startDlq()
    tr.span("streaming.drain") {
      c.awaitCommitted(backlog + tailExp.total)
    }
    c.stop()
    val wallS = (System.nanoTime() - t0) / 1e9

    // correctness: every produced event counted once, dropped as late,
    // or in the DLQ
    val exp = new EventGen.Expected
    exp.merge(in.exp)
    exp.merge(tailExp)
    val (checks, counted) = verify(spark, c, exp)

    val tail = lat.ms.toSeq
    val e2e = Map(
      "items_per_s" -> backlog / backfillS,
      "latency_p50_ms" -> Stats.quantile(tail, 0.5),
      "recall" -> counted.toDouble / exp.valid)
    val info = Map(
      "backfill_eps" -> backlog / backfillS,
      "backfill_s" -> backfillS,
      "tail_p50_ms" -> Stats.quantile(tail, 0.5),
      "tail_p90_ms" -> Stats.quantile(tail, 0.9),
      "tail_p99_ms" -> Stats.quantile(tail, 0.99),
      "tail_samples" -> tail.size,
      "tail_events" -> tailExp.total,
      "tail_generator_late_p50_ms" -> tailExp.generatorLateMs.headOption.getOrElse(-1L),
      "tail_generator_late_max_ms" -> tailExp.generatorLateMs.lastOption.getOrElse(-1L),
      "events_total" -> exp.total,
      "events_valid" -> exp.valid,
      "events_late" -> exp.late,
      "events_malformed" -> exp.malformed.size)
    val layer = if (!tr.on) Map.empty[String, Double] else {
      tr.drain()
      streamingLayer(tr, backfillEndMs, tailStartMs) ++ Map(
        "sources.latest_offsets_ms" -> Stats.median(sampler.get.offsetsMs.toSeq),
        "sources.lag_events" -> Stats.median(lagMs.map(_._2.toDouble).toSeq),
        "sources.lag_events_end" -> tailLag.toDouble,
        "streaming.sink_write_ms" -> spanMedian(tr, "streaming.sink_write", tailStartMs),
        "streaming.batch_compute_ms" -> spanMedian(tr, "streaming.batch_compute", tailStartMs))
    }
    Outcome(wallS, e2e, layer, checks, info ++ Map("lag_samples" -> lagMs.map(_._2)))
  }

  private def spanMedian(tr: Tracer, name: String, fromMs: Double): Double =
    Stats.median(tr.finishedSpans.filter(s => s.name == name && s.startMs >= fromMs).map(_.durMs))

  /** Phase medians of the aggregation query's progress reports, for the
    * tail and (prefixed) for the backfill. */
  private def streamingLayer(tr: Tracer, backfillEnd: Double,
                             tailStart: Double): Map[String, Double] = {
    val agg = tr.progress.filter(_.query == "events_agg").toSeq
    val backfill = agg.filter(p => p.atMs <= backfillEnd && p.inputRows > 0)
    val tail = agg.filter(p => p.atMs >= tailStart && p.inputRows > 0)
    def med(ps: Seq[Progress], k: String) = Stats.median(ps.flatMap(_.durations.get(k)).map(_.toDouble))
    val startups = tr.queryStarts.toSeq.flatMap { case (run, at) =>
      tr.firstProgressMs.get(run).map(_ - at) }
    Map(
      "streaming.latest_offset_ms" -> med(tail, "latestOffset"),
      "streaming.query_planning_ms" -> med(tail, "queryPlanning"),
      "streaming.wal_commit_ms" -> med(tail, "walCommit"),
      "streaming.commit_offsets_ms" -> med(tail, "commitOffsets"),
      "streaming.add_batch_ms" -> med(tail, "addBatch"),
      "streaming.trigger_ms" -> med(tail, "triggerExecution"),
      "streaming.tail_batches" -> tail.size.toDouble,
      "streaming.backfill.add_batch_ms" -> med(backfill, "addBatch"),
      "streaming.backfill.latest_offset_ms" -> med(backfill, "latestOffset"),
      "streaming.backfill.trigger_ms" -> med(backfill, "triggerExecution"),
      "streaming.input_rows_per_batch" -> Stats.median(backfill.map(_.inputRows.toDouble)),
      "streaming.startup_ms" -> Stats.median(startups),
      "streaming.state_commit_ms" -> Stats.median(agg.map(_.stateCommitMs.toDouble)),
      "streaming.state_rows" -> agg.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.rows_dropped_by_watermark" -> agg.map(_.droppedByWatermark.toDouble).sum)
  }

  /** Final per-(window, key) totals read back from the sink topic: the
    * last (largest) running count each window row reported. */
  private def finalTotals(spark: SparkSession, c: Consumer): Map[(Long, String), Long] = {
    val schema = "window_ms LONG, key STRING, n LONG"
    c.conn.readBatch(spark, AggTopic)
      .select(from_json(col("value"), org.apache.spark.sql.types.StructType.fromDDL(schema)).as("r"))
      .groupBy(col("r.window_ms"), col("r.key")).agg(max(col("r.n")))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  private val EidRe = "\\\\?\"eid\\\\?\":(\\d+)".r

  /** Every produced event must be counted once in the final window
    * totals, dropped by the watermark, or in the DLQ: each window row
    * holds all its valid events plus at most its late ones, and the DLQ
    * holds exactly the malformed ids. */
  private def verify(spark: SparkSession, c: Consumer, exp: EventGen.Expected): (Seq[Check], Long) = {
    val got = finalTotals(spark, c)
    val keys = got.keySet ++ exp.counts.keySet
    def miss(k: (Long, String)): Long = {
      val g = got.getOrElse(k, 0L)
      val lo = exp.counts.getOrElse(k, 0L)
      val hi = lo + exp.lateCounts.getOrElse(k, 0L)
      if (g < lo) lo - g else if (g > hi) g - hi else 0L
    }
    val bad = keys.toSeq.filter(miss(_) > 0).sortBy(_._1)
    val windowMiss = bad.map(miss).sum
    val sample = bad.take(5).map(k => s"${k._1}/${k._2}: ${got.getOrElse(k, 0L)} vs " +
      s"${exp.counts.getOrElse(k, 0L)}+${exp.lateCounts.getOrElse(k, 0L)} late")
    val dlqEids = c.conn.readBatch(spark, c.conn.dlqTopic(EventGen.Topic)).select("value")
      .collect().flatMap(r => EidRe.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
    val dlqSet = dlqEids.toSet
    val malformed = exp.malformed.toSet
    val dlqMiss = (dlqSet -- malformed).size + (malformed -- dlqSet).size
    val counted = got.values.sum
    val validCounted = keys.toSeq.map(k => math.min(got.getOrElse(k, 0L), exp.counts.getOrElse(k, 0L))).sum
    val lateCounted = counted - validCounted
    val dropped = exp.late - lateCounted
    val accounted = validCounted + lateCounted + dropped + dlqSet.size
    (Seq(
      Check("window_totals", exp.valid + exp.late, windowMiss,
        s"$counted counted in ${got.size} window rows: $validCounted of ${exp.valid} valid, " +
          s"$lateCounted of ${exp.late} late" +
          (if (sample.isEmpty) "" else sample.mkString("; first mismatches (window_ms/key: got vs expected): ", "; ", ""))),
      Check("dlq", exp.malformed.size.toLong, dlqMiss,
        s"${dlqSet.size} distinct malformed ids in the DLQ (${dlqEids.length} records), " +
          s"${exp.malformed.size} produced"),
      Check("conservation", exp.total, math.abs(exp.total - accounted) + (if (dropped < 0) 1 else 0),
        s"${exp.total} produced = $validCounted + $lateCounted counted + $dropped dropped as late + " +
          s"${dlqSet.size} DLQ"),
      Check("queries", 1, if (c.failure.isDefined) 1 else 0,
        c.failure.map(_.toString).getOrElse(""))), validCounted)
  }

  /** Traced-run sampler: times `GraftLog.latestOffsets` and the
    * consumer-group lag every 200 ms during the tail. */
  final class Sampler(tr: Tracer, dir: String, c: Consumer,
                      lag: mutable.ArrayBuffer[(Double, Long)]) extends Thread("perfbench-sampler") {
    setDaemon(true)
    val offsetsMs = mutable.ArrayBuffer.empty[Double]
    private val parent = tr.currentSpan
    @volatile private var running = true

    def lagNow(): Long = {
      val a = tr.nowMs
      val l = c.conn.lag(EventGen.Topic, c.aggCkpt)
      tr.record("sources.lag", parent, a, tr.nowMs, "lag" -> l)
      lag.synchronized(lag += ((a, l)))
      l
    }

    override def run(): Unit = while (running) {
      val a = tr.nowMs
      GraftLog.latestOffsets(dir)
      val b = tr.nowMs
      tr.record("sources.latest_offsets", parent, a, b)
      offsetsMs.synchronized(offsetsMs += b - a)
      lagNow()
      Thread.sleep(200)
    }

    def stopNow(): Unit = { running = false; join() }
  }

  /** Report-only single-core baseline: the same backfill on a
    * `local[1]` session, and the N-core over 1-core backfill ratio. */
  override def tracedExtras(ctx: Ctx, in: In, seconds: Int,
                            untraced: Outcome): Map[String, Double] = {
    val spark = ctx.session(cores = 1)
    try {
      val in1 = prepare(spark, ctx.fresh("input-local1"), in.seed, seconds)
      val c = consumer(spark, in1, Tracer(spark, on = false), new Latencies(Long.MaxValue),
        ctx.fresh("events-ckpt-local1"))
      val t0 = System.nanoTime()
      c.start()
      c.awaitCommitted((BacklogEvents * RestartShare).toLong, aggOnly = true)
      c.stop()
      c.start()
      c.awaitCommitted(BacklogEvents, aggOnly = true)
      val eps1 = BacklogEvents / ((System.nanoTime() - t0) / 1e9)
      c.stop()
      Map("streaming.local1_backfill_eps" -> eps1,
        "streaming.backfill_scaling" -> untraced.e2e("items_per_s") / eps1)
    } finally spark.stop()
  }
}

object OffsetJson {
  private val Num = ":\\s*(\\d+)".r
  /** Sum of the per-partition counts in a graftlog offset JSON. */
  def sum(json: String): Long =
    if (json == null) 0L else Num.findAllMatchIn(json).map(_.group(1).toLong).sum
}

/** Runs `TailProducer` as a separate JVM on this JVM's classpath and
  * waits for it; the process never outlives the call. */
object Producer {
  def run(topicDir: String, seed: Long, rate: Int, startMs: Long, durMs: Long,
          t0: Long, out: Path): Unit = {
    val javaBin = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(javaBin, "-Xmx256m", "-XX:-UsePerfData",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"),
      "graftbench.TailProducer", topicDir, seed.toString, rate.toString, startMs.toString,
      durMs.toString, t0.toString, out.toString)
      .inheritIO().start()
    try {
      val deadline = startMs - System.currentTimeMillis() + durMs + 60000
      require(p.waitFor(deadline, java.util.concurrent.TimeUnit.MILLISECONDS),
        "tail producer did not finish")
      require(p.exitValue() == 0, s"tail producer exited with ${p.exitValue()}")
    } finally if (p.isAlive) p.destroyForcibly().waitFor()
  }
}
