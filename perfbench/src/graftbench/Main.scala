package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One correctness verdict; failures count toward `error_rate`. */
final case class Check(name: String, attempted: Long, failed: Long, detail: String = "") {
  def toMap: Map[String, Any] =
    Map("name" -> name, "attempted" -> attempted, "failed" -> failed, "detail" -> detail)
}

/** What one measured pass of a workload produced. `wallS` is the
  * measured total the tracing overhead compares. */
final case class Outcome(wallS: Double,
                         e2e: Map[String, Double],
                         layer: Map[String, Double],
                         checks: Seq[Check],
                         info: Map[String, Any])

/** A benchmark workload: inputs are generated in set-up, then one
  * measured pass runs against them. */
trait Workload {
  def name: String
  type In
  /** Generate the inputs under `dir` from `seed` (part of set-up). */
  def prepare(spark: SparkSession, dir: Path, seed: Long, seconds: Int): In
  def manifest(in: In): Map[String, Any]
  /** An unmeasured run through the same code paths, after the last
    * set-up, so the measured pass does not pay JIT and codegen warm-up. */
  def warm(spark: SparkSession, dir: Path, in: In): Unit
  def run(spark: SparkSession, in: In, tr: Tracer, seconds: Int, ctx: Ctx): Outcome
  /** Report-only extras of a traced run, after the leak gauges, given
    * the untraced pass's outcome. */
  def tracedExtras(ctx: Ctx, in: In, seconds: Int, untraced: Outcome): Map[String, Double] =
    Map.empty
  /** Per-layer metrics only this workload reports, with their units. */
  def extraLayerUnits: Seq[(String, String)] = Nil
}

/** Run context: where the run may write, and the session factory. */
final class Ctx(val work: Path, val cpus: Int, val seed: Long) {
  private var n = 0
  /** A fresh directory under the run's work dir. */
  def fresh(tag: String): Path = {
    n += 1
    val d = work.resolve(s"$tag-$n")
    Files.createDirectories(d)
    d
  }

  /** The session the graded path builds: GraftSession.tune at
    * `cores` local cores and as many shuffle partitions; scratch space
    * stays inside the run's work dir. */
  def session(cores: Int = cpus): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ckpt-default").toString)
    val s = graft.GraftSession.tune(b, shufflePartitions = cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Main {
  val SetupReps = 5

  val workloads: Map[String, Workload] = Seq[Workload](
    EventsStream, CorpusDedup, CrawlDrops).map(w => w.name -> w).toMap

  /** Per-layer metrics every traced run reports (0 where a workload
    * does not touch the layer), with their units; a workload may add its
    * own (`Workload.extraLayerUnits`). */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "error_rate" -> "ratio",
    "sources.latest_offsets_ms" -> "ms",
    "sources.lag_events" -> "count",
    "sources.lag_events_end" -> "count",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.sink_write_ms" -> "ms",
    "streaming.batch_compute_ms" -> "ms",
    "streaming.tail_batches" -> "count",
    "streaming.backfill.add_batch_ms" -> "ms",
    "streaming.backfill.latest_offset_ms" -> "ms",
    "streaming.backfill.trigger_ms" -> "ms",
    "streaming.input_rows_per_batch" -> "count",
    "streaming.startup_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.local1_backfill_eps" -> "1/s",
    "streaming.backfill_scaling" -> "ratio",
    "operators.dedup.shingle_s" -> "s",
    "operators.dedup.band_s" -> "s",
    "operators.dedup.candidate_s" -> "s",
    "operators.dedup.verify_s" -> "s",
    "operators.dedup.cc_s" -> "s",
    "operators.dedup.keep_best_s" -> "s",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.verified_pairs" -> "count",
    "operators.dedup.verify_yield" -> "ratio",
    "engine.jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.sched_gap_s" -> "s",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_fetch_wait_s" -> "s",
    "engine.spill_bytes" -> "bytes",
    "engine.task_skew" -> "ratio",
    "engine.gc_s" -> "s",
    "engine.executor_cpu_s" -> "s",
    "engine.executor_run_s" -> "s",
    "persist.peak_bytes" -> "bytes",
    "persist.blocks_left" -> "count",
    "streaming.active_queries_left" -> "count",
    "streaming.listeners_left" -> "count",
    "layer.harness.self_s" -> "s",
    "layer.sources.self_s" -> "s",
    "layer.streaming.self_s" -> "s",
    "layer.operators.self_s" -> "s",
    "layer.engine.self_s" -> "s",
    "trace.untraced_s" -> "s",
    "trace.traced_s" -> "s",
    "trace.overhead_share" -> "ratio")

  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "items_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "recall" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opts("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val ctx = new Ctx(work, cpus, seed)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up, SetupReps times: a fresh session and fresh inputs, the
    // first counted from JVM start; then one unmeasured warm-up run on
    // the last session
    var spark: SparkSession = null
    var in: wl.In = null.asInstanceOf[wl.In]
    val setupParts = (0 until SetupReps).map { r =>
      val t0 = if (r == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      val t1 = System.currentTimeMillis()
      spark = ctx.session()
      val t2 = System.currentTimeMillis()
      in = wl.prepare(spark, ctx.fresh("input"), seed, seconds)
      val t3 = System.currentTimeMillis()
      Map("total" -> (t3 - t0) / 1000.0, "before_session" -> (t1 - t0) / 1000.0,
        "session" -> (t2 - t1) / 1000.0, "inputs" -> (t3 - t2) / 1000.0)
    }
    val w0 = System.nanoTime()
    wl.warm(spark, ctx.fresh("warm"), in)
    release(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = setupParts.map(_("total"))

    val untraced = wl.run(spark, in, Tracer(spark, on = false), seconds, ctx)
    val gauges = leakGauges(spark)
    release(spark)
    val e2e = untraced.e2e ++ Map(
      "setup_s" -> Stats.median(setupS),
      "peak_rss_mb" -> peakRssMb())

    val layer = mutable.LinkedHashMap.empty[String, Double]
    var spans: Seq[Map[String, Any]] = Nil
    var progress: Seq[Progress] = Nil
    var checks = untraced.checks
    if (trace) {
      // the same pass again on fresh inputs, traced; the wall-time gap
      // is the tracing overhead
      val in2 = wl.prepare(spark, ctx.fresh("input"), seed, seconds)
      val tr = Tracer(spark, on = true)
      val traced = tr.span("harness.workload", "workload" -> wl.name) {
        wl.run(spark, in2, tr, seconds, ctx)
      }
      tr.close()
      checks = checks ++ traced.checks.map(c => c.copy(name = "traced." + c.name))
      spans = tr.spanTable()
      progress = tr.progress.toSeq
      layer ++= leakGauges(spark)
      layer ++= engineMetrics(tr, spans)
      layer ++= traced.layer
      layer ++= tr.layerSelfS(spans).map { case (l, s) => s"layer.$l.self_s" -> s }
      layer("trace.untraced_s") = untraced.wallS
      layer("trace.traced_s") = traced.wallS
      layer("trace.overhead_share") = traced.wallS / untraced.wallS - 1
      spark.stop()
      spark = null
      layer ++= wl.tracedExtras(ctx, in, seconds, untraced)
    }
    val attempted = checks.map(_.attempted).sum
    val failed = checks.map(_.failed).sum
    layer("error_rate") = if (attempted == 0) 0.0 else failed.toDouble / attempted

    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> math.max(attempted, 1L), "failed" -> failed,
      "e2e" -> e2eUnits.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }.toMap,
      "per_layer" -> (if (trace) (perLayerUnits ++ wl.extraLayerUnits).map { case (k, u) =>
        k -> Map("value" -> layer.getOrElse(k, 0.0), "unit" -> u) }.toMap else Map.empty),
      "setup_s_each" -> setupParts,
      "warm_s" -> warmS,
      "leaks_after_untraced" -> gauges,
      "checks" -> checks.map(_.toMap),
      "info" -> (untraced.info ++ Map(
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> org.apache.spark.SPARK_VERSION)),
      "manifest" -> wl.manifest(in),
      "spans" -> spans,
      "progress" -> progress.map(p => Map("query" -> p.query, "batch" -> p.batchId,
        "at_ms" -> p.atMs, "duration_ms" -> p.durations, "input_rows" -> p.inputRows,
        "state_rows" -> p.stateRows, "state_commit_ms" -> p.stateCommitMs,
        "dropped_by_watermark" -> p.droppedByWatermark)))
    Files.createDirectories(out.getParent)
    Files.write(out, Json.encode(result).getBytes(StandardCharsets.UTF_8))
    if (spark != null) spark.stop()
  }

  /** What a workload left behind in the session, read before anything
    * is released on its behalf. */
  def leakGauges(spark: SparkSession): Map[String, Double] = Map(
    "persist.blocks_left" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
    "streaming.active_queries_left" -> spark.streams.active.length.toDouble,
    "streaming.listeners_left" -> spark.streams.listListeners().length.toDouble)

  /** Release what a pass left cached, the way the repo's Bench does
    * between timed runs (after the gauges are read). */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def engineMetrics(tr: Tracer, spans: Seq[Map[String, Any]]): Map[String, Double] = {
    val root = spans.find(_("name") == "harness.workload").get
    val lo = root("start_ms").asInstanceOf[Double]
    val hi = root("end_ms").asInstanceOf[Double]
    val t = tr.total
    Map(
      "engine.jobs" -> tr.jobs.size.toDouble,
      "engine.stages" -> tr.stages.toDouble,
      "engine.tasks" -> t.tasks.toDouble,
      "engine.sched_gap_s" -> tr.schedGapMs(lo, hi) / 1000.0,
      "engine.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "engine.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "engine.shuffle_fetch_wait_s" -> t.fetchWaitMs / 1000.0,
      "engine.spill_bytes" -> t.spill.toDouble,
      "engine.task_skew" -> tr.taskSkew,
      "engine.gc_s" -> t.gcMs / 1000.0,
      "engine.executor_cpu_s" -> t.cpuNs / 1e9,
      "engine.executor_run_s" -> t.runMs / 1000.0,
      "persist.peak_bytes" -> tr.peakBlockBytes.toDouble)
  }
}
