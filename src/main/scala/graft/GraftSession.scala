package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Designed for a real multi-executor cluster; tested on `local[N]`.
  * AQE is on so skewed shuffles re-plan at runtime (skew-join split,
  * partition coalescing) — at 100 TB these matter far more than at sf0.1.
  */
object GraftSession {
  /** Shared tuning applied to any builder (local or cluster). Knobs come
    * from GraftSettings (env-driven, reference pspf/settings.py) instead
    * of hardcoded values; the explicit `shufflePartitions` parameter
    * (driver contract: match local core count) wins over the env. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int,
           settings: GraftSettings = GraftSettings.fromEnv()): SparkSession.Builder = {
    settings.validationWarnings.foreach(w => System.err.println(s"[graft] WARNING: $w"))
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // the dedup/similarity operators persist their multi-consumer
      // frames (shingle sets, band aggregates, candidate pairs); by
      // default AQE may not change a CACHED plan's output partitioning,
      // so every shuffle under an InMemoryRelation — and every scan of
      // the cached result — stays at the static partition count however
      // small the data turns out to be. Letting AQE re-plan cached
      // plans is scale-neutral (partition counts still derive from the
      // runtime byte sizes): at 100 TB a hot shingle frame keeps its
      // thousands of partitions, while a small one stops paying
      // cores× scheduling overhead per consumer.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", settings.broadcastThresholdBytes.toString)
      .config("spark.ui.enabled", "false")
      // Every streaming checkpoint write (offsets and commits logs,
      // metadata, HDFS-backed and RocksDB state-store files, checksum
      // files) goes through FileContextBasedCheckpointFileManager, i.e.
      // the FileContext filesystem of `file:`. Without libhadoop, the
      // stock one spawns a process at two sites of RawLocalFileSystem:
      // `setPermission` runs `chmod` on every create and mkdir, and
      // `getFileLinkStatus` (each rename) runs `readlink`. NioLocalFs
      // does both through java.nio and writes the same files, `.crc`
      // sidecars and modes. The FileSystem-API key `fs.file.impl`
      // (parquet and other batch writes) is left at Hadoop's default:
      // no workload here measures that traffic.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
  }

  /** Fully settings-driven variant (GRAFT_SHUFFLE_PARTITIONS etc.). */
  def tune(b: SparkSession.Builder, settings: GraftSettings): SparkSession.Builder =
    tune(b, settings.shufflePartitions, settings)

  /** Shuffle-partition count for a STREAMING query over `bytes` of
    * input, derived from DATA SIZE instead of core count (guide §2.2:
    * size partitions toward the 100 MB–1 GB range). Streaming plans run
    * with AQE OFF — including everything executed inside a foreachBatch
    * body — so nothing coalesces the post-shuffle partitions at run
    * time, and every stateful operator additionally opens one state
    * store instance PER PARTITION per micro-batch (RocksDB open/commit,
    * delta-file upload: a fixed cost that scales with the partition
    * count, not the data). A core-count default here is therefore wrong
    * in both directions: tiny drops pay cores× fixed overhead, huge
    * drops underpartition. `target` is deliberately below the batch
    * advisory (64 MB vs 100 MB–1 GB) because state-store memory per
    * partition stacks on top of the shuffle itself. The cap keeps a
    * pathological listing (one giant mis-sized drop) from exploding the
    * checkpoint's partition count; raise GRAFT_MAX_STREAM_PARTITIONS on
    * a real cluster. NOTE a stateful query PINS this at its first start
    * (the checkpoint carries numShufflePartitions), so derive it from
    * the expected steady-state drop size, not the first file. */
  def streamPartitions(bytes: Long,
                       targetBytes: Long = 64L * 1024 * 1024,
                       maxPartitions: Int =
                         sys.env.get("GRAFT_MAX_STREAM_PARTITIONS")
                           .flatMap(_.toIntOption).getOrElse(4096)): Int =
    math.max(1L, math.min(
      (bytes + targetBytes - 1) / targetBytes, maxPartitions.toLong)).toInt

  /** `streamPartitions` from a frame's optimizer size estimate (for
    * file relations: the file byte sum — exactly the drop size the
    * streaming source will read). */
  def streamPartitionsFor(df: org.apache.spark.sql.DataFrame): Int =
    streamPartitions(
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong)

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n` — the
    * scoped form every streaming query site uses so the scale-adaptive
    * count never leaks into the batch plans around it (those have AQE
    * coalescing and the session default). */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** The state-store provider the stateful streaming queries run on,
    * as a `withConf` setting. */
  private[graft] val RocksDBStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with each session conf key set to its value, then
    * restore every key as it was — set keys to their previous value,
    * keys that were unset before are unset again — also when `body`
    * throws. A scoped setting never leaks into the plans that run
    * after it in a long-lived session. */
  private[graft] def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prev = settings.map { case (k, _) =>
      k -> (if (s.sessionState.conf.contains(k)) Some(s.conf.get(k)) else None)
    }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The session recipe of the non-Bench mains (Verify, Explain,
    * StartupProbe): `tune` over
    * `local[$SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, logging at WARN — the recipe Bench times, so the oracle
    * grades and the plan tools show what Bench runs. */
  private[graft] def graded(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = tune(SparkSession.builder().master(s"local[$cpus]").appName(appName),
      shufflePartitions = cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release every block a finished query left persisted: the
    * CacheManager's frames, then the raw-RDD persists
    * (connectedComponents rounds) that `clearCache` does not see. */
  private[graft] def releaseCached(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Local session for tests / verify / bench, with the engine's SQL
    * functions registered (vec_dot, simhash32). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32)): SparkSession = {
    val s = tune(
      SparkSession.builder().master(s"local[$cores]").appName("graft")
        .withExtensions(new GraftExtensions),
      shufflePartitions = cores
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
