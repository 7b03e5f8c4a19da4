package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Stream-operator semantics from the reference, expressed over the
  * `events` table in batch form so the driver's DuckDB oracle can verify
  * them. The same window/session/join primitives run unchanged under
  * Structured Streaming (see graft.streaming); batch is how correctness
  * is graded.
  *
  * Operator mapping (SURVEY.md §2):
  *  - w1/w2/w3: window assigners (pspf/processing/windows.py:18-65) →
  *    Spark `window`/`session_window`
  *  - w4/w8: keyed fold aggregation (pspf/stream.py:349-471, context
  *    state pspf/context.py:5-14) → groupBy().agg
  *  - w5/w6: watermark + late split (pspf/stream.py:391-413)
  *  - o2/o3: DSL map/filter (pspf/processing/dsl.py:17-29)
  *  - o5: Router first-match predicate routing (pspf/topology.py:10-46)
  *  - o7: schema/JSON deserialization (pspf/connectors/valkey.py:178-193)
  *  - w12: idempotent dedup by id (pspf/connectors/base.py:55-70)
  *  - j1: windowed stream-stream equi-join (pspf/topology.py:49-102)
  *
  * Timestamps: the generator has shipped events.ts as ns-precision
  * parquet AND as µs TIMESTAMP_NTZ; Tables.normalizeTs absorbs either
  * into one canonical UTC TimestampType column (µs precision). All
  * outputs floor to whole epoch seconds, and all bucket/gap logic
  * operates at ≥second granularity, so ns→µs truncation cannot flip a
  * bucket (floor is invariant under sub-µs truncation).
  */
object EventQueries {
  private val d = DecimalType(18, 2)
  private def dec(c: String) = col(c).cast(d)
  private def sumv = sum(dec("value")).cast(DoubleType).as("sum_value")

  /** The events table split into its (clicks, purchases) — the two
    * sides of the j1/j3/j4 joins. */
  private def clicksAndPurchases(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.load(s, dir, "events")
    (e.filter(col("event_type") === "click"), e.filter(col("event_type") === "purchase"))
  }

  /** The interval joins' sides (j1, j4): clicks as (user_id, c_ts),
    * purchases as (p_user, p_ts). */
  private def intervalSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (c, p) = clicksAndPurchases(s, dir)
    (c.select(col("user_id"), col("ts").as("c_ts")),
      p.select(col("user_id").as("p_user"), col("ts").as("p_ts")))
  }

  /** Shared harness for the transformWithState-graded queries (w8/w9/
    * w10): RocksDB provider scoped to the run (restored after), the
    * events table as a file-stream source, ONE AvailableNow execution
    * into a uniquely-named memory sink. The memory view and checkpoint
    * temp dir can't be reclaimed here — the returned frame reads the
    * view lazily — so both are REGISTERED with graft.Scratch:
    * short-lived Verify/Bench sessions clean up at JVM exit, and a
    * long-lived session calls Scratch.purge(spark) in-process between
    * pipelines. */
  private def runTws(s: SparkSession, dir: String, sinkPrefix: String,
                     outputMode: String)(
      build: DataFrame => DataFrame): DataFrame = {
    // the legacy parquet flag is scoped too — leaking it would silently
    // change every later nanos-timestamp parquet read in this session
    graft.GraftSession.withConf(s, graft.GraftSession.RocksDBStateStore,
        "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // normalizeTs: the file-stream source yields whatever physical ts
      // type the generator wrote (int64-nanos or µs-NTZ); downstream
      // builders see one canonical TimestampType either way
      val src = Tables.normalizeTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val sink = graft.Scratch.view(
        sinkPrefix + java.util.UUID.randomUUID().toString.replace("-", ""))
      val ckpt = graft.Scratch.dir("graft_tws")
      // state partitions track the INPUT SIZE, not the core count: one
      // RocksDB instance opens/commits per partition per micro-batch
      // (see GraftSession.streamPartitions) — fixed cost the data has
      // to be big enough to amortize
      val nParts = graft.GraftSession.streamPartitionsFor(
        s.read.parquet(s"$dir/events.parquet"))
      val q = graft.GraftSession.withShufflePartitions(s, nParts) {
        build(src).writeStream.outputMode(outputMode)
          .option("checkpointLocation", ckpt)
          .format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      s.table(sink)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1 tumbling window: 1h fixed buckets per event_type.
    "w1_tumbling_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumv)
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // W2 sliding window: 2h size / 1h slide — each event lands in 2 windows
    // (end-exclusive assignment, matching the reference's backtracking
    // assigner semantics verified in its tests/test_windows.py:22-36).
    "w2_sliding_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumv)
        .select(unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // W3 session window: 6h inactivity gap per user; start = first event.
    "w3_session_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(session_window(col("ts"), "6 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), sumv)
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("session_start"),
          col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // W5/W6 watermark + late-event split: watermark = max(ts) - 24h; the
    // reference routes window_end < watermark to a {topic}-late side
    // output (pspf/stream.py:402-413). Batch form labels both legs.
    "w5_late_split" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val wm = e.agg(max(col("ts")).as("max_ts"))
      e.crossJoin(broadcast(wm))
        .withColumn("status",
          when(col("ts") < col("max_ts") - expr("interval 24 hours"), "late")
            .otherwise("ontime"))
        .groupBy(col("event_type"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("status"))
    }),

    // O2/O3 map + filter chain (DSL `map`/`filter`).
    "o2_map_filter" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .filter(col("event_type") === lit("click"))
        .select(col("event_id"), (col("value") * lit(2.0)).as("doubled"))
        .orderBy(col("event_id"))
    }),

    // O5 Router: ordered first-match predicate → route, with default.
    "o5_router" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .withColumn("route",
          when(col("value") > 300, "high_value")
            .when(col("value") > 100, "mid_value")
            .otherwise("standard"))
        .groupBy(col("route"))
        .agg(count(lit(1)).as("n"), sumv)
        .orderBy(col("route"))
    }),

    // O7 dynamic-schema JSON payload extraction (props is a JSON string,
    // like the reference's value: Dict[str,Any]).
    "o7_json_extract" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    // O7's EVOLUTION policy graded end to end (reference:
    // docs/schema-evolution.md — additive defaults, alias renames,
    // before-validator coercion): three wire GENERATIONS of the same
    // event type, derived deterministically from event_id —
    //   v1 (id%3=0): amount as a STRING (legacy wire type → declared
    //        coercion) under the RENAMED field `cust` (alias of
    //        customer_id); a sprinkle of uncastable amounts
    //        (id%17=5) must flag `_corrupt`, never throw;
    //   v2 (id%3=1): current wire — amount numeric, customer_id;
    //   v3 (id%3=2): additive evolution — a new nullable `tier`
    //        field v1/v2 never sent.
    // All three parse through ONE registry schema + Evolution
    // declaration in one codegen'd pass; the oracle replays the same
    // coercions in SQL. The grade: per customer bucket, row counts,
    // corrupt counts, the coerced-amount sum over clean rows, and the
    // additive field's coverage — wrong alias folding, wrong coercion,
    // or corrupt leakage each shifts a graded value.
    "o8_schema_evolution" -> ((s, dir) => {
      import graft.streaming.{Evolution, SchemaRegistry}
      import org.apache.spark.sql.types.{StructField, StructType, StringType}
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (dec("value") * 100).cast(LongType).as("cents"))
      val gen = col("event_id") % 3
      val badAmount = col("event_id") % 17 === 5
      val payload =
        when(gen === 0, concat(lit("{\"amount\": \""),
            when(badAmount, lit("12x")).otherwise(col("cents").cast("string")),
            lit("\", \"cust\": "), col("user_id"), lit("}")))
        .when(gen === 1, concat(lit("{\"amount\": "), col("cents"),
            lit(", \"customer_id\": "), col("user_id"), lit("}")))
        .otherwise(concat(lit("{\"amount\": "), col("cents"),
            lit(", \"customer_id\": "), col("user_id"), lit(", \"tier\": \""),
            when(col("user_id") % 2 === 0, lit("gold")).otherwise(lit("std")),
            lit("\"}")))
      val wire = e.select(col("event_id").cast("string").as("event_id"),
        lit("order").as("event_type"),
        lit(null).cast("timestamp").as("timestamp"), payload.as("payload"),
        lit(null).cast("int").as("partition"),
        lit(null).cast("string").as("offset"))
      val reg = new SchemaRegistry
      reg.register("order", StructType(Seq(
        StructField("amount", LongType), StructField("customer_id", LongType),
        StructField("tier", StringType))))
      reg.registerEvolution("order", Evolution(
        aliases = Map("customer_id" -> Seq("cust")), coerced = Set("amount")))
      reg.parse(wire)
        .select(get_json_object(col("parsed"), "$.amount").cast(LongType).as("amount"),
          get_json_object(col("parsed"), "$.customer_id").cast(LongType).as("customer_id"),
          get_json_object(col("parsed"), "$.tier").as("tier"),
          col("_corrupt"))
        .groupBy((col("customer_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt"), 1L).otherwise(0L)).as("n_corrupt"),
          sum(when(!col("_corrupt"), col("amount"))).as("sum_amount"),
          sum(when(col("tier").isNotNull, 1L).otherwise(0L)).as("n_tiered"))
        .orderBy(col("bucket"))
    }),

    // S2/O9 — the graftlog broker END TO END, oracle-graded: a
    // deterministic event slice produced THROUGH GraftLogConnector
    // (distributed produce, one writer task per log partition), read
    // back as a batch frame, graded on payload + partition + dense
    // offset + consumer lag against a DuckDB replay of the segment
    // files' logical contract (reference: Valkey streams backend,
    // pspf/connectors/valkey.py:147-196,270-293). The SQL-replayable
    // trick: single-character keys make the reference partitioner
    // (Java String.hashCode % N) pure arithmetic — a 1-char string's
    // hashCode IS its code point, so partition = (48 + user_id % 8) % 4
    // = user_id % 4 on both sides. Wall-clock broker ids "<ms>-<seq>"
    // are pinned by in-query requires (format + seq == offset in the
    // first drop), not hashed. The lag column is MEASURED from the log
    // and the checkpoint (latest - committed per partition) after a
    // second drop lands uncommitted; the oracle recounts that drop.
    // One DLQ move rides along, pinned: the second drop's error events
    // go to the side topic with the _error metadata folded into the
    // payload JSON (the reference's DLQ message shape).
    "o9_graftlog_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val np = 4
      val root = graft.Scratch.dir("graft_o9")
      val topic = "orders"
      val logDir = s"$root/$topic"
      val conn = new graft.streaming.GraftLogConnector(root, numPartitions = np)
      def slice(rem: Int) = Tables.load(s, dir, "events")
        .filter(col("event_id") % 20 === rem)
        .select(expr("chr(48 + user_id % 8)").as("key"),
          col("event_type"), col("event_id").cast("string").as("value"),
          col("event_id"))
        .repartition(1).sortWithinPartitions(col("event_id"))
        .select("key", "event_type", "value")
      val s1 = slice(0)
      val n1 = s1.count()
      conn.writeBatch(s1, topic)

      // the consumer group IS the Spark checkpoint: drain, commit
      val ckpt = s"$root/ckpt"
      conn.readStream(s, topic).writeStream
        .option("checkpointLocation", ckpt).format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      require(graft.sources.GraftLog.lag(logDir, ckpt) == 0L,
        "a fully drained log must show zero lag against its checkpoint")

      // a second drop lands AFTER the commit: XPENDING-style lag
      val n2 = slice(10).count()
      conn.writeBatch(slice(10), topic)
      require(graft.sources.GraftLog.lag(logDir, ckpt) == n2,
        s"lag must equal the uncommitted drop's $n2 records")

      // one DLQ move: the new drop's error events to the side topic,
      // metadata folded into the payload JSON
      val errs = Tables.load(s, dir, "events")
        .filter(col("event_id") % 20 === 10 && col("event_type") === "error")
        .select(expr("chr(48 + user_id % 8)").as("key"), col("event_type"),
          col("event_id").cast("string").as("value"),
          lit("handler exploded").as("_error"))
      val nErr = errs.count()
      conn.writeBatch(errs, s"$topic-dlq")
      val dlq = conn.readBatch(s, s"$topic-dlq")
      require(dlq.count() == nErr &&
        dlq.filter(get_json_object(col("value"), "$._error")
          === "handler exploded").count() == nErr,
        "every DLQ'd event must land once, carrying _error in its payload")

      val committed = graft.sources.GraftLog.committedOffsets(ckpt)
      val latest = graft.sources.GraftLog.latestOffsets(logDir)
      val lagDf = latest.toSeq
        .map { case (p, hi) => (p, hi - committed.getOrElse(p, 0L)) }
        .toDF("part", "lag")
      val committedDf = committed.toSeq.toDF("part", "hi")

      // graded rows = exactly the consumer-acked prefix of each
      // partition (offset < committed), straight from the batch read
      val rows = conn.readBatch(s, topic)
        .select(col("partition").as("part"), col("offset").as("log_offset"),
          col("id"), col("key"), col("event_type"), col("value").as("payload"))
        .join(broadcast(committedDf), Seq("part"))
        .filter(col("log_offset") < col("hi")).drop("hi")
      val badIds = rows.filter(!col("id").rlike("^[0-9]+-[0-9]+$") ||
        split(col("id"), "-").getItem(1).cast(LongType) =!= col("log_offset")).count()
      require(badIds == 0,
        "broker ids must be <ms>-<seq> with seq == offset across the first drop")
      require(rows.count() == n1,
        s"the committed prefix must be exactly the first drop's $n1 records")
      rows.drop("id").join(broadcast(lagDf), Seq("part"))
        .orderBy(col("part"), col("log_offset"))
    }),

    // W8 per-key running state (wordcount analog): final state per user.
    "w8_keyed_state" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sumv,
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("user_id"))
    }),

    // W4/W8 on the Spark 4 transformWithState path: the same keyed
    // running fold as w8, but executed as a REAL streaming query (file
    // source → runningFoldTws on the RocksDB state store → memory sink,
    // AvailableNow) so the new state API's execution path gets oracle
    // coverage, not just parity specs. Values fold in exact integer
    // cents (decimal-cast then ×100): a double fold would be
    // accumulation-order-dependent across state updates and could never
    // hash-match a batch oracle.
    "w8_tws_fold" -> ((s, dir) => {
      import s.implicits._
      val t = runTws(s, dir, "tws_fold_", "update") { src =>
        val typed = src
          .select(col("user_id"), (dec("value") * 100).cast(LongType).as("cents"))
          .as[(Long, Long)]
        graft.streaming.KeyedState
          .runningFoldTws[Long, (Long, Long), (Long, Long)](typed, _._1, (0L, 0L)) {
            case ((n, cents), (_, c)) => (n + 1, cents + c)
          }
          .map { case (k, (n, cents)) => (k, n, cents) }
          .toDF("user_id", "n", "cents")
      }
      // Update mode emits one row per (key, trigger); the final state
      // is the emission with the largest event count (monotone in n).
      t.groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("cents"))).as("fin"))
        .select(col("user_id"), col("fin.n").as("n"),
          (col("fin.cents").cast(DoubleType) / 100).as("sum_value"))
        .orderBy(col("user_id"))
    }),

    // W3 session semantics on the Spark 4 TIMER API: sessionizeTws
    // splits sessions in-batch (strict gap, session_window-compatible)
    // and closes the trailing session per key from handleExpiredTimer
    // once the watermark passes its gap — output produced by TIMERS,
    // not input rows. The oracle is the batch session computation
    // restricted to sessions the final watermark (max ts) can close;
    // the whole file arrives in one AvailableNow batch, so in-batch
    // splits are deterministic.
    "w9_tws_sessions" -> ((s, dir) => {
      import s.implicits._
      // session arithmetic in µs; engine timers are ms (msPerUnit).
      // AvailableNow runs a trailing no-data batch after the data batch
      // advances the watermark to max(ts), so exactly the sessions
      // whose ceiling-ms expiry the final watermark passes close via
      // handleExpiredTimer — the oracle mirrors that boundary
      // arithmetic literally.
      runTws(s, dir, "tws_sess_", "append") { src =>
        val typed = src // ts already normalized to TimestampType by runTws
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .as[(Long, Long)]
        graft.streaming.KeyedState
          .sessionizeTws(typed, gap = 6L * 3600 * 1000 * 1000, msPerUnit = 1000)
          .map { case (u, startUs, _, n) => (u, startUs / 1000000L, n) }
          .toDF("user_id", "session_start", "n")
      }.orderBy(col("user_id"), col("session_start"))
    }),

    // Per-key running top-k on transformWithState LIST state: the
    // named-variable API (ListState + ValueState) graded end-to-end.
    // State is bounded at k (score, id) pairs per key forever; the
    // latest Update emission per key (max running seen-count) is the
    // final top-k, which a batch ROW_NUMBER oracle mirrors exactly
    // (score desc, event_id asc tie-break, exact integer cents).
    "w10_tws_topk" -> ((s, dir) => {
      import s.implicits._
      val t = runTws(s, dir, "tws_topk_", "update") { src =>
        val typed = src
          .select(col("user_id"), (dec("value") * 100).cast(LongType).as("cents"),
            col("event_id"))
          .as[(Long, Long, Long)]
        graft.streaming.KeyedState.topKTws(typed, k = 3)
          .toDF("user_id", "n_seen", "rk", "cents", "event_id")
      }
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      t.withColumn("mx", max(col("n_seen")).over(w))
        .filter(col("n_seen") === col("mx"))
        .select(col("user_id"), col("rk").cast(LongType).as("rk"),
          (col("cents").cast(DoubleType) / 100).as("value"), col("event_id"))
        .orderBy(col("user_id"), col("rk"))
    }),

    // Streaming CDC ledger — Audit.snapshotDiff's per-key counterpart
    // as a REAL streaming query: each user's event_type stream is an
    // upsert sequence (seq = event_id), folded in seq order on
    // transformWithState state into new/changed/unchanged verdicts.
    // The per-key in-batch sort makes the verdicts a pure function of
    // the data (never shuffle arrival order), and the oracle replays
    // the same total order with one LAG window. Update mode emits the
    // running ledger per trigger; the latest emission per key is the
    // monotone-max nUpserts row.
    "w13_tws_cdc" -> ((s, dir) => {
      import s.implicits._
      val t = runTws(s, dir, "tws_cdc_", "update") { src =>
        val typed = src.select(col("user_id"), col("event_id"), col("event_type"))
          .as[(Long, Long, String)]
        graft.streaming.KeyedState.changeLogTws(typed)
          .toDF("user_id", "n_upserts", "n_new", "n_changed", "n_unchanged", "last_type")
      }
      t.groupBy(col("user_id"))
        .agg(max(struct(col("n_upserts"), col("n_new"), col("n_changed"),
          col("n_unchanged"), col("last_type"))).as("fin"))
        .select(col("user_id"), col("fin.n_upserts").as("n_upserts"),
          col("fin.n_new").as("n_new"), col("fin.n_changed").as("n_changed"),
          col("fin.n_unchanged").as("n_unchanged"),
          col("fin.last_type").as("last_type"))
        .orderBy(col("user_id"))
    }),

    // CDC WRITE SUPPRESSION — what w13's ledger exists for (reference
    // parity: the idempotent sink's skip counter,
    // pspf/connectors/base.py:55-70): four seq-contiguous drops of
    // per-user event_type upserts stream through cdcWriteSetTws, and a
    // foreachBatch sink writes ONLY keys whose end-of-drop payload is
    // new/changed vs their standing state — unchanged keys are
    // suppressed (asserted non-vacuous). The graded frame is the
    // WRITTEN SET itself, per drop; the oracle replays the same
    // last-per-drop vs previous-drop comparison with one LAG window.
    // A second in-query gate: the written set, last-write-wins, must
    // reproduce the stream's final state exactly (snapshotDiff between
    // the replayed writes and the batch-computed final state is empty)
    // — suppression never hid a change.
    "w14_cdc_suppress" -> ((s, dir) => {
      import s.implicits._
      graft.GraftSession.withConf(s, graft.GraftSession.RocksDBStateStore) {
        val ev = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
        val mx = ev.agg(max(col("event_id"))).head().getLong(0)
        val root = graft.Scratch.dir("graft_cdcw")
        // drops are CONTIGUOUS event_id ranges, so each key's seqs are
        // batch-monotone — the delivery contract under which the CDC
        // fold equals the total-seq-order replay exactly
        val drop = (col("event_id") * 4 / lit(mx + 1)).cast(LongType)
        var emitted = 0L
        var written = 0L
        graft.streaming.DropLoop.run(ev, (0 until 4).map(k => ev.filter(drop === k)),
            root) { src =>
          graft.streaming.KeyedState.cdcWriteSetTws(src.as[(Long, Long, String)])
            .toDF("user_id", "written_type", "changed")
            .writeStream.outputMode("update")
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
              val st = b.persist()
              try {
                emitted += st.count()
                val w = st.filter(col("changed"))
                  .select(col("user_id"), col("written_type"))
                written += w.count()
                w.write.mode("overwrite").parquet(s"$root/out/ingest_batch=$batchId")
              } finally { st.unpersist(); () }
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        require(written < emitted,
          s"suppression must be non-vacuous: wrote $written of $emitted emissions")
        val out = s.read.option("basePath", s"$root/out").parquet(s"$root/out")
          .select(col("user_id"),
            col("ingest_batch").cast(LongType).as("ingest_batch"),
            col("written_type"))
        val finalWritten = out.groupBy(col("user_id"))
          .agg(max(struct(col("ingest_batch"), col("written_type"))).as("f"))
          .select(col("user_id"), col("f.written_type").as("t"))
        val finalState = ev.groupBy(col("user_id"))
          .agg(max(struct(col("event_id"), col("event_type"))).as("f"))
          .select(col("user_id"), col("f.event_type").as("t"))
        require(graft.operators.Audit
            .snapshotDiff(finalWritten, finalState, "user_id", col("t")).isEmpty,
          "the suppressed write set must reproduce the stream's final state exactly")
        out.orderBy(col("user_id"), col("ingest_batch"))
      }
    }),


    // W12 idempotent dedup: first event per (user_id, event_type) —
    // deterministic min-id representative rather than dropDuplicates'
    // arbitrary row, so the oracle can match it.
    "w12_dedup_first" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"),
          count(lit(1)).as("n_dupes"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // J2 stream-static enrichment join (SURVEY §2.4: absent in the
    // reference, free in Spark): events enriched with a broadcast dim.
    "j2_enrich_join" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      e.join(broadcast(c), col("user_id") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(col("segment"))
    }),

    // J3 as-of join (composed from built-ins — Spark lacks a native
    // ASOF): each click paired with the user's most recent prior-or-
    // simultaneous purchase. DuckDB verifies with its native ASOF JOIN.
    //
    // Scale shape: union-tag both event kinds, ONE per-user window pass
    // carrying last(purchase_ts, ignoreNulls) over (ts, kind) order —
    // |clicks| + |purchases| rows through a single shuffle, zero
    // expansion. The previous join+row_number formulation materialized
    // clicks × all-prior-purchases per user (quadratic in per-user
    // activity: the 100× scale-up killer); QueryEquivalenceSpec keeps it
    // as the executable spec this plan must match. Purchases sort BEFORE
    // clicks at the same ts (kind 0 < 1), making the bound inclusive
    // (p_ts <= c_ts), exactly the ASOF contract.
    "j3_asof_join" -> ((s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
        col("ts"), lit(1).as("kind"), lit(null).cast("timestamp").as("p_ts"))
      val p = purchases.select(lit(null).cast("long").as("click_id"), col("user_id"),
        col("ts"), lit(0).as("kind"), col("ts").as("p_ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("kind"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      c.union(p)
        .withColumn("asof_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("click_id"),
          unix_timestamp(col("ts")).as("click_sec"),
          unix_timestamp(col("asof_ts")).as("purchase_sec"))
        .orderBy(col("click_id"))
    }),

    // J1 windowed stream-stream equi-join: click→purchase pairs for the
    // same user within 4h. Equi-key + time-range condition is exactly the
    // reference Joiner's buffer/probe contract.
    "j1_interval_join" -> ((s, dir) => {
      val (c, p) = intervalSides(s, dir)
      c.join(p, col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 4 hours"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // J4 LEFT OUTER interval join — the unmatched-side emission outer
    // stream-stream joins add (StreamingSliceSpec proves the streaming
    // leg's watermark-gated null emission; this grades the operator's
    // values through StreamJoins.windowed itself, symmetric ±4h bound).
    "j4_interval_left" -> ((s, dir) => {
      val (c, p) = intervalSides(s, dir)
      graft.streaming.StreamJoins.windowed(c, p, "user_id", "p_user",
          "c_ts", "p_ts", withinMs = 4L * 3600 * 1000, joinType = "left")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"), count(col("p_ts")).as("n_matched"))
        .orderBy(col("user_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "w1_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start, event_type,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w2_sliding_window" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)/3600) AS BIGINT) AS hb, event_type, value FROM events),
        |w AS (SELECT hb*3600 AS window_start, event_type, value FROM e
        |      UNION ALL
        |      SELECT (hb-1)*3600 AS window_start, event_type, value FROM e)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "w3_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    -- strict >: Spark session_window MERGES events exactly gap apart
        |    -- (empirically probed: ts 0 and 10 with gap 10s -> one session
        |    -- [0,20)), so only a gap STRICTLY beyond the timeout splits
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 6 HOUR
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "w5_late_split" ->
      """SELECT event_type,
        |  CASE WHEN ts < (SELECT MAX(ts) FROM events) - INTERVAL 24 HOUR
        |       THEN 'late' ELSE 'ontime' END AS status,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "o2_map_filter" ->
      """SELECT event_id, value * 2.0 AS doubled
        |FROM events WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    "o5_router" ->
      """SELECT CASE WHEN value > 300 THEN 'high_value'
        |            WHEN value > 100 THEN 'mid_value'
        |            ELSE 'standard' END AS route,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "o7_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // o8: the registry's evolution semantics replayed in SQL — the
    // generation rules are a pure function of event_id, so the oracle
    // applies alias folding (cust == customer_id, same value either
    // way), string→long coercion (NULL + corrupt where uncastable),
    // and the additive tier field directly.
    "o8_schema_evolution" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |p AS (SELECT user_id AS customer_id,
        |    CASE WHEN event_id % 3 = 0 AND event_id % 17 = 5 THEN NULL
        |         ELSE cents END AS amount,
        |    CASE WHEN event_id % 3 = 2 THEN
        |      CASE WHEN user_id % 2 = 0 THEN 'gold' ELSE 'std' END END AS tier,
        |    (event_id % 3 = 0 AND event_id % 17 = 5) AS corrupt
        |  FROM e)
        |SELECT customer_id % 8 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN NOT corrupt THEN amount END) AS BIGINT) AS sum_amount,
        |  CAST(SUM(CASE WHEN tier IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tiered
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    // o9: the segment files' logical contract replayed from the events
    // table — routing is pure arithmetic on the 1-char key (hashCode of
    // a 1-char string is its code point; 48 % 4 = 0 so partition =
    // user_id % 4), offsets are the dense per-partition row numbers in
    // produce order (event_id order — the produce sorts the frame), and
    // lag recounts the second, uncommitted drop per partition.
    "o9_graftlog_roundtrip" ->
      """WITH s1 AS (SELECT event_id, event_type, user_id FROM events
        |            WHERE event_id % 20 = 0),
        |s2 AS (SELECT CAST(user_id % 4 AS INT) AS part, COUNT(*) AS lag
        |       FROM events WHERE event_id % 20 = 10 GROUP BY 1),
        |r AS (SELECT CAST(user_id % 4 AS INT) AS part,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 4
        |                                ORDER BY event_id) - 1 AS BIGINT) AS log_offset,
        |        chr(CAST(48 + user_id % 8 AS INT)) AS key,
        |        event_type,
        |        CAST(event_id AS VARCHAR) AS payload
        |      FROM s1)
        |SELECT r.part AS part, r.log_offset, r.key, r.event_type, r.payload,
        |  COALESCE(l.lag, 0) AS lag
        |FROM r LEFT JOIN s2 l ON l.part = r.part
        |ORDER BY r.part, r.log_offset""".stripMargin,
    "w8_keyed_state" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w8_tws_fold" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "w9_tws_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 6 HOUR
        |         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*) AS n
        |         FROM s GROUP BY user_id, sid),
        |sess2 AS (SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM sess)
        |SELECT user_id, CAST(floor(epoch(start_ts)) AS BIGINT) AS session_start, n
        |FROM sess2
        |-- a NON-trailing session (a later session exists for the key)
        |-- closes on in-batch evidence and always emits; the trailing
        |-- session closes via the engine's MILLISECOND timer clock:
        |-- floor(watermark µs / 1000) >= ceil((end + gap) µs / 1000) —
        |-- both arms mirrored exactly (timestamps are µs-precision)
        |WHERE sid < max_sid
        |   OR epoch_us((SELECT MAX(ts) FROM events)) // 1000
        |      >= (epoch_us(end_ts) + 21600000000 + 999) // 1000
        |ORDER BY user_id, session_start""".stripMargin,
    "w10_tws_topk" ->
      """SELECT user_id, rk,
        |  CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE) / 100 AS value,
        |  event_id
        |FROM (SELECT user_id, value, event_id,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |                   event_id) AS rk
        |      FROM events)
        |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "w12_dedup_first" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_dupes
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    // w13: the same seq-ordered upsert replay via one LAG window —
    // 'new' where no predecessor, 'changed' where the payload flipped,
    // 'unchanged' otherwise; last payload = arg_max over the sequence.
    "w13_tws_cdc" ->
      """WITH o AS (SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS pt
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_upserts,
        |  CAST(SUM(CASE WHEN pt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(SUM(CASE WHEN pt IS NOT NULL AND event_type <> pt THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN event_type = pt THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  (SELECT arg_max(event_type, event_id) FROM events e2
        |   WHERE e2.user_id = o.user_id) AS last_type
        |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin,
    // w14: a written row exists for (user, drop) iff the user's
    // last-in-drop payload is their first sighting or differs from
    // their previous drop's last payload — one LAG over the per-drop
    // tails replays the suppression decision exactly.
    "w14_cdc_suppress" ->
      """WITH mx AS (SELECT MAX(event_id) AS m FROM events),
        |e AS (SELECT user_id, event_id, event_type,
        |    CAST(FLOOR(event_id * 4 / (m + 1)) AS BIGINT) AS drp
        |  FROM events, mx),
        |last_in AS (SELECT user_id, drp, event_type FROM (
        |    SELECT user_id, drp, event_type,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, drp ORDER BY event_id DESC) AS rk
        |    FROM e) WHERE rk = 1),
        |seq AS (SELECT user_id, drp, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY drp) AS prev
        |  FROM last_in)
        |SELECT user_id, drp AS ingest_batch, event_type AS written_type
        |FROM seq WHERE prev IS NULL OR event_type <> prev
        |ORDER BY user_id, ingest_batch""".stripMargin,
    "j2_enrich_join" ->
      """SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j3_asof_join" ->
      """SELECT c.event_id AS click_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY click_id""".stripMargin,
    "j1_interval_join" ->
      """SELECT c.user_id, COUNT(*) AS n_pairs
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 4 HOUR
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "j4_interval_left" ->
      """SELECT c.user_id, COUNT(*) AS n_rows, COUNT(p.ts) AS n_matched
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts - INTERVAL 4 HOUR AND p.ts <= c.ts + INTERVAL 4 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
