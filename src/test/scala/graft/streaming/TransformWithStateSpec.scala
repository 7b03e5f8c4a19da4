package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TransformWithStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRocksDb[T](body: => T): T =
    graft.GraftSession.withConf(spark, graft.GraftSession.RocksDBStateStore)(body)

  test("transformWithState running fold: state persists across triggers (reference keyed sum)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Long)]
      val folded = KeyedState.runningFoldTws[String, (String, Long), Long](
        in.toDS(), _._1, 0L)((s, v) => s + v._2)
        .toDF("key", "total")
      val q = folded.writeStream.outputMode("update")
        .format("memory").queryName("tws_out").start()
      try {
        in.addData(("foo", 1L), ("bar", 5L))
        q.processAllAvailable()
        in.addData(("foo", 2L)) // second trigger folds onto RocksDB state
        q.processAllAvailable()
        val got = spark.table("tws_out").groupBy("key").agg(max("total").as("t"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        // identical to StreamingSliceSpec's mapGroupsWithState fold —
        // the two APIs must agree on the reference's e2e keyed sums
        assert(got == Map("foo" -> 3L, "bar" -> 5L))
      } finally q.stop()
    }
  }

  test("transformWithState and mapGroupsWithState emit identical per-trigger outputs") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      def run(useTws: Boolean): Seq[(String, Long)] = {
        val in = MemoryStream[(String, Long)]
        val ds = in.toDS()
        val folded =
          if (useTws) KeyedState.runningFoldTws[String, (String, Long), Long](
            ds, _._1, 0L)((s, v) => s + v._2)
          else KeyedState.runningFold[String, (String, Long), Long](
            ds, _._1, 0L)((s, v) => s + v._2)
        val name = if (useTws) "par_tws" else "par_mgs"
        val q = folded.toDF("key", "total").writeStream.outputMode("update")
          .format("memory").queryName(name).start()
        try {
          in.addData(("a", 2L), ("b", 3L), ("a", 4L))
          q.processAllAvailable()
          in.addData(("b", 1L), ("c", 7L))
          q.processAllAvailable()
          spark.table(name).collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
        } finally q.stop()
      }
      assert(run(useTws = true) == run(useTws = false))
    }
  }

  test("sessionizeTws: event-time timers close sessions once the watermark passes the gap") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Double)] // (key, epoch seconds)
      val ds = in.toDF().toDF("key", "sec")
        .select(col("key"), timestamp_seconds(col("sec")).as("ts"))
        .withWatermark("ts", "0 seconds")
        .select(col("key"), (unix_micros(col("ts")) / 1000).cast("long").as("ms"))
        .as[(String, Long)]
      val sessions = KeyedState.sessionizeTws(ds, gap = 10000)
        .toDF("key", "start_ms", "end_ms", "n")
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("sess_tws").start()
      def rows(): Set[(String, Long, Long, Long)] =
        spark.table("sess_tws").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def await(expect: Set[(String, Long, Long, Long)]): Unit = {
        // timers fire in the no-data batch AFTER the watermark advances —
        // poll instead of assuming processAllAvailable covers it
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (rows() != expect && System.nanoTime() < deadline &&
          q.exception.isEmpty) Thread.sleep(100)
        assert(rows() == expect, s"got ${rows()}; query exception: ${q.exception}")
      }
      try {
        in.addData(("a", 10.0), ("a", 12.0), ("b", 11.0))
        q.processAllAvailable() // watermark 12s: no session is 10s quiet yet
        assert(rows().isEmpty, "no session may close before the gap elapses")
        in.addData(("a", 15.0)) // extends a's session (re-arms its timer)
        q.processAllAvailable()
        in.addData(("c", 100.0)) // watermark 100s: a (quiet since 15) and b close
        await(Set(("a", 10000L, 15000L, 3L), ("b", 11000L, 11000L, 1L)))
        in.addData(("z", 200.0)) // watermark 200s: c closes; z stays open
        await(Set(("a", 10000L, 15000L, 3L), ("b", 11000L, 11000L, 1L),
          ("c", 100000L, 100000L, 1L)))
        // two d bursts 50s apart in ONE batch: the first closes on
        // in-batch evidence (no watermark wait), the second stays open
        in.addData(("d", 300.0), ("d", 350.0))
        await(Set(("a", 10000L, 15000L, 3L), ("b", 11000L, 11000L, 1L),
          ("c", 100000L, 100000L, 1L), ("d", 300000L, 300000L, 1L)))
      } finally q.stop()
    }
  }

  test("sessionizeTws fails loudly by name when one key exceeds maxBatchRowsPerKey in a trigger") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Double)]
      val ds = in.toDF().toDF("key", "sec")
        .select(col("key"), timestamp_seconds(col("sec")).as("ts"))
        .withWatermark("ts", "0 seconds")
        .select(col("key"), (unix_micros(col("ts")) / 1000).cast("long").as("ms"))
        .as[(String, Long)]
      val q = KeyedState.sessionizeTws(ds, gap = 10000, maxBatchRowsPerKey = 2)
        .toDF("key", "start_ms", "end_ms", "n")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_bound").start()
      try {
        in.addData(("hot", 10.0), ("hot", 11.0), ("hot", 12.0)) // 3 > bound 2
        val e = intercept[Exception](q.processAllAvailable())
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else t.getMessage +: chain(t.getCause)
        val msgs = chain(e).filter(_ != null)
        assert(msgs.exists(m => m.contains("sessionizeTws") &&
          m.contains("maxBatchRowsPerKey") && m.contains("hot")),
          s"expected the named per-key bound failure, got: $msgs")
      } finally q.stop()
    }
  }

  test("sessionizeTws equals a reference sessionizer on randomized workloads (all sessions closed)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val rnd = new scala.util.Random(4242)
      val gap = 10L // seconds
      (1 to 3).foreach { round =>
        // random events over a small key/time domain → plenty of
        // duplicate timestamps, gap-boundary hits, singleton sessions
        val events = Seq.fill(120)((s"k${rnd.nextInt(6)}", (rnd.nextInt(500) + 1).toDouble))
        val expected = events.groupBy(_._1).flatMap { case (k, evs) =>
          val ts = evs.map(_._2.toLong * 1000).sorted
          val sessions = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
          var (start, last, n) = (ts.head, ts.head, 1L)
          ts.tail.foreach { t =>
            if (t - last > gap * 1000) {
              sessions += ((k, start, last, n)); start = t; last = t; n = 1
            } else { last = t; n += 1 }
          }
          sessions += ((k, start, last, n))
          sessions
        }.toSet

        val in = MemoryStream[(String, Double)]
        val ds = in.toDF().toDF("key", "sec")
          .select(col("key"), timestamp_seconds(col("sec")).as("ts"))
          .withWatermark("ts", "0 seconds")
          .select(col("key"), (unix_micros(col("ts")) / 1000).cast("long").as("ms"))
          .as[(String, Long)]
        val name = s"sess_prop_$round"
        val q = KeyedState.sessionizeTws(ds, gap = gap * 1000)
          .filter(_._1 != "zz")
          .toDF("key", "start_ms", "end_ms", "n")
          .writeStream.outputMode("append").format("memory").queryName(name).start()
        try {
          in.addData(events: _*)
          q.processAllAvailable()
          in.addData(("zz", 1e6)) // watermark sentinel: closes everything
          def rows() = spark.table(name).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (rows() != expected && System.nanoTime() < deadline &&
            q.exception.isEmpty) { q.processAllAvailable(); Thread.sleep(100) }
          assert(rows() == expected,
            s"round $round: got ${rows().toSeq.sorted}\nexpected ${expected.toSeq.sorted}" +
              s"\nquery exception: ${q.exception}")
        } finally q.stop()
      }
    }
  }

  test("topKTws: ListState keeps a bounded top-k per key across triggers with deterministic ties") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Long, Long)] // key, score, id
      val topk = KeyedState.topKTws(in.toDS(), k = 2)
        .toDF("key", "n_seen", "rk", "score", "id")
      val q = topk.writeStream.outputMode("update")
        .format("memory").queryName("tws_topk").start()
      try {
        in.addData(("a", 10L, 1L), ("a", 30L, 2L), ("a", 20L, 3L))
        q.processAllAvailable()
        in.addData(("a", 25L, 4L), ("a", 30L, 5L)) // 30 ties: lower id wins
        q.processAllAvailable()
        val t = spark.table("tws_topk")
        val maxSeen = t.agg(max("n_seen")).collect().head.getLong(0)
        assert(maxSeen == 5L, "seen-count must accumulate across triggers")
        val fin = t.filter(col("n_seen") === maxSeen)
          .select("rk", "score", "id").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
        // top-2 of {10/1, 30/2, 20/3, 25/4, 30/5}: (30,2) then (30,5)
        assert(fin == Set((1, 30L, 2L), (2, 30L, 5L)))
      } finally q.stop()
    }
  }

  test("MapState: per-(key, sub-key) counts as a named map variable (reference ctx.state KV)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor,
        TTLConfig, TimeMode, TimerValues}
      val strEnc = implicitly[org.apache.spark.sql.Encoder[String]]
      val longEnc = implicitly[org.apache.spark.sql.Encoder[Long]]
      val proc = new StatefulProcessor[String, (String, String), (String, String, Long)] {
        @transient private var counts: MapState[String, Long] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          counts = getHandle.getMapState[String, Long]("counts", strEnc, longEnc, TTLConfig.NONE)
        override def handleInputRows(k: String, rows: Iterator[(String, String)],
                                     tv: TimerValues): Iterator[(String, String, Long)] = {
          rows.foreach { case (_, sub) =>
            val cur = if (counts.containsKey(sub)) counts.getValue(sub) else 0L
            counts.updateValue(sub, cur + 1)
          }
          counts.iterator().map { case (sub, n) => (k, sub, n) }
        }
      }
      val in = MemoryStream[(String, String)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(proc, TimeMode.None(), OutputMode.Update())
        .toDF("key", "sub", "n")
      val q = out.writeStream.outputMode("update")
        .format("memory").queryName("tws_map").start()
      try {
        in.addData(("u1", "click"), ("u1", "click"), ("u1", "buy"), ("u2", "click"))
        q.processAllAvailable()
        in.addData(("u1", "click")) // map value increments across triggers
        q.processAllAvailable()
        val got = spark.table("tws_map").groupBy("key", "sub").agg(max("n").as("n"))
          .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
        assert(got == Map(("u1", "click") -> 3L, ("u1", "buy") -> 1L, ("u2", "click") -> 1L))
      } finally q.stop()
    }
  }

  test("changeLogTws: seq-ordered CDC verdicts, order-immune within a batch, state across batches") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, String)] // (key, seq, payload)
      val cdc = KeyedState.changeLogTws(in.toDS())
        .toDF("key", "n_up", "n_new", "n_ch", "n_un", "last")
      val q = cdc.writeStream.outputMode("update")
        .format("memory").queryName("tws_cdc_out").start()
      try {
        // batch 1, deliberately OUT of seq order: the fold must apply
        // seq order 1,2,3 (a -> a -> b): new, unchanged, changed
        in.addData((1L, 3L, "b"), (1L, 1L, "a"), (1L, 2L, "a"),
          (2L, 10L, "x"))
        q.processAllAvailable()
        // batch 2: key 1 continues b -> b (unchanged), -> c (changed);
        // the cross-batch boundary must not manufacture a change
        in.addData((1L, 4L, "b"), (1L, 5L, "c"))
        q.processAllAvailable()
        // batch 3: a LATER batch delivering an EARLIER seq (stale
        // cross-batch arrival, which the in-batch sort cannot repair)
        // is dropped against the stored lastSeq — before the lastSeq
        // fix this would fold out of order and count a phantom change
        in.addData((1L, 2L, "zzz"))
        q.processAllAvailable()
        val fin = spark.table("tws_cdc_out")
          .groupBy("key").agg(max(struct(col("n_up"), col("n_new"),
            col("n_ch"), col("n_un"), col("last"))).as("f"))
          .select(col("key"), col("f.n_up"), col("f.n_new"), col("f.n_ch"),
            col("f.n_un"), col("f.last"))
          .as[(Long, Long, Long, Long, Long, String)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
        // 5 upserts: a(new), a(unchanged), b(changed) | b(unchanged —
        // the boundary didn't manufacture a change), c(changed)
        assert(fin(1L) == ((5L, 1L, 2L, 2L, "c")), s"key 1 ledger: ${fin(1L)}")
        assert(fin(2L) == ((1L, 1L, 0L, 0L, "x")), s"key 2 ledger: ${fin(2L)}")
      } finally q.stop()
    }
  }

  test("cdcWriteSetTws: changed iff new key or end-of-batch payload differs from batch start") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, Long, String)] // (key, seq, payload)
      val out = KeyedState.cdcWriteSetTws(in.toDS())
        .toDF("key", "last", "changed")
      val q = out.writeStream.outputMode("update")
        .format("memory").queryName("tws_cdcw_out").start()
      try {
        def rows() = spark.table("tws_cdcw_out")
          .as[(Long, String, Boolean)].collect().toSeq
        // batch 1: key 1 new (a->b within batch nets to "b", changed);
        // key 2 new
        in.addData((1L, 1L, "a"), (1L, 2L, "b"), (2L, 10L, "x"))
        q.processAllAvailable()
        assert(rows().toSet == Set((1L, "b", true), (2L, "x", true)))
        // batch 2: key 1 b->c->b nets UNCHANGED vs batch start (write
        // suppressed); key 2 x->y changed; key 3 absent (no emission)
        in.addData((1L, 3L, "c"), (1L, 4L, "b"), (2L, 11L, "y"))
        q.processAllAvailable()
        val b2 = rows().diff(Seq((1L, "b", true), (2L, "x", true)))
        assert(b2.toSet == Set((1L, "b", false), (2L, "y", true)))
        // batch 3: a stale seq for key 2 (seq 5 < lastSeq 11) is
        // dropped — emission says unchanged, state keeps "y"
        in.addData((2L, 5L, "zzz"))
        q.processAllAvailable()
        val b3 = rows().diff(Seq((1L, "b", true), (2L, "x", true)) ++ b2)
        assert(b3 == Seq((2L, "y", false)))
      } finally q.stop()
    }
  }

  test("a non-NONE TTL starts (processing-time mode) and folds normally within the TTL window") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(String, Long)]
      // a generous TTL: state must survive the whole test, proving the
      // TTLConfig + TimeMode combination is accepted at query start
      // (the old hardcoded TimeMode.None rejected any real TTL)
      val folded = KeyedState.runningFoldTws[String, (String, Long), Long](
        in.toDS(), _._1, 0L,
        ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofHours(1)))(
        (s, v) => s + v._2)
        .toDF("key", "total")
      val q = folded.writeStream.outputMode("update")
        .format("memory").queryName("tws_ttl_out").start()
      // processing-time mode schedules TTL wake-up work continuously,
      // so processAllAvailable never settles — poll the sink instead
      def maxTotal(): Long = {
        val rows = spark.table("tws_ttl_out").agg(max("total")).collect()
        if (rows.isEmpty || rows.head.isNullAt(0)) -1L else rows.head.getLong(0)
      }
      def awaitTotal(expect: Long): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (maxTotal() != expect && System.nanoTime() < deadline &&
          q.exception.isEmpty) Thread.sleep(100)
        assert(maxTotal() == expect,
          s"sink never reached $expect; query exception: ${q.exception}")
      }
      try {
        in.addData(("k", 10L))
        awaitTotal(10L)
        in.addData(("k", 5L))
        awaitTotal(15L)
      } finally q.stop()
    }
  }
}
