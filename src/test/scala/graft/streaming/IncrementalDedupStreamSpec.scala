package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Dedup

/** The rolling-crawl ingest loop end to end: crawl drops arrive one at
  * a time, each AvailableNow run dedups the drop against the PERSISTED
  * band store of all earlier drops, checkpoint-resumed across runs.
  * Proves (a) batch N+1 dedups against batches 1..N, (b) history is
  * never re-shingled — the already-ingested source files are DELETED
  * and dedup still works off the stored bands, (c) a micro-batch
  * replayed after a simulated crash (commit marker removed) rewrites
  * its partitions idempotently. */
class IncrementalDedupStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = IncrementalDedup.Config("doc_id", "text",
    shingleN = 3, numHashes = 8, rowsPerBand = 2)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
  }

  test("drops dedup against persisted bands; deleted history stays dedupable; replay is idempotent") {
    val root = Files.createTempDirectory("graft_incr_spec").toString
    val src = s"$root/src"; val bands = s"$root/bands"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema

    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.run(
        spark.readStream.schema(schema).parquet(src),
        cfg, bands, out, ckpt).awaitTermination()
    def verdicts(): Map[Long, (Option[Long], Long, Boolean)] =
      IncrementalDedup.results(spark, out)
        .select(col("doc_id"), col("first_match"), col("n_matches"), col("is_dup"))
        .collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
            r.getLong(2), r.getBoolean(3)))
        .toMap

    // drop 0: two unrelated docs
    drop(
      1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "completely unrelated words describing some other topic entirely here")
    runOnce()
    assert(verdicts() == Map(
      1L -> (None, 0L, false),
      2L -> (None, 0L, false)))

    // history is now only the band store: delete every ingested source
    // file — a pipeline that re-shingled batches 1..N would break here
    Files.list(Paths.get(src)).forEach(f => deleteRecursively(f))
    assert(Files.list(Paths.get(src)).count() == 0)

    // drop 1: one exact near-dup of doc 1, one novel doc
    drop(
      10L -> "the quick brown fox jumps over the lazy dog every single day",
      11L -> "novel sentences that match nothing previously ingested at all anywhere")
    runOnce()
    val afterDrop1 = verdicts()
    assert(afterDrop1(10L) == ((Some(1L), 1L, true)),
      s"drop-1 dup must match stored batch-0 bands: $afterDrop1")
    assert(afterDrop1(11L) == ((None, 0L, false)))
    assert(afterDrop1(1L) == ((None, 0L, false))) // batch-0 verdicts untouched

    // simulated crash after batch 1 ran but before its commit marker:
    // removing commits/1 makes the restart REPLAY micro-batch 1 from
    // the checkpoint's recorded file list; batchId-keyed overwrites
    // must leave the stores byte-identical in content (no dup rows,
    // same verdicts) and the replayed batch must not see its own
    // earlier band write as seen corpus (n_matches would double)
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/1")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.1.crc")) // local-FS checksum sidecar
    runOnce()
    val afterReplay = verdicts()
    assert(afterReplay == afterDrop1, "replay must be idempotent")
    assert(IncrementalDedup.results(spark, out).count() == 4)

    // drop 2 still composes: dups against BOTH earlier drops
    drop(20L -> "the quick brown fox jumps over the lazy dog every single day")
    runOnce()
    val afterDrop2 = verdicts()
    assert(afterDrop2(20L) == ((Some(1L), 2L, true)),
      s"drop-2 doc must match docs 1 and 10 via stored bands: $afterDrop2")
  }

  test("one AvailableNow start drains pinned-mtime drops oldest-first: batch k == mtime rank, not creation order") {
    // the two-start graded loops ride on "micro-batch k == drop k"
    // with several drops pending before ONE start — the file source
    // must order them by modification time, which the loops PIN. This
    // writes the drops in REVERSE creation order (drop 2's file lands
    // first), so any accidental reliance on listing or creation order
    // would flip the mapping and fail here rather than as an oracle
    // desync.
    val root = Files.createTempDirectory("graft_incr_order").toString
    val src = s"$root/src"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def writeDrop(k: Int): Unit =
      DropLoop.landDrop(Seq((k * 10L, s"drop$k a b c d e f")).toDF("doc_id", "text"), src, k)
    Seq(2, 0, 1).foreach(writeDrop)
    IncrementalDedup.run(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      cfg, s"$root/bands", s"$root/out", s"$root/ckpt").awaitTermination()
    (0 until 3).foreach { k =>
      val ids = spark.read.parquet(s"$root/out/ingest_batch=$k")
        .select("doc_id").as[Long].collect().toSet
      assert(ids == Set(k * 10L),
        s"batch $k holds $ids — the file source did not order by pinned mtime")
    }
  }

  test("two-start loops: the checkpoint-RESUMED leg reports zero state rows by the engine's own counter") {
    // The graded crawl loops run the two-start DropLoop shape: drops
    // 0..n-2 drain under ONE AvailableNow start at maxFilesPerTrigger=1,
    // the last drop under a genuine checkpoint-resumed second start.
    // The per-drop rehearsal specs assert stateOperators==0 on every
    // one-drop start; this pins the SAME bound on the resumed leg of
    // the exact two-start shape (and on the multi-batch first leg),
    // for each loop family: a resume that rebuilt state from the
    // checkpoint would surface rows exactly here. The resume must also
    // be invisible in the output: the two-start results equal one
    // start over all four drops, row for row.
    def assertZeroState(q: StreamingQuery, leg: String): Unit =
      q.recentProgress.foreach { p =>
        assert(p.stateOperators.forall(_.numRowsTotal == 0L),
          s"$leg leg reported state-store rows: " +
            p.stateOperators.map(_.numRowsTotal).mkString(" "))
      }
    val run16 = (1 to 16).map(i => s"r$i").mkString(" ")
    val drops = Seq(
      1L -> s"a1 a2 $run16 a3",
      10L -> s"b1 $run16 b2",
      20L -> s"c1 c2 $run16",
      30L -> s"d1 $run16 d2").map(Seq(_).toDF("doc_id", "text"))
    val input = drops.reduce(_ unionByName _)
    def results(root: String): Seq[String] =
      IncrementalDedup.results(spark, s"$root/out").collect().map(_.toString).toSeq.sorted
    def twoStartEqualsOneStart(start: String => DataFrame => StreamingQuery): Unit = {
      val two = Files.createTempDirectory("graft_twostart").toString
      val legs = Seq.newBuilder[StreamingQuery]
      DropLoop.run(input, drops, two) { src =>
        val q = start(two)(src); legs += q; q
      }
      val Seq(first, resumed) = legs.result()
      assertZeroState(first, "first (multi-batch)")
      assert(resumed.recentProgress.nonEmpty, "the resumed leg must have run a batch")
      assertZeroState(resumed, "resumed")
      val one = Files.createTempDirectory("graft_onestart").toString
      drops.zipWithIndex.foreach { case (d, k) => DropLoop.landDrop(d, s"$one/src", k) }
      start(one)(spark.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$one/src")).awaitTermination()
      DropLoop.requireDropBatches(s"$one/out", 4)
      val got = results(two)
      assert(got.exists(_.endsWith(",3]")), s"the resumed leg's drop wrote no rows: $got")
      assert(got == results(one), "the two-start results differ from one start's")
    }
    // dedup loop
    twoStartEqualsOneStart(root => IncrementalDedup.run(_, cfg,
      s"$root/bands", s"$root/out", s"$root/ckpt"))
    // winnow loop
    twoStartEqualsOneStart(root => IncrementalDedup.runWinnow(_,
      IncrementalDedup.WinnowConfig("doc_id", "text", k = 3, w = 2, minShared = 2),
      s"$root/fps", s"$root/out", s"$root/ckpt"))
    // decontamination guard
    twoStartEqualsOneStart { root =>
      val dcfg = IncrementalDedup.DecontConfig("doc_id", "text",
        k = 3, w = 2, minShared = 2)
      IncrementalDedup.buildEvalFpStore(
        Seq(9000L -> s"x1 $run16 x2").toDF("doc_id", "text"), dcfg,
        s"$root/evalfp")
      IncrementalDedup.runDecontaminate(_, dcfg,
        s"$root/evalfp", s"$root/out", s"$root/leak", s"$root/ckpt")
    }
  }

  test("winnow loop: drops span-match against the persisted fingerprint store; replay idempotent") {
    val root = Files.createTempDirectory("graft_incr_wn_spec").toString
    val src = s"$root/src"; val fps = s"$root/fps"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val wcfg = IncrementalDedup.WinnowConfig("doc_id", "text",
      k = 3, w = 2, minShared = 2)
    val run = (1 to 16).map(i => s"r$i").mkString(" ") // >= k+w-1 by far

    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.runWinnow(
        spark.readStream.schema(schema).parquet(src),
        wcfg, fps, out, ckpt).awaitTermination()
    def pairs(): Set[(Long, Long, Long)] =
      IncrementalDedup.results(spark, out)
        .select(col("new_id"), col("seen_id"), col("n_shared"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // drop 0: the span's origin + an unrelated doc — nothing earlier
    // to match, so the verdict partition commits EMPTY
    drop(
      1L -> s"a1 a2 $run a3 a4 a5",
      2L -> "completely unrelated words describing some other topic entirely here")
    runOnce()
    assert(pairs().isEmpty)

    // history is now only the fingerprint store: delete the ingested
    // source files — a loop that re-tokenized batches 1..N breaks here
    Files.list(Paths.get(src)).forEach(f => deleteRecursively(f))

    // drop 1: doc 10 copies the span into different surrounding text
    drop(
      10L -> s"b1 $run b2 b3 b4 b5 b6",
      11L -> "novel sentences that match nothing previously ingested at all anywhere")
    runOnce()
    val afterDrop1 = pairs()
    assert(afterDrop1.exists(p => p._1 == 10L && p._2 == 1L && p._3 >= 2),
      s"the copied span must pair (10 -> 1) via the stored fingerprints: $afterDrop1")
    assert(!afterDrop1.exists(p => p._1 == 11L || p._2 == 2L),
      s"unrelated docs must not pair: $afterDrop1")

    // crash replay of micro-batch 1: batchId-keyed overwrites + the
    // strictly-before store read make it idempotent (a replay that saw
    // its own earlier fingerprint write would double n_shared)
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/1")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.1.crc"))
    runOnce()
    assert(pairs() == afterDrop1, "replay must be idempotent")

    // drop 2 composes against BOTH earlier drops' stored fingerprints
    drop(20L -> s"c1 c2 c3 $run")
    runOnce()
    val afterDrop2 = pairs()
    assert(afterDrop2.exists(p => p._1 == 20L && p._2 == 1L && p._3 >= 2) &&
      afterDrop2.exists(p => p._1 == 20L && p._2 == 10L && p._3 >= 2),
      s"drop-2 doc must span-match docs 1 and 10: $afterDrop2")
  }

  test("winnow loop hot-fp cap: boilerplate pairs suppressed per turn, genuine spans survive, hold bit-identical") {
    val run = (1 to 16).map(i => s"r$i").mkString(" ")
    val boiler = (1 to 8).map(i => s"lic$i").mkString(" ") // in EVERY doc
    def mkDocs(ids: Seq[Long]) = ids.map { id =>
      val body = if (id % 10 == 0) run else (1 to 12).map(t => s"u${id}w$t").mkString(" ")
      (id, s"$body $boiler")
    }
    def runLoop(maxDf: Long): Set[(Long, Long)] = {
      val root = Files.createTempDirectory(s"graft_incr_wncap$maxDf").toString
      val src = s"$root/src"
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      val wcfg = IncrementalDedup.WinnowConfig("doc_id", "text",
        k = 3, w = 2, minShared = 2, maxDf = maxDf)
      Seq(Seq(10L, 1L, 2L, 3L), Seq(20L, 11L, 12L, 13L)).foreach { ids =>
        mkDocs(ids).toDF("doc_id", "text").write.mode("append").parquet(src)
        IncrementalDedup.runWinnow(
          spark.readStream.schema(schema).parquet(src),
          wcfg, s"$root/fps", s"$root/out", s"$root/ckpt").awaitTermination()
      }
      IncrementalDedup.results(spark, s"$root/out")
        .select(col("new_id"), col("seen_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // FIRE: all 8 docs share the boilerplate (df 8 > ceiling 4) — its
    // fingerprints are erased per turn, so the only surviving pair is
    // the genuine copied run (docs 10 and 20, unique to them)
    val capped = runLoop(maxDf = 4)
    assert(capped == Set((20L, 10L)),
      s"the cap must erase boilerplate evidence and keep the real span: $capped")
    // without the cap the boilerplate pairs EVERY new doc with every
    // seen doc — the quadratic bucket the cap exists to prevent
    val uncapped = runLoop(maxDf = 0)
    assert(uncapped.size == 16, // 4 new docs x 4 seen docs, all share lic*
      s"uncapped boilerplate must pair all-vs-all across drops: $uncapped")
    // HOLD: ceiling above the boilerplate df — armed loop, no-op probe,
    // bit-identical to the uncapped run
    assert(runLoop(maxDf = 100) == uncapped,
      "an armed cap holding below its ceiling must change nothing")
  }

  test("winnow loop compactEvery folds the fingerprint store in-loop; pairs unchanged; stage self-heals") {
    val root = Files.createTempDirectory("graft_incr_wn_autoc").toString
    val src = s"$root/src"; val fps = s"$root/fps"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val wcfg = IncrementalDedup.WinnowConfig("doc_id", "text",
      k = 3, w = 2, minShared = 2)
    val run = (1 to 16).map(i => s"r$i").mkString(" ")
    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.runWinnow(spark.readStream.schema(schema).parquet(src),
        wcfg, fps, out, ckpt, compactEvery = 2).awaitTermination()
    def partDirs(): Seq[String] =
      Files.list(Paths.get(fps)).map[String](_.getFileName.toString)
        .filter(_.startsWith("ingest_batch=")).sorted.toArray.map(_.toString).toSeq

    drop(1L -> s"a1 a2 $run a3"); runOnce()             // batch 0
    drop(10L -> s"b1 $run b2"); runOnce()               // batch 1: off-cadence
    assert(partDirs() == Seq("ingest_batch=0", "ingest_batch=1"))
    drop(20L -> s"c1 c2 $run"); runOnce()               // batch 2: appends, folds {0, 1}
    assert(partDirs() == Seq("ingest_batch=1", "ingest_batch=2"),
      "the winnow loop must fold its own store in-loop")
    val after = IncrementalDedup.results(spark, out)
      .select(col("new_id"), col("seen_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == Set((10L, 1L), (20L, 1L), (20L, 10L)),
      s"folding must not change the span verdicts: $after")

    // self-heal: a torn stage from a crashed prior fold must be cleared
    // by the next turn itself, under the store lease, then ingest
    val stage = Paths.get(s"$fps/.compact_tmp_9")
    Files.createDirectory(stage)
    Files.write(stage.resolve("part-torn.parquet"), Array[Byte](1))
    drop(30L -> s"d1 $run d2"); runOnce()               // batch 3: recovers, ingests
    assert(!Files.exists(stage), "the torn stage must be discarded by the loop")
    val v30 = IncrementalDedup.results(spark, out)
      .filter(col("new_id") === 30L)
      .select(col("seen_id")).collect().map(_.getLong(0)).toSet
    assert(v30 == Set(1L, 10L, 20L),
      s"post-recovery drop must probe the full folded history: $v30")
  }

  test("band-store compaction folds history; verdicts continue unchanged; interrupted swap recovers") {
    val root = Files.createTempDirectory("graft_incr_compact").toString
    val src = s"$root/src"; val bands = s"$root/bands"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.run(spark.readStream.schema(schema).parquet(src),
        cfg, bands, out, ckpt).awaitTermination()
    def partDirs(): Seq[String] =
      Files.list(Paths.get(bands)).map[String](_.getFileName.toString)
        .filter(_.startsWith("ingest_batch=")).sorted.toArray.map(_.toString).toSeq

    drop(1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "completely unrelated words describing some other topic entirely here")
    runOnce()
    drop(10L -> "the quick brown fox jumps over the lazy dog every single day")
    runOnce()
    assert(partDirs() == Seq("ingest_batch=0", "ingest_batch=1"))

    // fold batches 0..1 into one partition (both are committed)
    assert(IncrementalDedup.compactBandStore(spark, bands, upToBatch = 2) == 2)
    assert(partDirs() == Seq("ingest_batch=1"))

    // dedup against the folded history still works, counting BOTH
    // original drops' bands
    drop(20L -> "the quick brown fox jumps over the lazy dog every single day")
    runOnce()
    val v = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 20L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v.getLong(0), v.getLong(1), v.getBoolean(2)) == ((1L, 2L, true)))

    // simulate a crash between staging and swap: move the folded
    // partition back to its staged dot-name. INGEST must fail fast —
    // reading past the staged fold would dedup against a hole — and
    // the next compaction call completes the swap.
    drop(30L -> "the quick brown fox jumps over the lazy dog every single day")
    Files.move(Paths.get(s"$bands/ingest_batch=1"),
      Paths.get(s"$bands/.compact_tmp_1"))
    val err = intercept[Exception](runOnce())
    assert(err.getMessage.contains("unfinished compaction") ||
      Option(err.getCause).exists(_.getMessage.contains("unfinished compaction")))
    // completes the interrupted swap (restoring 1), then folds {1, 2}
    // into 2 as asked
    IncrementalDedup.compactBandStore(spark, bands, upToBatch = 3)
    assert(partDirs() == Seq("ingest_batch=2"))
    runOnce() // the failed batch replays cleanly against the folded store
    val v30 = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 30L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v30.getLong(0), v30.getLong(1), v30.getBoolean(2)) == ((1L, 3L, true)))
  }

  test("bands-autocompact self-heals its own prior crash before probing") {
    val root = Files.createTempDirectory("graft_incr_healprobe").toString
    val src = s"$root/src"; val bands = s"$root/bands"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.run(spark.readStream.schema(schema).parquet(src),
        cfg, bands, out, ckpt).awaitTermination()
    drop(1L -> "the quick brown fox jumps over the lazy dog every single day")
    runOnce()
    drop(2L -> "completely unrelated words describing some other topic entirely here")
    runOnce()
    // crashed prior fold: an UNARMED v2 stage (no _SUCCESS — staging
    // died before the manifest armed the swap). The probe used to fail
    // fast on it forever (foldableBandPartitions' stage check) while
    // only the fold itself ran recovery — the cron verb wedged on its
    // own prior crash until a manual compactBandStore.
    val torn = Paths.get(s"$bands/.compact_tmp2_1")
    Files.createDirectory(torn)
    val hold = IncrementalDedup.compactBandStoreIfFragmented(
      spark, bands, maxPartitions = 2, upToBatch = 2)
    assert(!hold.compacted && hold.standingPartitions == 2 && hold.folded == 0)
    assert(!Files.exists(torn), "the unarmed stage must be discarded by the heal")
    // fire direction after a fresh tear also heals then folds
    Files.createDirectory(torn)
    val fire = IncrementalDedup.compactBandStoreIfFragmented(
      spark, bands, maxPartitions = 1, upToBatch = 2)
    assert(fire.compacted && fire.folded == 2 && !Files.exists(torn))
  }

  test("the crawl loop's recovery refuses to discard a live out-of-band compactor's stage") {
    val root = Files.createTempDirectory("graft_incr_leaseloop").toString
    val src = s"$root/src"; val bands = s"$root/bands"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.run(spark.readStream.schema(schema).parquet(src),
        cfg, bands, out, ckpt, compactEvery = 4).awaitTermination()
    drop(1L -> "the quick brown fox jumps over the lazy dog every single day")
    runOnce()
    // an out-of-band compactor is MID-STAGING: its stage dir stands and
    // it holds the store lease. The loop's old unleased recovery would
    // have discarded the live stage as a "crash"; now the turn fails
    // loudly at acquire, naming the holder.
    Files.createDirectory(Paths.get(s"$bands/.compact_tmp2_0"))
    val h = graft.operators.StoreLease.acquire(spark, bands, "oob-compactor")
    drop(2L -> "completely unrelated words describing some other topic entirely here")
    val e = intercept[Exception](runOnce())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).filter(_ != null).exists(m =>
      m.contains("oob-compactor") && m.contains("under maintenance")),
      s"expected a loud lease refusal, got: ${chain(e)}")
    // compactor done: lease released, stage (unarmed) left to recovery —
    // the replayed turn heals it under its own lease and proceeds
    graft.operators.StoreLease.release(spark, h)
    runOnce()
    assert(!Files.exists(Paths.get(s"$bands/.compact_tmp2_0")))
    assert(IncrementalDedup.results(spark, out).count() == 2)
  }

  test("in-loop compaction (compactEvery) folds history inside the stream; verdicts unchanged") {
    val root = Files.createTempDirectory("graft_incr_autoc").toString
    val src = s"$root/src"; val bands = s"$root/bands"
    val out = s"$root/out"; val ckpt = s"$root/ckpt"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    def drop(rows: (Long, String)*): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(src)
    def runOnce(): Unit =
      IncrementalDedup.run(spark.readStream.schema(schema).parquet(src),
        cfg, bands, out, ckpt, compactEvery = 2).awaitTermination()
    def partDirs(): Seq[String] =
      Files.list(Paths.get(bands)).map[String](_.getFileName.toString)
        .filter(_.startsWith("ingest_batch=")).sorted.toArray.map(_.toString).toSeq
    val dup = "the quick brown fox jumps over the lazy dog every single day"

    drop(1L -> dup,
      2L -> "completely unrelated words describing some other topic entirely here")
    runOnce() // batch 0: id % 2 == 0 but id == 0 — nothing to fold yet
    drop(10L -> dup); runOnce() // batch 1: off-cadence
    assert(partDirs() == Seq("ingest_batch=0", "ingest_batch=1"))
    drop(20L -> dup); runOnce() // batch 2: appends, then folds {0, 1}
    assert(partDirs() == Seq("ingest_batch=1", "ingest_batch=2"),
      "the loop itself must have folded batches 0 and 1")
    val v20 = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 20L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v20.getLong(0), v20.getLong(1), v20.getBoolean(2)) == ((1L, 2L, true)))

    // replay of the compacting batch: the fold below id 2 finds one
    // partition — a no-op — and the batch's own overwrite is the usual
    // idempotent one; layout and verdicts must not move
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/2")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.2.crc"))
    runOnce()
    assert(partDirs() == Seq("ingest_batch=1", "ingest_batch=2"))
    assert(IncrementalDedup.results(spark, out).count() == 4) // docs 1, 2, 10, 20 — no dup rows

    // the loop keeps composing on the folded store
    drop(30L -> dup); runOnce() // batch 3: off-cadence
    val v30 = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 30L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v30.getLong(0), v30.getLong(1), v30.getBoolean(2)) == ((1L, 3L, true)))

    // SELF-HEAL: a crash while a previous turn staged a fold leaves a
    // torn stage every read fails fast on — the next turn must clear
    // it itself and proceed, not wedge behind an out-of-band repair
    val stage = Paths.get(s"$bands/.compact_tmp_9")
    Files.createDirectory(stage)
    Files.write(stage.resolve("part-torn.parquet"), Array[Byte](1))
    drop(40L -> dup); runOnce() // batch 4: recovers, then ingests
    assert(!Files.exists(stage), "the torn stage must be discarded by the loop")
    val v40 = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 40L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v40.getLong(0), v40.getLong(1), v40.getBoolean(2)) == ((1L, 4L, true)))

    // a COMMITTED stage — parquet _SUCCESS plus its `_FOLDED` coverage
    // manifest, the marker pair that arms the swap — with its originals
    // already deleted (crash after compactBandStore's deletes, before
    // its rename) must be completed — not discarded — by the next
    // turn's in-loop recovery (batch 4's own fold left the store at
    // {3, 4})
    spark.read.option("basePath", bands)
      .parquet(s"$bands/ingest_batch=3", s"$bands/ingest_batch=4")
      .drop("ingest_batch")
      .write.mode("overwrite").parquet(s"$bands/.compact_tmp_4")
    Files.write(Paths.get(s"$bands/.compact_tmp_4/_FOLDED"),
      "2\n3\n4\nEND".getBytes("UTF-8"))
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=3"))
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=4"))
    drop(50L -> dup); runOnce() // batch 5: completes the swap, then ingests
    assert(partDirs() == Seq("ingest_batch=4", "ingest_batch=5"),
      s"swap must be completed in-loop: ${partDirs()}")
    val v50 = IncrementalDedup.results(spark, out)
      .filter(col("doc_id") === 50L)
      .select("first_match", "n_matches", "is_dup").collect().head
    assert((v50.getLong(0), v50.getLong(1), v50.getBoolean(2)) == ((1L, 5L, true)))
  }

  test("compaction recovery deletes only what the manifest covers; a replay-recommitted partition survives; an invalid manifest fails fast") {
    val root = Files.createTempDirectory("graft_incr_manifest").toString
    val bands = s"$root/bands"
    def part(b: Int, rows: (Long, Int, String)*): Unit =
      rows.toDF("doc_id", "band", "bsig").write.mode("overwrite")
        .parquet(s"$bands/ingest_batch=$b")
    def partDirs(): Set[String] =
      Files.list(Paths.get(bands)).map[String](_.getFileName.toString)
        .filter(_.startsWith("ingest_batch=")).toArray.map(_.toString).toSet
    def storedIds(): Set[Long] =
      IncrementalDedup.seenBands(spark, bands, Long.MaxValue).get
        .select("doc_id").as[Long].collect().toSet

    part(0, (1L, 0, "a")); part(1, (2L, 0, "b")); part(2, (3L, 0, "c"))
    // batch 1 was torn at stage time (no commit marker) — the fold
    // below therefore covers only {0, 2}
    Files.deleteIfExists(Paths.get(s"$bands/ingest_batch=1/_SUCCESS"))
    Files.deleteIfExists(Paths.get(s"$bands/ingest_batch=1/._SUCCESS.crc"))

    // the fold of {0, 2} staged with its manifest, crashed after its
    // deletes but before the rename
    spark.read.option("basePath", bands)
      .parquet(s"$bands/ingest_batch=0", s"$bands/ingest_batch=2")
      .drop("ingest_batch")
      .write.mode("overwrite").parquet(s"$bands/.compact_tmp_2")
    Files.write(Paths.get(s"$bands/.compact_tmp_2/_FOLDED"),
      "2\n0\n2\nEND".getBytes("UTF-8"))
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=0"))
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=2"))

    // batch 1's checkpoint replay recommits it BETWEEN the crash and
    // recovery — the loss window the manifest protocol closes
    part(1, (2L, 0, "b"))

    // upToBatch=0 makes the fold step a no-op, so this call is exactly
    // the recovery: it must complete the swap by deleting ONLY the
    // manifest's partitions — a target-scoped `id <= 2` delete would
    // have destroyed the recommitted batch 1 unrecoverably
    assert(IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0) == 0)
    assert(partDirs() == Set("ingest_batch=1", "ingest_batch=2"),
      s"recommitted partition must survive recovery: ${partDirs()}")
    assert(storedIds() == Set(1L, 2L, 3L), "no band row may be lost")

    // a parquet-committed stage WITHOUT a valid manifest is ambiguous
    // (pre-arm crash vs pre-manifest-protocol crash whose deletes
    // already ran): recovery must FAIL FAST, never guess destructively
    // — a truncated manifest counts as invalid (FoldManifest commits
    // by atomic rename, so truncation is outside-protocol evidence)
    spark.read.option("basePath", bands)
      .parquet(s"$bands/ingest_batch=1", s"$bands/ingest_batch=2")
      .drop("ingest_batch")
      .write.mode("overwrite").parquet(s"$bands/.compact_tmp_5")
    Files.write(Paths.get(s"$bands/.compact_tmp_5/_FOLDED"),
      "2\n1\n2".getBytes("UTF-8"))
    val err = intercept[IllegalStateException](
      IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0))
    assert(err.getMessage.contains("malformed"))
    assert(Files.exists(Paths.get(s"$bands/.compact_tmp_5")),
      "the ambiguous stage must be left for manual resolution")
    assert(partDirs() == Set("ingest_batch=1", "ingest_batch=2"))
    // reads fail fast while the stage is pending (seenBands' guard);
    // manual resolution (originals all present → discard) unblocks
    intercept[Exception](storedIds())
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$bands/.compact_tmp_5"))
    assert(IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0) == 0)
    assert(storedIds() == Set(1L, 2L, 3L))
  }

  test("unarmed v2 stage auto-discards; legacy ambiguous stage resolves via bands-resolve with content-verified safety") {
    val root = Files.createTempDirectory("graft_incr_resolve").toString
    val bands = s"$root/bands"
    def part(b: Int, rows: (Long, Int, String)*): Unit =
      rows.toDF("doc_id", "band", "bsig").write.mode("overwrite")
        .parquet(s"$bands/ingest_batch=$b")
    def partDirs(): Set[String] =
      Files.list(Paths.get(bands)).map[String](_.getFileName.toString)
        .filter(_.startsWith("ingest_batch=")).toArray.map(_.toString).toSet
    def stageOf(prefixed: String, ids: Int*): Unit =
      spark.read.option("basePath", bands)
        .parquet(ids.map(b => s"$bands/ingest_batch=$b"): _*)
        .drop("ingest_batch")
        .write.mode("overwrite").parquet(s"$bands/$prefixed")

    part(0, (1L, 0, "a")); part(1, (2L, 0, "b")); part(2, (3L, 0, "c"))

    // (a) v2 stage, parquet-committed, manifest never armed: the
    // version stamp PROVES deletes never started — recovery discards
    // it unattended instead of wedging the loop behind a human
    stageOf(".compact_tmp2_1", 0, 1)
    assert(IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0) == 0)
    assert(!Files.exists(Paths.get(s"$bands/.compact_tmp2_1")),
      "unarmed v2 stage must be auto-discarded")
    assert(partDirs() == Set("ingest_batch=0", "ingest_batch=1", "ingest_batch=2"))

    // (a') v2 stage whose manifest EXISTS but is malformed: this is NOT
    // "never armed" — arming committed and storage mangled the bytes,
    // so the deletes may have run. Auto-discard here would destroy
    // what may be the only copy; recovery must fail fast instead
    stageOf(".compact_tmp2_1", 0, 1)
    Files.write(Paths.get(s"$bands/.compact_tmp2_1/_FOLDED"),
      "2\n0".getBytes("UTF-8"))
    val mangled = intercept[IllegalStateException](
      IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0))
    assert(mangled.getMessage.contains("malformed"))
    assert(Files.exists(Paths.get(s"$bands/.compact_tmp2_1")),
      "a mangled-manifest v2 stage must never be auto-discarded")
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$bands/.compact_tmp2_1"))

    // (b) LEGACY ambiguous stage with all originals intact: automated
    // recovery must still fail fast; the resolve verb verifies every
    // stage row is present among the live partitions, then discards
    stageOf(".compact_tmp_1", 0, 1)
    intercept[IllegalStateException](
      IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0))
    assert(graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "discard"))
      .exists(_.startsWith("discarded")))
    assert(partDirs() == Set("ingest_batch=0", "ingest_batch=1", "ingest_batch=2"))
    assert(IncrementalDedup.compactBandStore(spark, bands, upToBatch = 0) == 0)

    // (c) LEGACY stage whose deletes already RAN (covered originals 0
    // and 2 gone), plus batch 1 recommitted by a replay after the
    // stage was cut: discard must REFUSE (the stage is the only copy
    // of rows 1 and 3); complete keeps the unsubsumed recommitted
    // partition and renames the stage in — no row lost, none doubled
    stageOf(".compact_tmp_2", 0, 2)
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=0"))
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=2"))
    part(1, (2L, 0, "b")) // replay-recommitted between crash and resolution
    val refused = graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "--discard"))
    assert(refused.isLeft && refused.swap.exists(_.contains("ABSENT")),
      s"discard must refuse when stage rows are missing from live partitions: $refused")
    val done = graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "complete"))
    assert(done.exists(_.startsWith("completed")), s"$done")
    assert(partDirs() == Set("ingest_batch=1", "ingest_batch=2"),
      s"recommitted partition must survive completion: ${partDirs()}")
    assert(IncrementalDedup.seenBands(spark, bands, Long.MaxValue).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L),
      "no band row may be lost through resolution")

    // nothing ambiguous left → the verb says so
    assert(graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "complete")).isLeft)
    // bad mode → usage path
    assert(graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "nuke")).isLeft)
  }

  test("bands-resolve complete never nests the stage into an existing target partition") {
    val root = Files.createTempDirectory("graft_incr_nest").toString
    val bands = s"$root/bands"
    def part(b: Int, rows: (Long, Int, String)*): Unit =
      rows.toDF("doc_id", "band", "bsig").write.mode("overwrite")
        .parquet(s"$bands/ingest_batch=$b")
    def stageOf(prefixed: String, ids: Int*): Unit =
      spark.read.option("basePath", bands)
        .parquet(ids.map(b => s"$bands/ingest_batch=$b"): _*)
        .drop("ingest_batch")
        .write.mode("overwrite").parquet(s"$bands/$prefixed")
    import org.apache.commons.io.FileUtils

    // (1) committed-but-UNSUBSUMED target: legacy stage of {1, 2}
    // crashed post-delete, then batch 2 was recommitted with a row the
    // stage does not contain. Hadoop rename into the existing dir
    // returns true and NESTS the stage (silent loss of the fold) —
    // completion must refuse instead
    part(1, (1L, 0, "a")); part(2, (2L, 0, "b"))
    stageOf(".compact_tmp_2", 1, 2)
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=1"))
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=2"))
    part(2, (2L, 0, "b"), (9L, 0, "z")) // recommit with an extra row
    val refused = graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "complete"))
    assert(refused.isLeft && refused.swap.exists(_.contains("inspect by hand")),
      s"completion must refuse a committed unsubsumed target: $refused")
    assert(Files.exists(Paths.get(s"$bands/.compact_tmp_2")) &&
      !Files.exists(Paths.get(s"$bands/ingest_batch=2/.compact_tmp_2")),
      "the stage must be neither lost nor nested")

    // (2) TORN target (no _SUCCESS): never committed, invisible to
    // readers, its writer will replay — completion clears it and swaps
    FileUtils.deleteDirectory(new java.io.File(s"$bands/ingest_batch=2"))
    part(2, (9L, 9, "torn"))
    Files.deleteIfExists(Paths.get(s"$bands/ingest_batch=2/_SUCCESS"))
    Files.deleteIfExists(Paths.get(s"$bands/ingest_batch=2/._SUCCESS.crc"))
    val done = graft.Ctl.run(spark, root, "bands-resolve", Array("bands", "complete"))
    assert(done.exists(_.startsWith("completed")), s"$done")
    assert(IncrementalDedup.seenBands(spark, bands, Long.MaxValue).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
      "the folded history must be live after clearing the torn target")
  }

  test("stored candidates + verify + groups equal the batch recompute over the union corpus") {
    val root = Files.createTempDirectory("graft_incr_groups").toString
    val src = s"$root/src"
    // two cross-drop dups of doc 1, one same-drop dup pair (5, 6) the
    // per-batch verdicts never probe, one singleton
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog every single day",
      2L -> "completely unrelated words describing some other topic entirely here",
      5L -> "identical twins landing together in one and the same crawl drop",
      6L -> "identical twins landing together in one and the same crawl drop",
      10L -> "the quick brown fox jumps over the lazy dog every single day")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    Seq(Seq(1L, 2L), Seq(5L, 6L), Seq(10L)).foreach { ids =>
      corpus.filter(r => ids.contains(r._1)).toDF("doc_id", "text")
        .write.mode("append").parquet(src)
      IncrementalDedup.run(spark.readStream.schema(schema).parquet(src),
        cfg, s"$root/bands", s"$root/out", s"$root/ckpt").awaitTermination()
    }
    val docs = corpus.toDF("doc_id", "text")
    val stored = IncrementalDedup.storedCandidatePairs(spark, s"$root/bands", "doc_id")
      .as[(Long, Long)].collect().toSet
    // same-batch pair (5,6) surfaces even though no verdict probed it
    assert(stored.contains((5L, 6L)) && stored.contains((1L, 10L)))
    val recomputed = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 2).as[(Long, Long)].collect().toSet
    assert(stored == recomputed, "store self-join must equal the corpus band self-join")

    val groups = Dedup.keepBestPerGroup(docs,
        Dedup.verifyCandidatePairs(docs,
          IncrementalDedup.storedCandidatePairs(spark, s"$root/bands", "doc_id"),
          "doc_id", "text", shingleN = 3, threshold = 0.8),
        "doc_id", graft.functions.TextFunctions.qualityScore(col("text")))
      .select("doc_id", "keep_id").as[(Long, Long)].collect().toMap
    assert(groups(5L) == groups(6L) && groups(1L) == groups(10L))
    assert(groups(2L) == 2L)
  }

  test("a torn verdict partition is invisible to results() until its replay commits") {
    val root = Files.createTempDirectory("graft_incr_torn").toString
    Seq((1L, 0L, Option.empty[Long], 0L, false))
      .toDF("doc_id", "pad", "first_match", "n_matches", "is_dup").drop("pad")
      .write.parquet(s"$root/out/ingest_batch=0")
    Seq((2L, 0L, Option.empty[Long], 0L, false))
      .toDF("doc_id", "pad", "first_match", "n_matches", "is_dup").drop("pad")
      .write.parquet(s"$root/out/ingest_batch=1")
    assert(IncrementalDedup.results(spark, s"$root/out")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // crash mid-write: partition 1 lost its commit marker
    Files.deleteIfExists(Paths.get(s"$root/out/ingest_batch=1/_SUCCESS"))
    Files.deleteIfExists(Paths.get(s"$root/out/ingest_batch=1/._SUCCESS.crc"))
    assert(IncrementalDedup.results(spark, s"$root/out")
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("seenBands excludes the replaying batch's own partition and handles a missing store") {
    val root = Files.createTempDirectory("graft_incr_seen").toString
    assert(IncrementalDedup.seenBands(spark, s"$root/nope", 5L).isEmpty)
    Seq((1L, 0, "x")).toDF("doc_id", "band", "bsig")
      .write.parquet(s"$root/st/ingest_batch=0")
    Seq((2L, 0, "y")).toDF("doc_id", "band", "bsig")
      .write.parquet(s"$root/st/ingest_batch=1")
    val seen = IncrementalDedup.seenBands(spark, s"$root/st", 1L).get
    assert(seen.select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(IncrementalDedup.seenBands(spark, s"$root/st", 0L).isEmpty)
  }

  test("bucket-min verdict == pair verdict on first_match, without materializing pairs") {
    // one LARGE dup group (40 members) + unique docs: the pair form
    // emits 40 seen ids per new dup; the bucket form must reach the
    // same min through |buckets| rows
    val docs = (1L to 60L).map { i =>
      if (i % 3 != 0) (i, "shared boilerplate sentence repeated across the whole crawl corpus")
      else (i, s"unique document number $i with words resembling nothing else at all")
    }.toDF("doc_id", "text")
    val newB = Dedup.bandFrame(Dedup.shingleSet(docs.filter(col("doc_id") > 50L), "doc_id", "text", 3),
      "doc_id", 8, 2)
    val seenB = Dedup.bandFrame(Dedup.shingleSet(docs.filter(col("doc_id") <= 50L), "doc_id", "text", 3),
      "doc_id", 8, 2)
    val viaPairs = Dedup.incrementalLshPairsFromBands(newB, seenB, "doc_id")
      .groupBy(col("new_id")).agg(min(col("seen_id")).as("first_match"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBuckets = Dedup.incrementalLshFirstMatchFromBands(newB, seenB, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPairs.nonEmpty && viaBuckets == viaPairs)
  }

  test("exactCounts=false loop: identical first_match/is_dup per drop, n_matches NULL") {
    def loop(root: String, exact: Boolean): Map[Long, (Option[Long], Boolean)] = {
      val c = cfg.copy(exactCounts = exact)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      Seq.tabulate(3) { k =>
        (k * 10L + 1 to k * 10L + 6).map { i =>
          if (i % 2 == 0) (i, "template boilerplate text shared by every second document in the crawl")
          else (i, s"one-off document $i that matches nothing else in any drop at all")
        }
      }.foreach { rows =>
        rows.toDF("doc_id", "text").write.mode("append").parquet(s"$root/src")
        IncrementalDedup.run(
          spark.readStream.schema(schema).parquet(s"$root/src"),
          c, s"$root/bands", s"$root/out", s"$root/ckpt",
          compactEvery = 2).awaitTermination()
      }
      IncrementalDedup.results(spark, s"$root/out").collect().map { r =>
        if (!exact) assert(r.isNullAt(r.fieldIndex("n_matches")),
          s"lite verdict must surface n_matches as NULL, got row $r")
        r.getLong(r.fieldIndex("doc_id")) ->
          ((if (r.isNullAt(r.fieldIndex("first_match"))) None
            else Some(r.getLong(r.fieldIndex("first_match")))),
            r.getBoolean(r.fieldIndex("is_dup")))
      }.toMap
    }
    val exactRoot = Files.createTempDirectory("graft_incr_exact").toString
    val liteRoot = Files.createTempDirectory("graft_incr_lite").toString
    val e = loop(exactRoot, exact = true)
    val l = loop(liteRoot, exact = false)
    assert(e == l)
    assert(e.values.exists(_._2) && e.values.exists(!_._2)) // both verdicts occur
  }
}
