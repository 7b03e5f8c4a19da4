package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Persisted IVF-PQ index: serve-from-disk must be bit-identical to
  * the rebuild-per-query path, and the serving plan must contain no
  * training subtree — its only corpus access is the probe fetch. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 12 deterministic 8-dim vectors in two obvious clusters
  private lazy val emb = {
    val rows = (0L until 12L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array.tabulate(8)(d => base * (1.0f + 0.01f * (i + d))))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("serveIvfPq from a persisted index equals the recompute composition") {
    val dir = Files.createTempDirectory("annix").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val ix = AnnIndex.load(spark, dir)
    val probe = emb.filter(col("vec_id") === 0)

    val served = AnnIndex.serveIvfPq(ix, probe, "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 2, topK = 5)
      .as[(Long, Double)].collect().toSeq

    // the recompute path: same composition but every artifact rebuilt
    val lists = Similarity.ivfLists(emb, "vec_id", "embedding", nCentroids = 4)
    val probeB = Similarity.ivfProbeLists(emb, "vec_id", "embedding",
      nCentroids = 4, nProbe = 2, probeId = 0)
    val cand = lists.join(broadcast(probeB), Seq("bucket")).select(col("vec_id"))
    val cb = Quantize.pqCodebooks(emb, "vec_id", "embedding", dim = 8, m = 2, k = 4)
    val codes = Quantize.pqEncode(emb, cb, "vec_id", "embedding", dim = 8, m = 2)
      .join(cand, Seq("vec_id"), "left_semi")
    val recomputed = Quantize.pqAdcTopK(codes, cb, probe,
        "vec_id", "embedding", dim = 8, m = 2, topK = 5)
      .as[(Long, Double)].collect().toSeq

    assert(served == recomputed)
    assert(served.nonEmpty)
  }

  test("appendVectors extends the index bit-identically to a full rebuild") {
    // the first 6 ids include the k lowest, so the prefix-initialized
    // codebooks/centroids of the partial build equal the full build's —
    // append-then-serve must therefore match rebuild-then-serve exactly
    val dirA = Files.createTempDirectory("annix_app").toString
    val dirB = Files.createTempDirectory("annix_full").toString
    val low = emb.filter(col("vec_id") < 6)
    val high = emb.filter(col("vec_id") >= 6)

    AnnIndex.buildIvfPq(low, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dirA)
    AnnIndex.appendVectors(spark, dirA, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    // a RETRY of the same ingest overwrites its own partition — no
    // duplicate code rows can reach the scorer
    AnnIndex.appendVectors(spark, dirA, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dirB)

    val probe = emb.filter(col("vec_id") === 0)
    def serve(dir: String) =
      AnnIndex.serveIvfPq(AnnIndex.load(spark, dir), probe, "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 2, topK = 8).as[(Long, Double)].collect().toSeq
    val appended = serve(dirA)
    val rebuilt = serve(dirB)
    assert(appended == rebuilt)
    // the appended index must actually contain the new vectors
    assert(appended.exists(_._1 >= 6), s"high-id vectors missing from results: $appended")
  }

  test("batch serve with a single probe equals the single-probe serve path") {
    val dir = Files.createTempDirectory("annix_batch").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val ix = AnnIndex.load(spark, dir)
    val probe = emb.filter(col("vec_id") === 0)
    val single = AnnIndex.serveIvfPq(ix, probe, "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 2, topK = 5)
      .as[(Long, Double)].collect().toSeq
    val batch = AnnIndex.serveIvfPqBatch(ix, probe, "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 2, topK = 5, excludeSelf = false)
      .orderBy(col("rk"))
      .select(col("vec_id"), col("adc_dist"))
      .as[(Long, Double)].collect().toSeq
    assert(batch == single)
  }

  test("a torn append (one artifact uncommitted) is invisible until its retry commits it") {
    val dir = Files.createTempDirectory("annix_torn").toString
    val low = emb.filter(col("vec_id") < 6)
    val high = emb.filter(col("vec_id") >= 6)
    AnnIndex.buildIvfPq(low, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val probe = emb.filter(col("vec_id") === 0)
    def servedIds(): Set[Long] =
      AnnIndex.serveIvfPq(AnnIndex.load(spark, dir), probe, "vec_id", "embedding",
          dim = 8, m = 2, nProbe = 4, topK = 12)
        .as[(Long, Double)].collect().map(_._1).toSet
    val baseOnly = servedIds()

    AnnIndex.appendVectors(spark, dir, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    // simulate a crash between the codes and lists writes: the lists
    // partition never committed
    import java.nio.file.Paths
    assert(Files.deleteIfExists(Paths.get(s"$dir/lists/ingest=drop1/_SUCCESS")))
    assert(servedIds() == baseOnly, "half an ingest must not be servable")
    // the retry overwrites both partitions and the ingest appears
    AnnIndex.appendVectors(spark, dir, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    assert(servedIds().exists(_ >= 6))
  }

  test("streaming ingest maintains the index across drops; crash replay is idempotent") {
    val root = Files.createTempDirectory("annix_stream").toString
    val ixDir = s"$root/ix"; val src = s"$root/src"; val ckpt = s"$root/ckpt"
    val low = emb.filter(col("vec_id") < 6)
    val mid = emb.filter(col("vec_id") >= 6 && col("vec_id") < 9)
    val high = emb.filter(col("vec_id") >= 9)

    // cycle start: base build on the initial corpus
    AnnIndex.buildIvfPq(low, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = ixDir)

    def runOnce(): Unit =
      AnnIndex.runIngest(
        spark.readStream.schema(emb.schema).parquet(src),
        ixDir, "vec_id", "embedding", dim = 8, m = 2, checkpointDir = ckpt)
        .awaitTermination()
    def served(): Seq[(Long, Double)] =
      AnnIndex.serveIvfPq(AnnIndex.load(spark, ixDir),
          emb.filter(col("vec_id") === 0), "vec_id", "embedding",
          dim = 8, m = 2, nProbe = 4, topK = 12)
        .as[(Long, Double)].collect().toSeq

    mid.write.mode("append").parquet(src); runOnce()
    high.write.mode("append").parquet(src); runOnce()

    // all three generations of vectors are now servable
    val full = served()
    assert(full.map(_._1).toSet == (0L until 12L).toSet)
    // equals a rebuild under the same quantizers (low holds the k
    // lowest ids, so a full-corpus build trains identically)
    val rebuilt = Files.createTempDirectory("annix_rebuild").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = rebuilt)
    val ref = AnnIndex.serveIvfPq(AnnIndex.load(spark, rebuilt),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 4, topK = 12)
      .as[(Long, Double)].collect().toSeq
    assert(full == ref)

    // crash replay: drop the last commit marker — the replayed batch
    // overwrites its own ingest partition, no duplicate codes
    import java.nio.file.Paths
    assert(Files.deleteIfExists(Paths.get(s"$ckpt/commits/1")))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.1.crc"))
    runOnce()
    assert(served() == full)
    val codes = spark.read.parquet(s"$ixDir/codes")
    assert(codes.count() == codes.dropDuplicates("vec_id", "sub").count())
  }

  // build on ids<6 (the k lowest: quantizers equal a full build's),
  // then three two-vector ingests under streaming batch tags
  private def buildWithDrops(dir: String): Unit = {
    AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 6), "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    Seq(0L -> (6L, 8L), 1L -> (8L, 10L), 2L -> (10L, 12L)).foreach {
      case (b, (lo, hi)) =>
        AnnIndex.appendVectors(spark, dir,
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
          "vec_id", "embedding", dim = 8, m = 2, ingestTag = s"batch_$b")
    }
  }

  private def serveAll(dir: String): Seq[(Long, Double)] =
    AnnIndex.serveIvfPq(AnnIndex.load(spark, dir),
        emb.filter(col("vec_id") === 0), "vec_id", "embedding",
        dim = 8, m = 2, nProbe = 4, topK = 12)
      .as[(Long, Double)].collect().toSeq

  private def ingestDirs(dir: String, artifact: String): Set[String] =
    new java.io.File(s"$dir/$artifact").listFiles().toSeq
      .filter(_.isDirectory).map(_.getName).toSet

  test("compactIngests folds drop partitions; the compacted index serves hash-identically") {
    val dir = Files.createTempDirectory("annix_compact").toString
    buildWithDrops(dir)
    val before = serveAll(dir)
    assert(before.map(_._1).toSet == (0L until 12L).toSet)

    // fold batches 0 and 1 (2 is the replayable head — stays out)
    assert(AnnIndex.compactIngests(spark, dir, upToBatch = 2L) == 2)
    assert(serveAll(dir) == before)
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) == Set("ingest=base", "ingest=batch_1", "ingest=batch_2"),
        s"unexpected $a layout")
    }
    // folded partitions re-fold with later drops on the next cycle
    assert(AnnIndex.compactIngests(spark, dir, upToBatch = 3L) == 2)
    assert(serveAll(dir) == before)
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) == Set("ingest=base", "ingest=batch_2"))
    }
    // nothing left to fold
    assert(AnnIndex.compactIngests(spark, dir, upToBatch = 3L) == 0)
  }

  test("compactIfFragmented folds only past the ceiling, and both directions serve identically") {
    val dir = Files.createTempDirectory("annix_autocompact").toString
    buildWithDrops(dir)
    val before = serveAll(dir)

    // HOLD: 2 fold-eligible batches (0, 1) <= ceiling 2 — artifacts untouched
    val hold = AnnIndex.compactIfFragmented(spark, dir, maxIngests = 2, upToBatch = 2L)
    assert(!hold.compacted && hold.standingBatches == 2 && hold.folded == 0)
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) ==
        Set("ingest=base", "ingest=batch_0", "ingest=batch_1", "ingest=batch_2"))
    }
    assert(serveAll(dir) == before)

    // FIRE: the same 2 standing exceed ceiling 1 — folded into batch_1
    val fire = AnnIndex.compactIfFragmented(spark, dir, maxIngests = 1, upToBatch = 2L)
    assert(fire.compacted && fire.standingBatches == 2 && fire.folded == 2)
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) ==
        Set("ingest=base", "ingest=batch_1", "ingest=batch_2"))
    }
    assert(serveAll(dir) == before)

    // a zero ceiling is a config error, not "always fold"
    intercept[IllegalArgumentException](
      AnnIndex.compactIfFragmented(spark, dir, maxIngests = 0, upToBatch = 3L))
  }

  test("index-autocompact self-heals a crashed prior fold before probing") {
    val dir = Files.createTempDirectory("annix_heal_probe").toString
    buildWithDrops(dir)
    val before = serveAll(dir)
    // crash WHILE STAGING a prior fold: a stage dir without _SUCCESS.
    // The probe used to fail fast on it (through committedTags) while
    // only the fold itself ran recovery — so the cron verb wedged
    // permanently on its own prior crash until a manual compactIngests.
    def tear(): java.io.File = {
      val torn = new java.io.File(s"$dir/codes/.compact_tmp_1")
      assert(torn.mkdir())
      java.nio.file.Files.write(torn.toPath.resolve("part-torn.parquet"), Array[Byte](1))
      torn
    }
    val torn = tear()
    val hold = AnnIndex.compactIfFragmented(spark, dir, maxIngests = 2, upToBatch = 2L)
    assert(!hold.compacted && hold.standingBatches == 2 && hold.folded == 0)
    assert(!torn.exists(), "the unarmed stage must be discarded by the heal")
    assert(serveAll(dir) == before)
    // and the fire direction folds normally after healing a fresh tear
    val torn2 = tear()
    val fire = AnnIndex.compactIfFragmented(spark, dir, maxIngests = 1, upToBatch = 2L)
    assert(fire.compacted && fire.folded == 2 && !torn2.exists())
    assert(serveAll(dir) == before)
  }

  test("a torn compaction stage fails serving fast and is discarded, not served") {
    val dir = Files.createTempDirectory("annix_compact_torn").toString
    buildWithDrops(dir)
    val before = serveAll(dir)

    // crash WHILE STAGING: a stage dir without _SUCCESS (no original
    // partition was touched yet, by the swap-after-stage discipline)
    val torn = new java.io.File(s"$dir/codes/.compact_tmp_1")
    assert(torn.mkdir())
    java.nio.file.Files.write(torn.toPath.resolve("part-torn.parquet"), Array[Byte](1))
    val e = intercept[Exception](AnnIndex.load(spark, dir))
    assert(e.getMessage.contains("unfinished compaction"))

    // re-running the compactor discards the torn stage and folds cleanly
    assert(AnnIndex.compactIngests(spark, dir, upToBatch = 2L) == 2)
    assert(serveAll(dir) == before)
  }

  test("a crash mid-swap (stages committed, one artifact swapped) recovers to the folded layout") {
    val dir = Files.createTempDirectory("annix_compact_swap").toString
    buildWithDrops(dir)
    val before = serveAll(dir)

    // reproduce the compactor's staging step for batches 0 and 1 —
    // including the _FOLDED manifests whose presence arms the swap...
    Seq("codes", "lists").foreach { a =>
      spark.read.option("basePath", s"$dir/$a")
        .parquet(s"$dir/$a/ingest=batch_0", s"$dir/$a/ingest=batch_1")
        .drop("ingest")
        .write.mode("overwrite").parquet(s"$dir/$a/.compact_tmp_1")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/$a/.compact_tmp_1/_FOLDED"),
        "2\n0\n1\nEND".getBytes("UTF-8"))
    }
    // ...then crash after codes' deletes but before its rename (lists
    // untouched): history for batches 0/1 of codes lives ONLY in the stage
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$dir/codes/ingest=batch_0"))
    FileUtils.deleteDirectory(new java.io.File(s"$dir/codes/ingest=batch_1"))
    intercept[Exception](AnnIndex.load(spark, dir))

    // recovery completes BOTH swaps (committed stages are always safe)
    AnnIndex.compactIngests(spark, dir, upToBatch = 2L)
    assert(serveAll(dir) == before)
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) == Set("ingest=base", "ingest=batch_1", "ingest=batch_2"))
    }
  }

  test("compaction recovery deletes only what the stage covers: a half-committed append survives") {
    val dir = Files.createTempDirectory("annix_halfc").toString
    buildWithDrops(dir)
    val before = serveAll(dir)
    // batch_1's append crashed between its codes and lists writes:
    // committed in codes only — excluded from any fold
    import java.nio.file.Paths
    assert(Files.deleteIfExists(Paths.get(s"$dir/lists/ingest=batch_1/_SUCCESS")))

    // a fold of the committed-in-both set {0, 2} staged with its
    // manifests, crashed after codes' deletes but before the renames
    Seq("codes", "lists").foreach { a =>
      spark.read.option("basePath", s"$dir/$a")
        .parquet(s"$dir/$a/ingest=batch_0", s"$dir/$a/ingest=batch_2")
        .drop("ingest")
        .write.mode("overwrite").parquet(s"$dir/$a/.compact_tmp_2")
      java.nio.file.Files.write(Paths.get(s"$dir/$a/.compact_tmp_2/_FOLDED"),
        "2\n0\n2\nEND".getBytes("UTF-8"))
    }
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$dir/codes/ingest=batch_0"))
    FileUtils.deleteDirectory(new java.io.File(s"$dir/codes/ingest=batch_2"))

    AnnIndex.compactIngests(spark, dir, upToBatch = 3L) // recovery runs first
    // the half-committed tag's surviving artifact was NOT deleted
    // (k=1 <= target=2, but it's absent from the manifest)
    assert(ingestDirs(dir, "codes") == Set("ingest=base", "ingest=batch_1", "ingest=batch_2"))
    // and its same-tag retry completes the ingest — nothing was lost
    AnnIndex.appendVectors(spark, dir,
      emb.filter(col("vec_id") >= 8 && col("vec_id") < 10),
      "vec_id", "embedding", dim = 8, m = 2, ingestTag = "batch_1")
    assert(serveAll(dir) == before)
  }

  test("skipExisting drops already-indexed ids instead of double-counting their codes") {
    val dir = Files.createTempDirectory("annix_skip").toString
    val low = emb.filter(col("vec_id") < 6)
    val high = emb.filter(col("vec_id") >= 6)
    AnnIndex.buildIvfPq(low, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    AnnIndex.appendVectors(spark, dir, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    val before = serveAll(dir)

    // the same vectors arrive again under a DIFFERENT tag (late retry,
    // overlapping crawl): with the guard, nothing duplicates
    AnnIndex.appendVectors(spark, dir, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop2", skipExisting = true)
    assert(serveAll(dir) == before)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == codes.dropDuplicates("vec_id", "sub").count())

    // a SAME-tag retry of a fully-committed append with the guard on:
    // the probe must exclude the tag being overwritten — reading it
    // would both break the overwrite (read-from-write-target) and
    // anti-join the whole batch away, silently emptying the drop
    AnnIndex.appendVectors(spark, dir, high, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1", skipExisting = true)
    assert(serveAll(dir) == before)
    assert(serveAll(dir).map(_._1).toSet.exists(_ >= 6),
      "the retried drop's vectors must still be indexed")
  }

  test("runIngest with compactEvery folds drops in-loop; serving is unchanged") {
    val root = Files.createTempDirectory("annix_autoc").toString
    val ixDir = s"$root/ix"; val src = s"$root/src"; val ckpt = s"$root/ckpt"
    AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 6), "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = ixDir)
    def runOnce(): Unit =
      AnnIndex.runIngest(
        spark.readStream.schema(emb.schema).parquet(src),
        ixDir, "vec_id", "embedding", dim = 8, m = 2, checkpointDir = ckpt,
        compactEvery = 2)
        .awaitTermination()
    Seq((6L, 8L), (8L, 10L), (10L, 12L)).foreach { case (lo, hi) =>
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .write.mode("append").parquet(src)
      runOnce()
    }
    // batch 2's turn folded {batch_0, batch_1} after its own append
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(ixDir, a) == Set("ingest=base", "ingest=batch_1", "ingest=batch_2"),
        s"the loop itself must have folded $a's early drops")
    }
    // the compacted streamed index serves identically to a full rebuild
    // (base held the k lowest ids, so quantizers match)
    val served = serveAll(ixDir)
    val rebuilt = Files.createTempDirectory("annix_autoc_ref").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = rebuilt)
    assert(served == serveAll(rebuilt))
    assert(served.map(_._1).toSet == (0L until 12L).toSet)

    // SELF-HEAL: a torn stage from a crashed in-loop fold must be
    // cleared by the next turn itself (every index read fails fast on
    // it — including the turn's own appendVectors→load)
    val stage = java.nio.file.Paths.get(s"$ixDir/codes/.compact_tmp_9")
    Files.createDirectory(stage)
    java.nio.file.Files.write(stage.resolve("part-torn.parquet"), Array[Byte](1))
    emb.filter(col("vec_id") < 2)
      .select(col("vec_id") + 100, col("embedding")).toDF("vec_id", "embedding")
      .write.mode("append").parquet(src)
    runOnce() // batch 3: recovers, then appends
    assert(!java.nio.file.Files.exists(stage),
      "the torn stage must be discarded by the loop")
    // the new near-duplicate-of-the-probe vectors must be served
    // (topK=12 of the now-14 vectors cuts only the two farthest)
    val ids = serveAll(ixDir).map(_._1).toSet
    assert(ids.contains(100L) && ids.contains(101L), s"post-heal append missing: $ids")

    // ...and a COMMITTED stage (manifests armed, codes originals
    // already deleted — a crash mid-swap) must be COMPLETED by the
    // next turn through the same in-loop wiring, not just by an
    // out-of-band compactIngests call
    Seq("codes", "lists").foreach { a =>
      spark.read.option("basePath", s"$ixDir/$a")
        .parquet(s"$ixDir/$a/ingest=batch_1", s"$ixDir/$a/ingest=batch_2")
        .drop("ingest")
        .write.mode("overwrite").parquet(s"$ixDir/$a/.compact_tmp_2")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$ixDir/$a/.compact_tmp_2/_FOLDED"),
        "2\n1\n2\nEND".getBytes("UTF-8"))
    }
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(s"$ixDir/codes/ingest=batch_1"))
    FileUtils.deleteDirectory(new java.io.File(s"$ixDir/codes/ingest=batch_2"))
    emb.filter(col("vec_id") >= 2 && col("vec_id") < 4)
      .select(col("vec_id") + 200, col("embedding")).toDF("vec_id", "embedding")
      .write.mode("append").parquet(src)
    runOnce() // batch 4: completes the swap, appends, then (on-cadence)
              // folds the recovered {2} with {3} into batch_3
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(ixDir, a) == Set("ingest=base", "ingest=batch_3", "ingest=batch_4"),
        s"$a: ${ingestDirs(ixDir, a)}")
    }
    // nothing lost, nothing dropped: every generation is in the index
    val allCodes = spark.read.parquet(s"$ixDir/codes")
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(allCodes == ((0L until 12L) ++ Seq(100L, 101L, 202L, 203L)).toSet)
  }

  test("the ANN ingest loop's recovery refuses to discard a live out-of-band compactor's stage") {
    val root = Files.createTempDirectory("annix_leaseloop").toString
    val ixDir = s"$root/ix"; val src = s"$root/src"; val ckpt = s"$root/ckpt"
    AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 6), "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = ixDir)
    // an out-of-band `ctl index-compact` is MID-STAGING: its stage dir
    // stands (no manifest yet) and it holds the index lease. Recovery
    // without the lease would discard the live stage as a crash, and
    // the compactor would then arm and swap in a data-less stage.
    val stage = java.nio.file.Paths.get(s"$ixDir/codes/.compact_tmp_1")
    Files.createDirectory(stage)
    java.nio.file.Files.write(stage.resolve("part-torn.parquet"), Array[Byte](1))
    val h = StoreLease.acquire(spark, ixDir, "ops-hold")
    try {
      emb.filter(col("vec_id") >= 6 && col("vec_id") < 8).write.parquet(src)
      val e = intercept[Exception](
        AnnIndex.runIngest(spark.readStream.schema(emb.schema).parquet(src),
          ixDir, "vec_id", "embedding", dim = 8, m = 2, checkpointDir = ckpt,
          compactEvery = 2).awaitTermination())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("ops-hold")),
        s"expected a lease refusal naming the holder, got: ${chain(e)}")
      assert(Files.exists(stage), "the live compactor's stage must stay on disk")
    } finally StoreLease.release(spark, h)
  }

  // the base corpus offset to fresh ids, every coordinate shifted by
  // `delta` — tiny delta = the base distribution (healthy drop), large
  // delta = a moved distribution (drifted drop)
  private def shiftedEmb(delta: Float, idOffset: Long) =
    emb.select((col("vec_id") + idOffset).as("vec_id"),
      transform(col("embedding"), x => (x + lit(delta)).cast("float")).as("embedding"))

  test("retrainIfDrifted leaves a healthy index alone and rebuilds when an ingest drifts") {
    val dir = Files.createTempDirectory("annix_retrain").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val tag = (t: String, df: org.apache.spark.sql.DataFrame) =>
      df.select(lit(t).as("ingest"), col("vec_id"), col("embedding"))

    // healthy drop: the base distribution under new ids — audit passes,
    // nothing is rebuilt (the drop's append partition survives intact)
    val healthy = shiftedEmb(0.001f, 100L)
    AnnIndex.appendVectors(spark, dir, healthy, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop1")
    val before = serveAll(dir)
    val corpus1 = tag("base", emb).unionByName(tag("drop1", healthy))
    assert(AnnIndex.retrainIfDrifted(spark, dir, corpus1, "ingest",
      "vec_id", "embedding", dim = 8, m = 2, k = 4, nCentroids = 4).isEmpty)
    assert(ingestDirs(dir, "codes").contains("ingest=drop1"),
      "a passing audit must not touch the index")
    assert(serveAll(dir) == before)

    // drifted drop: the whole distribution moved — the audit names it
    // and the index is REBUILT over the current corpus (quantizers
    // retrained; append partitions cleared by the rebuild)
    val drifted = shiftedEmb(10.0f, 200L)
    AnnIndex.appendVectors(spark, dir, drifted, "vec_id", "embedding",
      dim = 8, m = 2, ingestTag = "drop2")
    val corpus2 = corpus1.unionByName(tag("drop2", drifted))
    assert(AnnIndex.retrainIfDrifted(spark, dir, corpus2, "ingest",
      "vec_id", "embedding", dim = 8, m = 2, k = 4, nCentroids = 4) == Seq("drop2"))
    Seq("codes", "lists").foreach { a =>
      assert(ingestDirs(dir, a) == Set("ingest=base"),
        "a rebuild re-homes every vector under the base partition")
    }
    // the retrained index equals a fresh build over the same corpus
    val fresh = Files.createTempDirectory("annix_retrain_ref").toString
    AnnIndex.buildIvfPq(corpus2, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = fresh)
    assert(serveAll(dir) == serveAll(fresh))
  }

  test("deleteVectors masks ids from every serve path; a rebuild purges the tombstones") {
    val dir = Files.createTempDirectory("annix_del").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val before = serveAll(dir)
    assert(before.map(_._1).toSet == (0L until 12L).toSet)

    AnnIndex.deleteVectors(spark, dir, Seq(2L, 4L).toDF("vec_id"),
      "vec_id", ingestTag = "del_1")
    val after = serveAll(dir)
    // exactly the dead ids vanish; every survivor's ADC score is
    // bit-unchanged (deletion only removes rows from the ranking)
    assert(after == before.filterNot(r => Set(2L, 4L)(r._1)))
    // ...and the whole-corpus ADC path (no IVF routing) masks too
    val ix = AnnIndex.load(spark, dir)
    val adcIds = AnnIndex.servePqAdc(ix, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", dim = 8, m = 2, topK = 12)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(!adcIds(2L) && !adcIds(4L))

    // a same-tag retry overwrites its own partition (idempotent), and
    // a second delete under a NEW tag unions with the first
    AnnIndex.deleteVectors(spark, dir, Seq(2L, 4L).toDF("vec_id"),
      "vec_id", ingestTag = "del_1")
    assert(serveAll(dir) == after)
    AnnIndex.deleteVectors(spark, dir, Seq(6L).toDF("vec_id"),
      "vec_id", ingestTag = "del_2")
    assert(serveAll(dir).map(_._1).toSet ==
      (0L until 12L).toSet -- Set(2L, 4L, 6L))

    // the rebuild indexes the post-delete corpus and spends the
    // deletion state: tombstones are purged, a formerly-dead id
    // re-ingested through the rebuild serves again
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "rebuild must clear the tombstone artifact")
    assert(serveAll(dir) == before)
  }

  test("a torn delete is invisible until its retry commits; appends refuse dead ids") {
    val dir = Files.createTempDirectory("annix_del_torn").toString
    AnnIndex.buildIvfPq(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val before = serveAll(dir)

    AnnIndex.deleteVectors(spark, dir, Seq(2L).toDF("vec_id"),
      "vec_id", ingestTag = "del_1")
    // crash before the commit marker: the delete must not serve
    import java.nio.file.Paths
    assert(Files.deleteIfExists(Paths.get(s"$dir/tombstones/ingest=del_1/_SUCCESS")))
    assert(serveAll(dir) == before, "an uncommitted delete must not mask")
    // the same-tag retry commits it
    AnnIndex.deleteVectors(spark, dir, Seq(2L).toDF("vec_id"),
      "vec_id", ingestTag = "del_1")
    assert(serveAll(dir) == before.filterNot(_._1 == 2L))

    // re-ingesting a dead id is refused loudly: the standing tombstone
    // would instantly mask the fresh codes — the append would silently
    // vanish at serve time
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendVectors(spark, dir,
        emb.filter(col("vec_id") === 2 || col("vec_id") === 10),
        "vec_id", "embedding", dim = 8, m = 2, ingestTag = "drop1")
    }
    assert(e.getMessage.contains("tombstoned"))

    // under skipExisting the dead id is dropped with the other settled
    // ids and the genuinely-new ones land
    AnnIndex.appendVectors(spark, dir,
      emb.filter(col("vec_id") === 2 || col("vec_id") >= 10),
      "vec_id", "embedding", dim = 8, m = 2, ingestTag = "drop1",
      skipExisting = true)
    val ids = serveAll(dir).map(_._1).toSet
    assert(ids(10L) && ids(11L) && !ids(2L), s"unexpected serve set: $ids")
  }

  test("the serving plan reads the index and touches the corpus only for the probe") {
    val dir = Files.createTempDirectory("annix_plan").toString
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, nCentroids = 4, dir = dir)
    val ix = AnnIndex.load(spark, dir)

    // a parquet-backed corpus so probe pushdown is visible in the plan
    val corpusDir = s"$dir/corpus"
    emb.write.parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val probe = corpus.filter(col("vec_id") === 0)

    val served = AnnIndex.serveIvfPq(ix, probe, "vec_id", "embedding",
      dim = 8, m = 2, nProbe = 2, topK = 5)
    val plan = served.queryExecution.executedPlan.toString

    // serves from the persisted artifacts...
    assert(plan.contains(s"$dir/codes"), "codes must be scanned from the index")
    assert(plan.contains(s"$dir/codebooks"), "codebooks must be scanned from the index")
    assert(plan.contains(s"$dir/lists"), "lists must be scanned from the index")
    // ...and every corpus scan is a pushed-down probe fetch — a
    // training subtree would need an unfiltered corpus scan
    val corpusScans = plan.linesIterator
      .filter(l => l.contains("corpus") && l.contains("PushedFilters")).toSeq
    assert(corpusScans.nonEmpty, "probe fetch must scan the corpus")
    corpusScans.foreach { l =>
      assert(l.contains("EqualTo(vec_id,0)"),
        s"corpus scan without probe pushdown (training subtree?): $l")
    }
  }
}
