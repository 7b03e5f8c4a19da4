package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import graft.operators.Dedup
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `crawl_drops`: rolling incremental dedup. Document drops land one at
  * a time, closed loop: the next drop lands when the previous
  * `IncrementalDedup.run` (AvailableNow, resumed from its checkpoint)
  * returns. The band store is compacted every few drops. At the end
  * `storedCandidatePairs`, `verifyCandidatePairs` and `keepBestPerGroup`
  * compose the groups, which must equal a batch `lshVerifiedPairs` +
  * `keepBestPerGroup` recompute over the same corpus. */
object CrawlDrops extends Workload {
  import DedupCommon._
  val name = "crawl_drops"
  val Drops = 20
  val Docs = 6000
  val CompactEvery = 5

  final case class In(staged: Seq[Path], docs: Array[Doc], planted: Map[(Long, Long), Double],
                      manifest: Map[String, Any])

  override def extraLayerUnits: Seq[(String, String)] = Seq(
    "streaming.incr.drop_s" -> "s",
    "streaming.incr.startup_ms" -> "ms",
    "streaming.incr.compact_s" -> "s",
    "streaming.incr.compose_s" -> "s",
    "streaming.incr.store_files" -> "count",
    "streaming.incr.store_bytes" -> "bytes",
    "streaming.incr.store_bytes_per_doc" -> "bytes")

  private val cfg = IncrementalDedup.Config(id = "doc_id", text = "text",
    shingleN = CorpusGen.ShingleN, numHashes = CorpusGen.NumHashes,
    rowsPerBand = CorpusGen.RowsPerBand)

  /** Drops are staged as JSON-lines files; landing one is an atomic
    * rename into the watched directory. */
  private def stage(dir: Path, seed: Long, docs: Array[Doc], n: Int): Seq[Path] = {
    val staged = Files.createDirectories(dir.resolve("staged"))
    CorpusGen.drops(seed, docs, n).zipWithIndex.map { case (ds, i) =>
      val f = staged.resolve(f"drop-$i%05d.json")
      val lines = ds.map(d => Json.encode(Map("doc_id" -> d.id, "text" -> d.text, "quality" -> d.quality)))
      Files.write(f, lines.toSeq.asJava, StandardCharsets.UTF_8)
      f
    }
  }

  def prepare(spark: SparkSession, dir: Path, seed: Long, seconds: Int): In = {
    val c = CorpusGen.generate(seed, Docs)
    val staged = stage(dir, seed, c.docs, Drops)
    val planted = Oracle.plantedPairs(c.docs, CorpusGen.ShingleN)
    val sizes = CorpusGen.drops(seed, c.docs, Drops).map(_.length)
    In(staged, c.docs, planted, c.manifest ++ Map(
      "drops" -> Drops, "drop_sizes" -> sizes, "compact_every" -> CompactEvery,
      "planted_pairs" -> planted.size,
      "planted_pairs_above_threshold" -> planted.count(_._2 > CorpusGen.Threshold),
      "planted_cross_drop_pairs" -> {
        val dropOf = CorpusGen.drops(seed, c.docs, Drops).zipWithIndex
          .flatMap { case (ds, i) => ds.map(_.id -> i) }.toMap
        planted.keys.count { case (a, b) => dropOf(a) != dropOf(b) }
      }))
  }

  def manifest(in: In): Map[String, Any] = in.manifest

  def warm(spark: SparkSession, dir: Path, in: In): Unit = {
    val c = CorpusGen.generate(13L, 150)
    loop(spark, In(stage(dir, 13L, c.docs, 3), c.docs, Map.empty, Map.empty),
      Tracer(spark, on = false), dir)
  }

  final case class LoopResult(dropS: Seq[Double], compactS: Seq[Double], composeS: Double,
                              pairs: DataFrame, keep: Map[Long, Long], src: String,
                              bandStore: String)

  /** Land every drop, run the ingest loop once per drop, compact every
    * few drops, then compose the groups. */
  private def loop(spark: SparkSession, in: In, tr: Tracer, dir: Path): LoopResult = {
    val src = Files.createDirectories(dir.resolve("drops"))
    val bandStore = dir.resolve("bands").toString
    val results = dir.resolve("results").toString
    val ckpt = dir.resolve("ckpt").toString
    val source = spark.readStream.schema(schema).json(src.toString)
    val dropS = mutable.ArrayBuffer.empty[Double]
    val compactS = mutable.ArrayBuffer.empty[Double]
    in.staged.zipWithIndex.foreach { case (f, i) =>
      Files.move(f, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val a = System.nanoTime()
      tr.span("streaming.incr.drop", "drop" -> i) {
        val t = tr.nowMs
        val q = IncrementalDedup.run(source, cfg, bandStore, results, ckpt)
        tr.started(q.runId, t)
        q.awaitTermination()
      }
      dropS += (System.nanoTime() - a) / 1e9
      if ((i + 1) % CompactEvery == 0 && i + 1 < in.staged.size) {
        val b = System.nanoTime()
        tr.span("streaming.incr.compact", "drop" -> i) {
          IncrementalDedup.compactBandStore(spark, bandStore, upToBatch = i + 1L)
        }
        compactS += (System.nanoTime() - b) / 1e9
      }
    }
    val a = System.nanoTime()
    val (pairs, keep) = tr.span("streaming.incr.compose") {
      val all = spark.read.schema(schema).json(src.toString)
      val cand = tr.span("streaming.incr.stored_candidates") {
        IncrementalDedup.storedCandidatePairs(spark, bandStore, "doc_id")
      }
      val pairs = tr.span("operators.dedup.verify") {
        Dedup.verifyCandidatePairs(all, cand, "doc_id", "text", CorpusGen.ShingleN,
          CorpusGen.Threshold)
      }
      (pairs, keepOf(tr.span("operators.dedup.keep_best")(keepBest(all, pairs))))
    }
    LoopResult(dropS.toSeq, compactS.toSeq, (System.nanoTime() - a) / 1e9, pairs, keep,
      src.toString, bandStore)
  }

  def run(spark: SparkSession, in: In, tr: Tracer, seconds: Int, ctx: Ctx): Outcome = {
    val dir = ctx.fresh("crawl")
    val r = loop(spark, in, tr, dir)
    val totalS = r.dropS.sum + r.compactS.sum + r.composeS

    // verdicts, outside the timed loop
    val composedPairs = pairsOf(r.pairs)
    val (recall, judged) = judge(in.docs, in.planted, composedPairs, r.keep, "composed")
    val all = spark.read.schema(schema).json(r.src)
    val batchPairsDf = verifiedPairs(all)
    val batchKeep = keepOf(keepBest(all, batchPairsDf))
    val batchPairs = pairsOf(batchPairsDf)
    val keepMiss = in.docs.count(d => r.keep.get(d.id) != batchKeep.get(d.id))
    val pairMiss = (composedPairs -- batchPairs).size + (batchPairs -- composedPairs).size
    val checks = judged ++ Seq(
      Check("composed_vs_batch.keep", in.docs.length.toLong, keepMiss.toLong,
        s"$keepMiss documents whose composed keep_id differs from the batch recompute"),
      Check("composed_vs_batch.pairs", batchPairs.size.toLong, pairMiss.toLong,
        s"${composedPairs.size} composed pairs vs ${batchPairs.size} batch pairs"),
      Check("drops", Drops.toLong, (Drops - r.dropS.size).toLong, s"${r.dropS.size} drops ingested"))

    val storeFiles = Files.walk(Path.of(r.bandStore)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    val storeBytes = storeFiles.map(Files.size).sum
    val e2e = Map(
      "items_per_s" -> in.docs.length / totalS,
      "latency_p50_ms" -> Stats.quantile(r.dropS, 0.5) * 1000,
      "recall" -> recall)
    val layer = if (!tr.on) Map.empty[String, Double] else {
      tr.drain()
      val startups = tr.queryStarts.toSeq.flatMap { case (run, at) =>
        tr.firstProgressMs.get(run).map(_ - at) }
      Map(
        "streaming.incr.drop_s" -> Stats.median(r.dropS),
        "streaming.incr.startup_ms" -> Stats.median(startups),
        "streaming.incr.compact_s" -> Stats.median(r.compactS),
        "streaming.incr.compose_s" -> r.composeS,
        "streaming.incr.store_files" -> storeFiles.size.toDouble,
        "streaming.incr.store_bytes" -> storeBytes.toDouble,
        "streaming.incr.store_bytes_per_doc" -> storeBytes.toDouble / in.docs.length)
    }
    Outcome(totalS, e2e, layer, checks, Map(
      "crawl_docs_per_s" -> in.docs.length / totalS,
      "crawl_drop_p50_s" -> Stats.quantile(r.dropS, 0.5),
      "dedup_recall" -> recall,
      "drop_s" -> r.dropS, "compact_s" -> r.compactS, "compose_s" -> r.composeS,
      "store_files" -> storeFiles.size, "store_bytes" -> storeBytes))
  }
}
