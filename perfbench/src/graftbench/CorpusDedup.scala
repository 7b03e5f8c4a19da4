package graftbench

import java.nio.file.Path
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Shared pieces of the two near-duplicate workloads. */
object DedupCommon {
  import CorpusGen._

  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING, quality DOUBLE")

  def frame(spark: SparkSession, docs: Array[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      docs.map(d => Row(d.id, d.text, d.quality)): _*), schema)

  def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  def keepOf(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap

  /** The batch composition the benchmark times. */
  def verifiedPairs(docs: DataFrame): DataFrame =
    Dedup.lshVerifiedPairs(docs, "doc_id", "text", ShingleN, NumHashes, RowsPerBand, Threshold)

  def keepBest(docs: DataFrame, pairs: DataFrame): Array[Row] =
    Dedup.keepBestPerGroup(docs, pairs, "doc_id", col("quality")).collect()

  /** Recall against the planted pairs whose exact Jaccard is above the
    * threshold, and the verdicts on a reported pair set and keep map:
    * every reported pair must be above the threshold by the oracle,
    * every group must lie inside one planted cluster, and every keep_id
    * must be the best member of its group. */
  def judge(docs: Array[Doc], planted: Map[(Long, Long), Double], pairs: Set[(Long, Long)],
            keep: Map[Long, Long], tag: String): (Double, Seq[Check]) = {
    val truth = planted.filter(_._2 > Threshold).keySet
    val recall = if (truth.isEmpty) 1.0 else truth.count(pairs.contains).toDouble / truth.size
    val byId = docs.map(d => d.id -> d).toMap
    val falsePairs = pairs.count { case (a, b) =>
      planted.get((a, b)) match {
        case Some(j) => j <= Threshold
        case None =>
          Oracle.jaccard(Oracle.shingles(byId(a).text, ShingleN),
            Oracle.shingles(byId(b).text, ShingleN)) <= Threshold
      }
    }
    val expectKeep = Oracle.keepIds(docs, pairs)
    val keepMiss = docs.count(d => keep.get(d.id) != expectKeep.get(d.id))
    val groups = keep.groupBy(_._2).values.map(_.keys)
    val mixed = groups.count(g => g.size > 1 && g.map(i => byId(i).cluster).toSet.size > 1)
    (recall, Seq(
      Check(s"$tag.pair_precision", pairs.size.toLong, falsePairs.toLong,
        s"${pairs.size} pairs reported, $falsePairs at or below the threshold by exact Jaccard"),
      Check(s"$tag.keep_best", docs.length.toLong, keepMiss.toLong,
        s"$keepMiss documents whose keep_id is not the best member of their group"),
      Check(s"$tag.planted_clusters", groups.size.toLong, mixed.toLong,
        s"$mixed groups spanning more than one planted cluster"),
      Check(s"$tag.recall", 1, 0,
        f"recall $recall%.4f over ${truth.size} planted pairs above the threshold")))
  }
}

/** `corpus_dedup`: the batch near-duplicate pass,
  * `Dedup.lshVerifiedPairs` then `Dedup.keepBestPerGroup`, repeated over
  * one generated corpus until the passes sum to `seconds`. A
  * traced run splits each pass at the Dedup stage boundaries (shingle,
  * band, candidate, verify, connected components, keep-best),
  * materializing each one so every stage reports its own time. */
object CorpusDedup extends Workload {
  import DedupCommon._
  val name = "corpus_dedup"
  val Docs = 6000
  val MinPasses = 3

  final case class In(path: String, docs: Array[Doc], planted: Map[(Long, Long), Double],
                      manifest: Map[String, Any])

  def prepare(spark: SparkSession, dir: Path, seed: Long, seconds: Int): In = {
    val c = CorpusGen.generate(seed, Docs)
    val path = dir.resolve("docs.parquet").toString
    frame(spark, c.docs).write.parquet(path)
    val planted = Oracle.plantedPairs(c.docs, CorpusGen.ShingleN)
    In(path, c.docs, planted, c.manifest ++ Map(
      "planted_pairs" -> planted.size,
      "planted_pairs_above_threshold" -> planted.count(_._2 > CorpusGen.Threshold)))
  }

  def manifest(in: In): Map[String, Any] = in.manifest

  def warm(spark: SparkSession, dir: Path, in: In): Unit = {
    val docs = spark.read.parquet(in.path)
    keepBest(docs, verifiedPairs(docs))
  }

  def run(spark: SparkSession, in: In, tr: Tracer, seconds: Int, ctx: Ctx): Outcome = {
    val passMs = mutable.ArrayBuffer.empty[Double]
    val stageS = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var counts = Map.empty[String, Double]
    var checks = Seq.empty[Check]
    var recall = Double.NaN
    while (passMs.size < MinPasses || passMs.sum / 1000.0 < seconds) {
      if (passMs.nonEmpty) Main.release(spark)
      val docs = spark.read.parquet(in.path)
      val a = System.nanoTime()
      val (pairs, keep) =
        if (!tr.on) {
          val p = verifiedPairs(docs)
          (p, keepBest(docs, p))
        } else tracedPass(docs, tr, passMs.size, stageS, c => counts = c)
      passMs += (System.nanoTime() - a) / 1e6
      if (checks.isEmpty) {
        // once per run, outside the timed pass
        val (r, cs) = judge(in.docs, in.planted, pairsOf(pairs), keepOf(keep), "pass")
        recall = r
        checks = cs
      }
    }
    val passes = passMs.toSeq
    val e2e = Map(
      "items_per_s" -> Docs / (Stats.median(passes) / 1000.0),
      "latency_p50_ms" -> Stats.quantile(passes, 0.5),
      "recall" -> recall)
    val layer = stageS.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ counts
    Outcome(Stats.median(passes) / 1000.0, e2e, layer, checks, Map(
      "dedup_docs_per_s" -> Docs / (Stats.median(passes) / 1000.0),
      "dedup_recall" -> recall,
      "passes" -> passes.size,
      "pass_ms" -> passes))
  }

  /** One pass split at the Dedup stage boundaries. */
  private def tracedPass(docs: DataFrame, tr: Tracer, pass: Int,
                         stageS: mutable.HashMap[String, mutable.ArrayBuffer[Double]],
                         setCounts: Map[String, Double] => Unit): (DataFrame, Array[Row]) = {
    import CorpusGen._
    def stage[T](s: String)(body: => T): T = {
      val a = System.nanoTime()
      val out = tr.span(s"operators.dedup.$s", "pass" -> pass)(body)
      stageS.getOrElseUpdate(s"operators.dedup.${s}_s", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - a) / 1e9
      out
    }
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    tr.span("operators.dedup.pass", "pass" -> pass) {
      val (sh, _) = stage("shingle")(materialize(Dedup.shingleSet(docs, "doc_id", "text", ShingleN)))
      val (bands, _) = stage("band")(materialize(Dedup.bandFrame(sh, "doc_id", NumHashes, RowsPerBand)))
      val (cand, nCand) = stage("candidate")(materialize(Dedup.bandPairJoin(bands, "doc_id")))
      val (pairs, nPairs) = stage("verify")(materialize(
        Dedup.verifyCandidatePairs(docs, cand, "doc_id", "text", ShingleN, Threshold)))
      stage("cc")(Dedup.connectedComponents(pairs).count())
      val keep = stage("keep_best")(keepBest(docs, pairs))
      // the harness's own stage caches go; whatever the program cached stays
      // for the leak gauges
      Seq(sh, bands, cand, pairs).foreach(_.unpersist(blocking = true))
      setCounts(Map(
        "operators.dedup.candidate_pairs" -> nCand.toDouble,
        "operators.dedup.verified_pairs" -> nPairs.toDouble,
        "operators.dedup.verify_yield" -> (if (nCand == 0) 0.0 else nPairs.toDouble / nCand)))
      (pairs, keep)
    }
  }
}
