package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded input generators. The same seed always yields the same
  * events, documents and drop layout; each generator also describes its
  * input in a manifest (written next to the result) so a reader can see
  * what a workload exercises without re-reading this file. */
object Zipf {
  /** Cumulative distribution of a Zipf(s) law over `n` ranks. */
  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}

/** One event of the `events_stream` topic. `eventMs` is the event time
  * carried in the payload; `kind` is Valid, Late or Malformed. */
final case class Ev(eid: Long, key: String, payload: String, kind: Int, eventMs: Long)

object EventGen {
  val Valid = 0
  val Late = 1
  val Malformed = 2

  val Topic = "events"
  val EventType = "click"
  val NumPartitions = 8
  val NumKeys = 256
  val KeySkew = 1.2
  /** The 12 s measured tail holds exactly two windows, so every run's
    * tail crosses the same number of window boundaries (a batch across
    * one emits rows of both windows, the closing one's with older newest
    * events). */
  val WindowMs = 6000L
  val WatermarkDelayMs = 10000L
  val OutOfOrderShare = 0.05
  val MaxDisorderMs = 2000L
  val LateShare = 0.01
  /** Late events carry an event time this far before the start of the
    * backlog timeline, far behind any watermark. The engine drops a late
    * row once the watermark of the previous batch has passed it, so a
    * late event in one of the first batches may still be counted. */
  val LateMinMs = 60000L
  val LateMaxMs = 600000L
  val MalformedShare = 0.005

  val payloadSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("eid", LongType), StructField("ts", LongType),
      StructField("amount", LongType)))
  }

  private val keys = Array.tabulate(NumKeys)(i => f"k$i%03d")
  private val keyCdf = Zipf.cdf(NumKeys, KeySkew)

  /** Seeded event source. `timelineStartMs` anchors the late events. */
  final class Source(seed: Long, timelineStartMs: Long) {
    private val rng = new java.util.SplittableRandom(seed)

    def next(eid: Long, nominalMs: Long): Ev = {
      val key = keys(Zipf.sample(keyCdf, rng.nextDouble()))
      val amount = 1 + rng.nextInt(100)
      val u = rng.nextDouble()
      if (u < MalformedShare) {
        // a wrongly typed field and a truncated document, alternately
        val p = if (rng.nextBoolean()) s"""{"eid":$eid,"ts":"t$nominalMs","amount":$amount}"""
          else s"""{"eid":$eid,"ts":${nominalMs / 1000}"""
        Ev(eid, key, p, Malformed, nominalMs)
      } else if (u < MalformedShare + LateShare) {
        val t = timelineStartMs - LateMinMs - rng.nextLong(LateMaxMs - LateMinMs)
        Ev(eid, key, s"""{"eid":$eid,"ts":$t,"amount":$amount}""", Late, t)
      } else {
        val t = if (rng.nextDouble() < OutOfOrderShare) nominalMs - rng.nextLong(MaxDisorderMs)
          else nominalMs
        Ev(eid, key, s"""{"eid":$eid,"ts":$t,"amount":$amount}""", Valid, t)
      }
    }
  }

  def windowStart(ms: Long): Long = ms - Math.floorMod(ms, WindowMs)

  /** What a correct consumer must end up with: per-(window, key) totals
    * of the valid events, the malformed event ids (DLQ) and the late
    * events per (window, key), each of which is either dropped by the
    * watermark or counted. */
  final class Expected {
    val counts = mutable.HashMap.empty[(Long, String), Long]
    val lateCounts = mutable.HashMap.empty[(Long, String), Long]
    val malformed = mutable.HashSet.empty[Long]
    var late = 0L
    var total = 0L
    /** Median and maximum delay of the producer's ticks behind schedule. */
    var generatorLateMs: Seq[Long] = Nil
    val perPartition = new Array[Long](NumPartitions)

    def add(e: Ev): Unit = {
      total += 1
      perPartition(graft.sources.GraftLog.partitionFor(e.key, NumPartitions)) += 1
      e.kind match {
        case Valid =>
          val k = (windowStart(e.eventMs), e.key)
          counts(k) = counts.getOrElse(k, 0L) + 1
        case Late =>
          late += 1
          val k = (windowStart(e.eventMs), e.key)
          lateCounts(k) = lateCounts.getOrElse(k, 0L) + 1
        case _ => malformed += e.eid
      }
    }

    def merge(o: Expected): Unit = {
      o.counts.foreach { case (k, n) => counts(k) = counts.getOrElse(k, 0L) + n }
      o.lateCounts.foreach { case (k, n) => lateCounts(k) = lateCounts.getOrElse(k, 0L) + n }
      malformed ++= o.malformed
      late += o.late
      total += o.total
      o.perPartition.indices.foreach(i => perPartition(i) += o.perPartition(i))
    }

    def valid: Long = counts.values.sum

    def write(f: Path): Unit = {
      val sb = new StringBuilder
      sb.append(s"T $total\nL $late\n")
      if (generatorLateMs.nonEmpty) sb.append(s"G ${generatorLateMs.mkString(" ")}\n")
      perPartition.zipWithIndex.foreach { case (n, p) => sb.append(s"P $p $n\n") }
      malformed.foreach(e => sb.append(s"M $e\n"))
      counts.foreach { case ((w, k), n) => sb.append(s"W $w $k $n\n") }
      lateCounts.foreach { case ((w, k), n) => sb.append(s"X $w $k $n\n") }
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  object Expected {
    def read(f: Path): Expected = {
      val e = new Expected
      Files.readAllLines(f, StandardCharsets.UTF_8).forEach { line =>
        val p = line.split(' ')
        p(0) match {
          case "T" => e.total = p(1).toLong
          case "L" => e.late = p(1).toLong
          case "G" => e.generatorLateMs = p.drop(1).map(_.toLong).toSeq
          case "P" => e.perPartition(p(1).toInt) = p(2).toLong
          case "M" => e.malformed += p(1).toLong
          case "W" => e.counts((p(1).toLong, p(2))) = p(3).toLong
          case "X" => e.lateCounts((p(1).toLong, p(2))) = p(3).toLong
          case _ =>
        }
      }
      e
    }
  }

  /** Append events to the topic, one locked batch per partition, in
    * event order within each partition. Every record carries `nowMs` as
    * its broker timestamp. */
  def append(topicDir: String, evs: Seq[Ev], nowMs: Long): Unit =
    evs.groupBy(e => graft.sources.GraftLog.partitionFor(e.key, NumPartitions))
      .toSeq.sortBy(_._1).foreach { case (p, es) =>
        graft.sources.GraftLog.appendBatch(topicDir, p,
          es.iterator.map(e => (e.key, EventType, e.payload)), nowMs)
      }

  /** Pre-produce the backlog: `n` events on a timeline spaced
    * `spacingMs` apart that ends at `endMs`. */
  def backlog(topicDir: String, seed: Long, n: Int, spacingMs: Long, endMs: Long): Expected = {
    val t0 = endMs - n * spacingMs
    val src = new Source(seed, t0)
    val exp = new Expected
    val chunk = 20000
    var i = 0
    while (i < n) {
      val evs = (i until math.min(n, i + chunk)).map { j =>
        val e = src.next(j.toLong, t0 + j * spacingMs)
        exp.add(e)
        e
      }
      append(topicDir, evs, endMs)
      i += chunk
    }
    exp
  }

  def manifest(n: Int, spacingMs: Long, exp: Expected, tailRate: Int, tailMs: Long): Map[String, Any] = Map(
    "topic_partitions" -> NumPartitions,
    "keys" -> NumKeys,
    "key_skew_zipf_s" -> KeySkew,
    "backlog_events" -> n,
    "backlog_spacing_ms" -> spacingMs,
    "backlog_per_partition" -> exp.perPartition.toSeq,
    "window_ms" -> WindowMs,
    "watermark_delay_ms" -> WatermarkDelayMs,
    "out_of_order_share" -> OutOfOrderShare,
    "max_disorder_ms" -> MaxDisorderMs,
    "late_share" -> LateShare,
    "malformed_share" -> MalformedShare,
    "backlog_late" -> exp.late,
    "backlog_malformed" -> exp.malformed.size,
    "tail_rate_eps" -> tailRate,
    "tail_ms" -> tailMs)
}

/** A generated document; `cluster` is the planted near-duplicate
  * cluster it belongs to, or -1. */
final case class Doc(id: Long, text: String, quality: Double, cluster: Int)

/** Corpus generator: planted near-duplicate clusters (a base document
  * plus variants with a per-cluster token mutation rate), shared
  * boilerplate spans, and a share of non-ASCII tokens (accents, CJK,
  * Cyrillic, a no-break space inside a token, astral-plane characters). */
object CorpusGen {
  val ShingleN = 5
  val NumHashes = 16
  val RowsPerBand = 2
  val Threshold = 0.5

  val VocabSize = 30000
  val MinTokens = 60
  val MaxTokens = 140
  val NonAsciiShare = 0.03
  val BoilerplateSpans = 12
  val BoilerplateLen = 12
  val BoilerplateShare = 0.3
  val ClusteredShare = 0.3
  val MutationRates: Seq[Double] = Seq(0.02, 0.04, 0.07, 0.10, 0.14)

  private val nonAscii = Array("naïve", "café", "Straße", "日本語", "данные",
    "façade", "Ωmega", "z\u00A0z", "😀ok", "𝔘nicode", "ünïcödé")

  final case class Corpus(docs: Array[Doc], manifest: Map[String, Any])

  def generate(seed: Long, nDocs: Int): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    def word(): String =
      if (rng.nextDouble() < NonAsciiShare) nonAscii(rng.nextInt(nonAscii.length))
      else "w" + Integer.toString(rng.nextInt(VocabSize), 36)
    val boiler = Array.fill(BoilerplateSpans)(Array.fill(BoilerplateLen)(word()))
    def base(): Array[String] = {
      val toks = Array.fill(MinTokens + rng.nextInt(MaxTokens - MinTokens + 1))(word())
      if (rng.nextDouble() < BoilerplateShare) {
        val at = rng.nextInt(toks.length)
        toks.take(at) ++ boiler(rng.nextInt(BoilerplateSpans)) ++ toks.drop(at)
      } else toks
    }
    def mutate(toks: Array[String], m: Double): Array[String] =
      toks.flatMap { t =>
        val u = rng.nextDouble()
        if (u < m / 2) None else if (u < m) Some(word()) else Some(t)
      }
    val texts = mutable.ArrayBuffer.empty[(Array[String], Int)]
    val clusterSizes = mutable.ArrayBuffer.empty[Int]
    val clusterRates = mutable.ArrayBuffer.empty[Double]
    var clustered = 0
    while (clustered < nDocs * ClusteredShare) {
      val size = 2 + rng.nextInt(4)
      val m = MutationRates(rng.nextInt(MutationRates.size))
      val c = clusterSizes.size
      val b = base()
      texts += ((b, c))
      (1 until size).foreach(_ => texts += ((mutate(b, m), c)))
      clusterSizes += size
      clusterRates += m
      clustered += size
    }
    while (texts.size < nDocs) texts += ((base(), -1))
    // ids are a seeded permutation, so cluster members are not adjacent
    val ids = (0 until texts.size).toArray
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val docs = texts.zipWithIndex.map { case ((toks, c), k) =>
      Doc(ids(k).toLong, toks.mkString(" "), rng.nextDouble(), c)
    }.sortBy(_.id).toArray
    val tokenCount = docs.map(_.text.count(_ == ' ') + 1L).sum
    Corpus(docs, Map(
      "docs" -> docs.length,
      "clusters" -> clusterSizes.size,
      "clustered_docs" -> clusterSizes.sum,
      "cluster_size_hist" -> clusterSizes.groupBy(identity).map { case (k, v) => k.toString -> v.size },
      "mutation_rates" -> MutationRates,
      "mutation_rate_hist" -> clusterRates.groupBy(identity).map { case (k, v) => k.toString -> v.size },
      "boilerplate_spans" -> BoilerplateSpans,
      "boilerplate_len" -> BoilerplateLen,
      "boilerplate_share" -> BoilerplateShare,
      "non_ascii_token_share" -> NonAsciiShare,
      "mean_tokens" -> tokenCount.toDouble / docs.length,
      "shingle_n" -> ShingleN,
      "num_hashes" -> NumHashes,
      "rows_per_band" -> RowsPerBand,
      "threshold" -> Threshold))
  }

  /** Split a corpus into `n` drops of seeded, uneven sizes (0.5x to
    * 1.5x the mean), in id order. */
  def drops(seed: Long, docs: Array[Doc], n: Int): Seq[Array[Doc]] = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    val w = Array.fill(n)(0.5 + rng.nextDouble())
    val total = w.sum
    val cuts = w.scanLeft(0.0)(_ + _).map(x => math.round(x / total * docs.length).toInt)
    (0 until n).map(i => docs.slice(cuts(i), cuts(i + 1)))
  }
}

/** Independent near-duplicate oracle: exact word-n-gram Jaccard with
  * tokens split on the ASCII whitespace set (space, \t, \n, \x0B, \f,
  * \r), the same token definition the engine documents. */
object Oracle {
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def shingles(text: String, n: Int): Set[String] = {
    val toks = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < text.length) {
      while (i < text.length && isWs(text.charAt(i))) i += 1
      val s = i
      while (i < text.length && !isWs(text.charAt(i))) i += 1
      if (i > s) toks += text.substring(s, i)
    }
    if (toks.size < n) Set.empty
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Planted pairs (within a cluster) and their exact Jaccard. */
  def plantedPairs(docs: Array[Doc], n: Int): Map[(Long, Long), Double] = {
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def s(d: Doc) = sh.getOrElseUpdate(d.id, shingles(d.text, n))
    docs.filter(_.cluster >= 0).groupBy(_.cluster).values.flatMap { members =>
      val ms = members.sortBy(_.id)
      for (i <- ms.indices; j <- i + 1 until ms.length)
        yield (ms(i).id, ms(j).id) -> jaccard(s(ms(i)), s(ms(j)))
    }.toMap
  }

  /** keep_id per document implied by `pairs`: connected components, the
    * best-quality member (lowest id on ties) kept, singletons keep
    * themselves. */
  def keepIds(docs: Array[Doc], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val q = docs.map(d => d.id -> d.quality).toMap
    val best = docs.groupBy(d => find(d.id)).map { case (r, ms) =>
      r -> ms.minBy(d => (-q(d.id), d.id)).id
    }
    docs.map(d => d.id -> best(find(d.id))).toMap
  }
}
