package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** DataSource V2 for graftlog topics: `spark.read[Stream]
  * .format("graftlog").load(topicDir)` (short name registered via
  * META-INF/services — Spark's ServiceLoader plugin mechanism, the
  * analog of the reference's entry-point plugin registry,
  * pspf/plugins.py:7-73).
  *
  * This is the Valkey-source capability (SURVEY §2.1 S2,
  * pspf/connectors/valkey.py:83-389) built natively on Spark's
  * micro-batch contract instead of XREADGROUP polling:
  *  - batch + micro-batch reads; one reader task per log partition, so
  *    the scan scales with partitions and preserves per-partition order;
  *  - offsets are (partition → line count) — dense ints like LocalLog
  *    (pspf/log/local_log.py:150-191);
  *  - the consumer group's committed position, XACK, and XAUTOCLAIM
  *    crash recovery all collapse into Spark's checkpoint: offsets
  *    commit atomically with state per micro-batch, and a restarted
  *    query resumes from the last committed offset (the reference's
  *    hand-built EOS + stuck-claim protocol, pspf/processor.py:303-328,
  *    :382-404).
  */
final class GraftLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // every graftlog topic has the fixed envelope schema — silently
    // returning it for a DIFFERENT user-supplied schema would mask the
    // mismatch until analysis-time column errors far from the cause
    if (schema != null && schema != GraftLog.schema)
      throw new IllegalArgumentException(
        s"graftlog exposes the fixed envelope schema ${GraftLog.schema.simpleString}; " +
          s"a custom read schema (${schema.simpleString}) is not supported — " +
          "drop the .schema(...) call and select/cast from the envelope instead")
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graftlog requires a path (topic directory)"))
    new GraftLogTable(path)
  }
}

final class GraftLogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graftlog:$path"
  override def schema(): StructType = GraftLog.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val maxRecords = Option(options.get("maxRecordsPerTrigger")).map { v =>
      v.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"maxRecordsPerTrigger must be a positive integer, got '$v'"))
    }
    new ScanBuilder {
      override def build(): Scan = new GraftLogScan(path, maxRecords)
    }
  }
}

final class GraftLogScan(path: String, maxRecordsPerTrigger: Option[Long] = None) extends Scan {
  override def readSchema(): StructType = GraftLog.schema
  override def description(): String = s"graftlog $path"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      GraftLogScan.plan(path, Map.empty, GraftLog.latestOffsets(path))
    override def createReaderFactory(): PartitionReaderFactory = new GraftLogReaderFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftLogMicroBatchStream(path, maxRecordsPerTrigger)
}

object GraftLogScan {
  def plan(path: String, start: Map[Int, Long], end: Map[Int, Long]): Array[InputPartition] =
    end.toSeq.sortBy(_._1).flatMap { case (p, endLine) =>
      // clamp to the retention base: offsets below it are trimmed away,
      // so a fresh consumer starts at the earliest retained record
      // instead of planning empty reads over the trimmed range
      val startLine = math.max(start.getOrElse(p, 0L), GraftLog.baseOffset(path, p))
      if (endLine > startLine) Some(GraftLogInputPartition(path, p, startLine, endLine))
      else None
    }.toArray
}

case class GraftLogOffset(counts: Map[Int, Long]) extends Offset {
  override def json(): String = GraftLog.offsetJson(counts)
}

/** Micro-batch leg: latestOffset re-lists the log; each trigger reads
  * the [committed, latest) slice per partition. `commit` is a no-op —
  * the checkpoint's offset log is the committed consumer position (a
  * broker-side trim job would hook retention there, like LocalLog's
  * age-based cleanup, pspf/log/local_log.py:254-266).
  *
  * Admission control: `maxRecordsPerTrigger` caps how far a trigger
  * advances (the reference's per-poll `batch_size`,
  * pspf/settings.py:36 / pspf/processor.py:168-188 — read N, process,
  * ack, repeat); Trigger.AvailableNow snapshots the end offsets up
  * front and drains to exactly that point in capped batches. */
final class GraftLogMicroBatchStream(path: String,
                                     maxRecordsPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private var availableNowEnd: Option[Map[Int, Long]] = None

  override def initialOffset(): Offset = GraftLogOffset(Map.empty)
  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(GraftLog.latestOffsets(path))

  private def targetEnd(): Map[Int, Long] =
    availableNowEnd.getOrElse(GraftLog.latestOffsets(path))

  override def latestOffset(): Offset = GraftLogOffset(targetEnd())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val end = targetEnd()
    val startC = start.asInstanceOf[GraftLogOffset].counts
    limit match {
      case rm: ReadMaxRows =>
        // budget measures REAL records: clamp each start to the
        // retention base so a trimmed prefix doesn't consume triggers
        val backlog = end.toSeq.sortBy(_._1).map { case (p, e) =>
          val s = math.max(startC.getOrElse(p, 0L), GraftLog.baseOffset(path, p))
          (p, s, math.max(0L, e - s))
        }
        val total = backlog.map(_._3).sum
        val budget = rm.maxRows()
        val capped =
          if (total <= budget) backlog.map { case (p, s, b) => p -> (s + b) }.toMap
          else {
            // allocate PROPORTIONALLY to backlog (Kafka's
            // maxOffsetsPerTrigger discipline) — filling partitions in
            // ascending id order would let a sustained producer on low
            // partitions starve high ones indefinitely. Largest-remainder
            // rounding keeps the allocation deterministic and exactly
            // budget-sized.
            val floors = backlog.map { case (p, s, b) =>
              // BigInt: budget × backlog can exceed Long (4e9 budget ×
              // 5e9 backlog) and a wrapped-negative share would move
              // the capped offset BELOW the committed start
              val prod = BigInt(budget) * b
              (p, s, b, (prod / total).toLong, (prod % total).toLong)
            }
            var left = budget - floors.map(_._4).sum
            val bumped = floors.sortBy { case (p, _, _, _, rem) => (-rem, p) }
              .map { case (p, s, b, share, _) =>
                val bump = if (left > 0 && share < b) 1L else 0L
                left -= bump
                p -> (s + math.min(b, share + bump))
              }
            bumped.toMap
          }
        GraftLogOffset(capped)
      case _ => GraftLogOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset =
    GraftLogOffset(GraftLog.parseOffsetJson(json))
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GraftLogScan.plan(path,
      start.asInstanceOf[GraftLogOffset].counts,
      end.asInstanceOf[GraftLogOffset].counts)
  override def createReaderFactory(): PartitionReaderFactory = new GraftLogReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class GraftLogInputPartition(path: String, partition: Int,
                                  startLine: Long, endLine: Long) extends InputPartition

final class GraftLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftLogPartitionReader(partition.asInstanceOf[GraftLogInputPartition])
}

/** Executor-side reader: streams one partition's log lines in order
  * (per-key order inside a partition — docs/concurrency.md:5-11),
  * skipping to startLine and stopping at endLine. Offsets are ABSOLUTE
  * (base + line index within the current log generation): a retention
  * trim grows the base but never shifts a consumer's checkpointed
  * position. A start below the base means retention passed the
  * consumer — reading resumes at the earliest retained record (Kafka
  * earliest-available semantics; trimmed records are gone by policy). */
final class GraftLogPartitionReader(p: GraftLogInputPartition)
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()
  // resolve + open with retry: a concurrent trim can rename the current
  // generation between the listing and the open — re-resolve and the
  // new generation is there (the window is the rename itself)
  private val (base, reader) = {
    var attempt = 0
    var out: (Long, java.io.BufferedReader) = null
    while (out == null) {
      val (b, f) = GraftLog.currentLog(p.path, p.partition)
      // a replacing decoder (InputStreamReader's default): a sealed
      // tombstone torn inside a multi-byte character decodes to garbage
      // that fails its JSON parse, instead of throwing on every batch
      // that skips past it
      try out = (b, new java.io.BufferedReader(
        new java.io.InputStreamReader(Files.newInputStream(f), StandardCharsets.UTF_8)))
      catch {
        case e: java.nio.file.NoSuchFileException =>
          attempt += 1
          if (attempt > 5) throw e
      }
    }
    out
  }
  private var line = math.max(base, math.min(p.startLine, p.endLine))
  private var current: InternalRow = _
  // skip already-committed lines (dense offsets, like LocalLog reads
  // from a requested offset, pspf/log/local_log.py:193-252)
  private var toSkip = line - base
  while (toSkip > 0 && reader.readLine() != null) toSkip -= 1

  override def next(): Boolean = {
    while (line < p.endLine) {
      val raw = reader.readLine()
      if (raw == null) return false
      val off = line
      line += 1
      // torn-tail tombstones (sealed partial appends) parse as garbage:
      // they occupy their line/offset for stability but emit no row —
      // the LocalLog truncate-on-recovery semantics
      val node = try mapper.readTree(raw) catch { case _: Exception => null }
      if (node != null && node.isObject && node.hasNonNull("id") && node.hasNonNull("ts")) {
        def str(field: String): UTF8String =
          if (node.hasNonNull(field)) UTF8String.fromString(node.get(field).asText()) else null
        current = new GenericInternalRow(Array[Any](
          p.partition,
          off,
          str("id"),
          str("key"),
          str("event_type"),
          str("value"),
          node.get("ts").asLong() * 1000L)) // ms → µs for TimestampType
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
