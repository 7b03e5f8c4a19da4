package graft.streaming

import graft.sources.GraftLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Connector over graftlog topics — the live "real broker" leg of the
  * S1 contract (reference: ValkeyStreamBackend default backend,
  * pspf/connectors/valkey.py:83-389): partitioned append-only streams
  * with broker ids, consumer-group offsets (= Spark checkpoints), DLQ
  * side topics, and lag introspection, with zero external processes.
  *
  * Reads are fully distributed (one task per log partition, DSv2).
  * Produce is distributed too: rows shuffle to ONE writer task per log
  * partition (identity partitioner on the reference's hash(key)%N
  * routing), sorted by their source order so per-key append order is
  * exactly the frame's order; each task batch-appends under the
  * partition's cross-process lock. Nothing funnels through the driver —
  * an error-storm DLQ leg no longer presses driver memory.
  */
final class GraftLogConnector(root: String, numPartitions: Int = 4,
                              keyCol: String = "key") extends Connector {
  private def path(topic: String) = s"$root/$topic"

  override def readStream(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.format("graftlog").load(path(topic))

  override def readBatch(spark: SparkSession, topic: String): DataFrame =
    spark.read.format("graftlog").load(path(topic))

  /** Envelope-aware produce, three shapes (no column is ever silently
    * dropped):
    *  - PURE envelope frames (key + string value, columns ⊆ envelope):
    *    re-produce/replay — (key, event_type, value) append as-is;
    *  - envelope + `_`-metadata frames (the DLQ-enrichment shape): the
    *    metadata folds INTO the payload JSON flat, exactly the
    *    reference's DLQ message shape (payload dict + `_error`/
    *    `_original_*` keys merged, pspf/connectors/valkey.py:222-248);
    *  - arbitrary frames: JSON-wrapped wholesale into `value` with the
    *    key from `keyCol`/`key` when present (the reference
    *    JSON-stringifies complex payloads the same way, valkey.py:281-293). */
  override def writeBatch(df: DataFrame, topic: String): Unit = {
    val cols = df.columns.toSet
    val env = GraftLog.schema.fieldNames.toSet
    val valueIsString = cols.contains("value") &&
      df.schema("value").dataType == org.apache.spark.sql.types.StringType
    val extra = (cols -- env).toSeq.sorted
    val evtCol =
      (if (cols.contains("event_type")) col("event_type")
       else org.apache.spark.sql.functions.lit(null)).cast("string").as("event_type")

    // key is optional on the envelope paths: a keyless envelope frame
    // appends with a null key (partition 0), NOT a double-JSON-wrap
    val keyCol0 =
      (if (cols.contains("key")) col("key")
       else org.apache.spark.sql.functions.lit(null)).cast("string").as("key")
    if (valueIsString && extra.isEmpty) {
      produce(df.select(keyCol0, evtCol, col("value")), topic)
    } else if (valueIsString && extra.forall(_.startsWith("_"))) {
      val sel = df.select(Seq(keyCol0, evtCol, col("value")) ++
        extra.map(c => col(c).cast("string").as(c)): _*)
      // fold the _-metadata into the payload JSON executor-side, then
      // hand the pure (key, event_type, value) envelope to produce
      val extraNames = extra
      val outSchema = org.apache.spark.sql.types.StructType(sel.schema.fields.take(3))
      val folded = sel.mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.map { r =>
          val parsed = try mapper.readTree(r.getString(2)) catch { case _: Exception => null }
          val obj =
            if (parsed != null && parsed.isObject)
              parsed.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            else { val o = mapper.createObjectNode(); o.put("value", r.getString(2)); o }
          extraNames.zipWithIndex.foreach { case (c, i) =>
            val v = r.getString(3 + i)
            if (v != null) obj.put(c, v)
          }
          org.apache.spark.sql.Row(r.getString(0), r.getString(1), mapper.writeValueAsString(obj))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      produce(folded.toDF("key", "event_type", "value"), topic)
    } else {
      val key = if (cols.contains(keyCol)) col(keyCol).cast("string")
        else if (cols.contains("key")) col("key").cast("string")
        else org.apache.spark.sql.functions.lit("default_key") // reference fallback key (pspf/stream.py:400)
      produce(df.select(key.as("key"), evtCol,
        to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value")), topic)
    }
  }

  /** Distributed produce of a (key, event_type, value) frame:
    *  1. tag every row with monotonically_increasing_id — (source
    *     partition << 33 | index), i.e. the frame's row order;
    *  2. key by (log partition via the reference's hash(key)%N, tag) and
    *     repartitionAndSortWithinPartitions with an IDENTITY partitioner
    *     — every log partition lands in exactly one task, externally
    *     sorted back into source order (spill-safe, never in-heap);
    *  3. each task appends its whole slice under the partition's
    *     cross-process lock in ONE locked batch (GraftLog.appendBatch),
    *     guarded by a per-(produce, partition) marker checked/created
    *     inside the same lock — a Spark task RETRY or speculative twin
    *     whose predecessor completed skips the append instead of
    *     duplicating the slice. (A crash mid-append still duplicates
    *     the torn prefix on retry: the writeBatchIdempotent window.)
    * One writer per partition preserves per-key order (same key → same
    * partition → same task, sorted) and dense offsets, with produce
    * bandwidth scaling with partitions instead of driver memory. */
  private def produce(sel: DataFrame, topic: String): Unit = {
    val dir = path(topic)
    val np = numPartitions
    val token = java.util.UUID.randomUUID().toString
    val tagged = sel
      .select(col(sel.columns(0)).cast("string").as("key"),
        col(sel.columns(1)).cast("string").as("event_type"),
        col(sel.columns(2)).cast("string").as("value"))
      .withColumn("_seq", org.apache.spark.sql.functions.monotonically_increasing_id())
    val keyed = tagged.rdd.map { r =>
      val key = r.getString(0)
      ((GraftLog.partitionFor(key, np), r.getLong(3)),
        (key, r.getString(1), r.getString(2)))
    }
    val identity = new org.apache.spark.Partitioner {
      override def numPartitions: Int = np
      override def getPartition(k: Any): Int = k.asInstanceOf[(Int, Long)]._1
    }
    keyed.repartitionAndSortWithinPartitions(identity).foreachPartition {
      it: Iterator[((Int, Long), (String, String, String))] =>
        if (it.hasNext) {
          val buffered = it.buffered
          val p = buffered.head._1._1
          GraftLog.appendBatch(dir, p, buffered.map(_._2),
            onceMarker = Some(s"produce-$token-p$p"))
        }
    }
  }

  /** Replay-side inverse of the DLQ merge above: the `_`-metadata lives
    * INSIDE the payload JSON for graftlog topics, so stripping means
    * rewriting `value` without its `_`-prefixed keys (the reference
    * strips the same keys from the payload dict on replay,
    * pspf/utils/replay.py:12-51). */
  override def stripDlqMeta(df: DataFrame): DataFrame = {
    val base = super.stripDlqMeta(df)
    if (!base.columns.contains("value")) base
    else {
      val schema = base.schema
      val vIdx = schema.fieldIndex("value")
      base.mapPartitions { it =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        it.map { r =>
          val raw = if (r.isNullAt(vIdx)) null else r.getString(vIdx)
          val cleaned =
            if (raw == null) null
            else try {
              val node = mapper.readTree(raw)
              if (node.isObject) {
                val obj = node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                // remove ONLY the DLQ metadata family — other _-keys in
                // the payload (e.g. Trace's _trace_id) must survive
                // replay, same invariant as the column-based default
                Reliability.dlqMetaFields.map(_.name).foreach(obj.remove)
                mapper.writeValueAsString(obj)
              } else raw
            } catch { case _: Exception => raw }
          org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(vIdx, cleaned))
        }
      }(org.apache.spark.sql.Encoders.row(schema))
    }
  }

  /** Batch-replay-safe append via a completion marker per
    * (writerId, batchId): the common engine-replay case — crash AFTER
    * the side write but before the micro-batch commit — finds the
    * marker and skips, leaving one copy. A crash DURING the append
    * itself can still duplicate the torn prefix on retry (at-least-once
    * in that narrow window) — the same contract as any broker without
    * transactions; GraftLog's torn-tail sealing keeps the log readable
    * through it. Markers live under `_markers/` inside the topic dir,
    * invisible to readers (they only scan `p=*`). */
  override def writeBatchIdempotent(df: DataFrame, topic: String, batchId: Long,
                                    writerId: String): Unit = {
    val safe = writerId.replaceAll("[^A-Za-z0-9_-]", "_")
    val marker = java.nio.file.Paths.get(path(topic), "_markers", s"$safe-$batchId")
    if (!java.nio.file.Files.exists(marker)) {
      writeBatch(df, topic)
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
  }

  override def purgeTopic(spark: SparkSession, topic: String): Boolean =
    Connector.deletePath(spark, path(topic))

  /** Consumer lag vs a checkpoint (reference XPENDING lag surface). */
  def lag(topic: String, checkpoint: String): Long =
    GraftLog.lag(path(topic), checkpoint)
}
