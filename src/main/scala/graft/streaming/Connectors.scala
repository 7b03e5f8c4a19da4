package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Connector contract (reference: StreamingBackend ABC,
  * pspf/connectors/base.py:80-174 — connect/read_batch/ack/add_event/DLQ).
  *
  * In Spark the read/ack/claim/checkpoint surface collapses into
  * readStream + checkpointLocation (offsets and state commit atomically
  * per micro-batch — the reference's hand-built EOS protocol,
  * pspf/state/store.py:52-64, is the engine default here). What remains
  * of the contract is topic→path/config resolution and the DLQ/late
  * side-topic naming convention.
  */
trait Connector {
  def readStream(spark: SparkSession, topic: String): DataFrame
  def readBatch(spark: SparkSession, topic: String): DataFrame
  def writeBatch(df: DataFrame, topic: String): Unit

  /** Streaming write, replay-safe by default: foreachBatch +
    * `writeBatchIdempotent`, so a micro-batch replayed after a crash
    * (side write done, commit not) leaves one copy. The writerId derives
    * from the checkpoint path — stable across restarts of the same
    * query, distinct across queries. For FileConnector this also avoids
    * the json file sink, whose _spark_metadata log at the topic root
    * would hide every later writeBatch append from batch reads. */
  def writeStream(df: DataFrame, topic: String, checkpoint: String,
                  outputMode: String = "append"): StreamingQuery = {
    val writerId = s"q${checkpoint.hashCode.toHexString}"
    df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, topic, batchId, writerId)
      }
      .start()
  }

  /** Batch-replay-safe write for foreachBatch side outputs: writing the
    * SAME (writerId, topic, batchId) twice must leave one copy (crash
    * between a side write and the micro-batch commit causes the engine
    * to replay the batch). `writerId` scopes the idempotency to one
    * logical writer — two queries writing the same topic both start at
    * batchId 0 and must not clobber each other. Default falls back to
    * plain append — at-least-once — for connectors without an
    * idempotent form. */
  def writeBatchIdempotent(df: DataFrame, topic: String, batchId: Long,
                           writerId: String): Unit =
    writeBatch(df, topic)

  /** Delete a topic's storage (DLQ purge etc.). Default: unsupported. */
  def purgeTopic(spark: SparkSession, topic: String): Boolean =
    throw new UnsupportedOperationException(s"purge not supported by ${getClass.getSimpleName}")

  /** Remove DLQ metadata from rows read off a DLQ topic, returning the
    * replayable original shape (reference strips `_`-prefixed keys on
    * replay, pspf/utils/replay.py:12-51). Default: drop the metadata
    * COLUMNS; connectors that fold metadata into a payload field
    * override (GraftLogConnector rewrites the value JSON). */
  def stripDlqMeta(df: DataFrame): DataFrame =
    Reliability.dlqMetaFields.map(_.name).foldLeft(df)(_ drop _)

  /** DLQ topic naming, as the reference's `{topic}-dlq`
    * (pspf/connectors/valkey.py:222-248). */
  final def dlqTopic(topic: String): String = s"$topic-dlq"
  /** Late-event side topic `{topic}-late` (pspf/stream.py:402-413). */
  final def lateTopic(topic: String): String = s"$topic-late"
}

object Connector {
  /** Shared recursive path delete for path-backed connectors' purge. */
  def deletePath(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) || fs.delete(p, true)
  }
}

/** File-backed topics: one directory per topic under `root`, NDJSON
  * (reference: FileStreamBackend, pspf/connectors/file.py:10-110 —
  * line-number offsets become Spark file-source offsets in the
  * checkpoint; the `.dlq` side file becomes a side directory).
  *
  * Scale: a directory-of-files topic is object-storage-native; listing
  * cost is controlled via maxFilesPerTrigger and compaction jobs.
  */
final class FileConnector(root: String, schema: StructType,
                          topicSchemas: Map[String, StructType] = Map.empty) extends Connector {
  private def path(topic: String) = s"$root/$topic"

  /** Per-topic schema: explicit override > DLQ topics get base+metadata
    * (so enrichment survives the read; field list owned by Reliability —
    * one source of truth) > base schema. Derived topics with a different
    * shape (agg outputs etc.) need an override entry. */
  private def schemaOf(topic: String): StructType =
    topicSchemas.getOrElse(topic,
      if (topic.endsWith("-dlq")) StructType(schema.fields ++ Reliability.dlqMetaFields)
      else schema)

  override def readStream(spark: SparkSession, topic: String): DataFrame =
    spark.readStream.schema(schemaOf(topic))
      .option("recursiveFileLookup", "true").json(path(topic))

  override def readBatch(spark: SparkSession, topic: String): DataFrame =
    spark.read.schema(schemaOf(topic))
      .option("recursiveFileLookup", "true").json(path(topic))

  override def writeBatch(df: DataFrame, topic: String): Unit =
    df.write.mode("append").json(s"${path(topic)}/append")

  /** Replay-safe: one subdirectory per (writer, batch id), overwritten
    * wholesale on replay, so a crashed-then-replayed foreachBatch leaves
    * ONE copy and concurrent writers never clobber each other. */
  override def writeBatchIdempotent(df: DataFrame, topic: String, batchId: Long,
                                    writerId: String): Unit = {
    val safe = writerId.replaceAll("[^A-Za-z0-9_-]", "_")
    df.write.mode("overwrite").json(s"${path(topic)}/w-$safe-batch-$batchId")
  }

  override def purgeTopic(spark: SparkSession, topic: String): Boolean =
    Connector.deletePath(spark, path(topic))

}

/** Kafka wiring (reference: KafkaStreamBackend,
  * pspf/connectors/kafka.py:20-271). Manual commit / max-offset logic
  * (:149-190) is subsumed by the checkpoint; consumer lag (:230-270) is
  * observable via StreamingQueryProgress.
  *
  * Envelope mapping: Kafka rows are (key, value, topic, partition,
  * offset, timestamp); graft frames are arbitrary columns. Reads unwrap
  * `value` into a `payload` JSON string + `event_type` (extracted from
  * the payload, matching the reference's in-payload event_type,
  * pspf/stream.py:235-247) so SchemaRegistry.parse works unchanged;
  * writes wrap all columns into a JSON `value`.
  *
  * LIVE-LEG ACTIVATION: the spark-sql-kafka package is detected on the
  * classpath at construction. When present, every route goes through
  * the real `kafka` source/sink; when absent (this environment ships
  * no broker or jar), routes go through the configured `fallback`
  * connector — typically the graftlog broker emulation — carrying the
  * SAME envelope in both directions (the byte-exact `wrap` values land
  * as graftlog record values; reads surface the identical
  * key/payload/event_type/topic/partition/offset/timestamp columns).
  * A broker swap is therefore config-only: put the jar on the
  * classpath and pass the real bootstrap string. */
final class KafkaConnector(bootstrap: String,
                           fallback: Option[Connector] = None,
                           liveOverride: Option[Boolean] = None) extends Connector {
  import org.apache.spark.sql.functions.{col, get_json_object, lit, struct, to_json}

  private[streaming] val live: Boolean =
    liveOverride.getOrElse(KafkaConnector.liveAvailable)

  private def route: Connector = fallback.getOrElse(
    throw new IllegalStateException(
      s"${KafkaConnector.ProviderClass} is not on the classpath and no " +
        "fallback connector is configured — add the spark-sql-kafka " +
        "package or pass a fallback (e.g. GraftLogConnector)"))

  private[streaming] def unwrap(df: DataFrame): DataFrame =
    df.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("payload"),
      get_json_object(col("value").cast("string"), "$.event_type").as("event_type"),
      col("topic"), col("partition"), col("offset"),
      col("timestamp").as("timestamp"))

  /** The graftlog envelope adapted to `unwrap`'s exact output shape —
    * event_type re-derived from the payload JSON (same derivation on
    * both legs, whatever the producer wrote). */
  private[streaming] def adapt(df: DataFrame, topic: String): DataFrame =
    df.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("payload"),
      get_json_object(col("value").cast("string"), "$.event_type").as("event_type"),
      lit(topic).as("topic"), col("partition"), col("offset"),
      col("timestamp").as("timestamp"))

  private[streaming] def wrap(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  override def readStream(spark: SparkSession, topic: String): DataFrame =
    if (live)
      unwrap(spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())
    else adapt(route.readStream(spark, topic), topic)

  override def readBatch(spark: SparkSession, topic: String): DataFrame =
    if (live)
      unwrap(spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load())
    else adapt(route.readBatch(spark, topic), topic)

  override def writeBatch(df: DataFrame, topic: String): Unit =
    if (live)
      wrap(df).write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    else route.writeBatch(wrap(df), topic)

  override def writeStream(df: DataFrame, topic: String, checkpoint: String,
                           outputMode: String): StreamingQuery =
    if (live)
      wrap(df).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .outputMode(outputMode)
        .start()
    else route.writeStream(wrap(df), topic, checkpoint, outputMode)
}

object KafkaConnector {
  /** The DSv2 provider shipped by the spark-sql-kafka package. */
  val ProviderClass = "org.apache.spark.sql.kafka010.KafkaSourceProvider"

  /** True when the spark-sql-kafka package is loadable — the live-leg
    * activation switch. Probes the CONTEXT classloader (jars added via
    * --packages/--jars live in Spark's child MutableURLClassLoader,
    * invisible to this class's own loader when graft sits in
    * /opt/spark/jars) and falls back to this class's loader (threads
    * from shared pools may carry the system loader as context). */
  def liveAvailable: Boolean =
    Option(Thread.currentThread().getContextClassLoader).exists(liveAvailable) ||
      liveAvailable(getClass.getClassLoader)

  private[streaming] def liveAvailable(cl: ClassLoader): Boolean =
    try { cl.loadClass(ProviderClass); true }
    catch { case _: ClassNotFoundException => false }
}

/** In-memory topics for tests (reference: MemoryBackend,
  * pspf/connectors/memory.py:10-160). Reads are backed by
  * `MemoryStream` created by the test (passed in), writes land in
  * `memory` sink tables named after the topic. Batch writes APPEND and
  * are materialized at write time (a lazy temp view would both replace
  * earlier batches and re-execute the producing plan on every read). */
final class MemoryConnector(streams: Map[String, DataFrame]) extends Connector {
  private val batches =
    scala.collection.concurrent.TrieMap.empty[String, Vector[Array[Row]]]
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  override def readStream(spark: SparkSession, topic: String): DataFrame =
    streams.getOrElse(topic,
      throw new IllegalArgumentException(s"no memory stream registered for topic $topic"))

  override def readBatch(spark: SparkSession, topic: String): DataFrame = {
    val schema = schemas.getOrElse(topic,
      throw new IllegalArgumentException(s"memory topic $topic has no data"))
    val rows = batches.getOrElse(topic, Vector.empty).flatten
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  override def writeBatch(df: DataFrame, topic: String): Unit = {
    val rows = df.collect()
    schemas.putIfAbsent(topic, df.schema) match {
      case Some(prev) if prev != df.schema =>
        throw new IllegalArgumentException(
          s"memory topic $topic already holds schema $prev; refusing divergent ${df.schema}")
      case _ => ()
    }
    batches.synchronized {
      batches.put(topic, batches.getOrElse(topic, Vector.empty) :+ rows)
    }
  }

  override def writeStream(df: DataFrame, topic: String, checkpoint: String,
                           outputMode: String): StreamingQuery =
    df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .format("memory").queryName(topic.replace('-', '_'))
      .trigger(Trigger.AvailableNow())
      .start()
}
