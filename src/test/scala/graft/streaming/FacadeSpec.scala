package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

object FacadeSpec {
  // cross-executor side-effect counter (local mode: one JVM)
  val sent = new AtomicLong(0)
}

/** Facade surface parity: emit/subscribe/pipe/windowAggregate/route
  * (reference Stream API, pspf/stream.py), telemetry listener, function
  * sink, ops. */
class FacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", StringType), StructField("key", StringType),
    StructField("sec", DoubleType), StructField("amount", DoubleType)))

  private def mkStream() = {
    val root = Files.createTempDirectory("graft_facade").toString
    (root, new GraftStream(spark, new FileConnector(root, schema), s"$root/ckpt"))
  }

  private def events(rows: (String, String, Double, Double)*) =
    rows.toSeq.toDF("event_id", "key", "sec", "amount")

  test("emit + subscribe: handler sees each batch exactly once across runs") {
    val (_, s) = mkStream()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    s.emit(events(("e1", "a", 1.0, 10.0), ("e2", "b", 2.0, 20.0)), "tx")
    s.subscribe("tx") { (batch, _) =>
      seen ++= batch.select("event_id").as[String].collect()
    }.awaitTermination()
    assert(seen.sorted == Seq("e1", "e2"))

    s.emit(events(("e3", "a", 3.0, 5.0)), "tx")
    s.subscribe("tx") { (batch, _) =>
      seen ++= batch.select("event_id").as[String].collect()
    }.awaitTermination()
    assert(seen.sorted == Seq("e1", "e2", "e3")) // only the new event
  }

  test("pipe: declarative transform lands in the sink topic") {
    val (_, s) = mkStream()
    s.emit(events(("e1", "a", 1.0, 10.0), ("e2", "b", 2.0, 20000.0)), "in")
    s.pipe("in", "big") { df => df.filter(col("amount") > 1000) }.awaitTermination()
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    s.subscribe("big") { (b, _) => out ++= b.select("event_id").as[String].collect() }
      .awaitTermination()
    assert(out.toSeq == Seq("e2"))
  }

  test("pipe into a graftlog topic lands each record once when a batch is replayed") {
    val root = Files.createTempDirectory("graft_facade_log").toString
    val s = new GraftStream(spark, new GraftLogConnector(root, numPartitions = 2), s"$root/ckpt")
    s.emit(events(("e1", "a", 1.0, 10.0), ("e2", "b", 2.0, 20.0)), "in")
    def pipe(): Unit = s.pipe("in", "out")(identity).awaitTermination()
    pipe()
    // crash after the sink write but before the commit: removing
    // commits/0 makes the restart replay micro-batch 0
    val commits = java.nio.file.Paths.get(s"$root/ckpt/in/pipe-out/commits")
    assert(Files.deleteIfExists(commits.resolve("0")))
    Files.deleteIfExists(commits.resolve(".0.crc"))
    pipe()
    val landed = spark.read.format("graftlog").load(s"$root/out")
      .select(get_json_object(col("value"), "$.event_id")).as[String].collect().toSeq
    assert(landed.sorted == Seq("e1", "e2"), s"a replayed batch must land once: $landed")
  }

  test("windowAggregate emits closed windows once the watermark passes") {
    val (root, s) = mkStream()
    def runAgg(): Unit = s.windowAggregate("tx", TumblingWindow(10000),
      Seq(col("key")), Seq(sum(col("amount")).as("total")),
      outTopic = "tx-agg",
      prepare = df => df.withColumn("ts", timestamp_seconds(col("sec")))
    ).awaitTermination()

    s.emit(events(("e1", "a", 5.0, 10.0), ("e2", "a", 8.0, 5.0), ("e3", "b", 6.0, 100.0)), "tx")
    runAgg() // watermark still at epoch start → append emits nothing yet
    // a much-later event advances the watermark past [0,10) on the next run
    s.emit(events(("e9", "z", 1000.0, 0.0)), "tx")
    runAgg()

    val agg = spark.read.option("recursiveFileLookup", "true").json(s"$root/tx-agg")
    val got = agg.select(col("key"), col("total"))
      .as[(String, Double)].collect().toSet
    assert(got == Set(("a", 15.0), ("b", 100.0)))
  }

  test("route: streaming fan-out to per-route topics") {
    val (_, s) = mkStream()
    s.emit(events(("e1", "a", 1.0, 20000.0), ("e2", "b", 2.0, 10.0)), "tx")
    val router = new StreamRouter(Seq((col("amount") > 10000, "high")), Some("std"))
    s.route("tx", router).awaitTermination()
    val high = scala.collection.mutable.ArrayBuffer.empty[String]
    s.subscribe("high") { (b, _) => high ++= b.select("event_id").as[String].collect() }
      .awaitTermination()
    assert(high.toSeq == Seq("e1"))
  }

  test("metrics listener counts processed rows; function sink is idempotent") {
    val (root, s) = mkStream()
    val metrics = GraftMetrics.install(spark)
    try {
      s.emit(events(("e1", "a", 1.0, 1.0), ("e2", "b", 2.0, 2.0)), "tx")
      s.subscribe("tx") { (b, _) => b.count(); () }.awaitTermination()
      // listener events arrive asynchronously; eventuallyProcessed polls
      eventuallyProcessed(metrics, 2)

      FacadeSpec.sent.set(0)
      val sink = new FunctionSink("http", s"$root/tokens")(_ => FacadeSpec.sent.incrementAndGet())
      val b = events(("e1", "a", 1.0, 1.0), ("e1", "a", 1.0, 1.0), ("e2", "b", 2.0, 2.0))
      assert(sink.write(spark, b, "event_id") == 2)
      assert(FacadeSpec.sent.get() == 2)
      assert(sink.write(spark, events(("e2", "b", 2.0, 2.0)), "event_id") == 0)
      assert(FacadeSpec.sent.get() == 2)
    } finally spark.streams.removeListener(metrics)
  }

  private def eventuallyProcessed(m: GraftMetrics, atLeast: Long): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (m.messagesProcessed.sum() < atLeast && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(m.messagesProcessed.sum() >= atLeast)
  }
}
