package graft.streaming

import graft.{GraftSession, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint resume for the transformWithState operators behind the
  * graded w8/w9/w10/w13 entries, on the RocksDB state store: a file
  * source fed one drop per trigger (DropLoop's landing), stopped after
  * commit 2 and restarted from the same checkpoint, emits exactly what
  * one uninterrupted run over the same drops emits. */
class TwsResumeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nDrops = 6

  /** Drop k: 8 users × 5 events with event time inside
    * [k·100 s, k·100 s + 99 s], so no drop is late for the next and some
    * sessions (25 s gap) run on across drop boundaries. */
  private def drop(k: Int): DataFrame =
    (for (u <- 0 until 8; j <- 0 until 5) yield (
      u.toLong,
      k * 100000L + ((u * 37 + j * j * 13 + k * 11) % 100) * 1000L,
      ((u * 131 + j * 17 + k * 7) % 1000).toLong,
      (k * 40 + u * 5 + j).toLong,
      Seq("click", "view", "buy")((u + j * k) % 3)))
      .toDF("user_id", "ts_ms", "cents", "event_id", "event_type")

  /** Every row the query emits, over starts that each land drops up to
    * the next `legs` bound and drain them with AvailableNow. Batches
    * are kept by id, so a replayed batch replaces its first delivery. */
  private def emitted(name: String, legs: Seq[Int], outputMode: String)(
      build: DataFrame => DataFrame): Seq[String] = {
    val root = Files.createTempDirectory(s"tws_resume_$name").toString
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    GraftSession.withConf(spark, GraftSession.RocksDBStateStore) {
      legs.zip(0 +: legs).foreach { case (until, from) =>
        (from until until).foreach(k => DropLoop.landDrop(drop(k), s"$root/src", k))
        build(spark.readStream.schema(drop(0).schema).option("maxFilesPerTrigger", "1")
            .parquet(s"$root/src"))
          .writeStream.outputMode(outputMode)
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            out.put(id, b.collect().map(_.toString).toSeq); ()
          }
          .start().awaitTermination()
        if (until == 3) // the first of two starts stopped after commit 2
          assert(Files.exists(Paths.get(root, "ckpt", "commits", "2")))
      }
    }
    out.values.asScala.flatten.toSeq.sorted
  }

  private def resumeEqualsUninterrupted(name: String, outputMode: String)(
      build: DataFrame => DataFrame): Unit = {
    val whole = emitted(s"${name}_whole", Seq(nDrops), outputMode)(build)
    val resumed = emitted(s"${name}_resumed", Seq(3, nDrops), outputMode)(build)
    assert(whole.nonEmpty)
    assert(resumed == whole)
  }

  test("runningFoldTws resumes from its checkpoint as if uninterrupted") {
    resumeEqualsUninterrupted("fold", "update") { src =>
      KeyedState.runningFoldTws[Long, (Long, Long), (Long, Long)](
        src.select("user_id", "cents").as[(Long, Long)], _._1, (0L, 0L)) {
        case ((n, cents), (_, c)) => (n + 1, cents + c)
      }.toDF("user_id", "state")
    }
  }

  test("sessionizeTws resumes with its open sessions and timers as if uninterrupted") {
    resumeEqualsUninterrupted("sessions", "append") { src =>
      val typed = src.withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts_ms").as[(Long, Long)]
      KeyedState.sessionizeTws(typed, gap = 25000L).toDF("user_id", "start", "end", "n")
    }
  }

  test("topKTws resumes its list state as if uninterrupted") {
    resumeEqualsUninterrupted("topk", "update") { src =>
      KeyedState.topKTws(src.select("user_id", "cents", "event_id").as[(Long, Long, Long)], k = 3)
        .toDF("user_id", "n_seen", "rk", "cents", "event_id")
    }
  }

  test("changeLogTws resumes its CDC ledger as if uninterrupted") {
    resumeEqualsUninterrupted("cdc", "update") { src =>
      KeyedState.changeLogTws(src.select("user_id", "event_id", "event_type").as[(Long, Long, String)])
        .toDF("user_id", "n_upserts", "n_new", "n_changed", "n_unchanged", "last_type")
    }
  }
}
