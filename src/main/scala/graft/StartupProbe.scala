package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Diagnostic main: decompose the fixed per-`start()` cost of a
  * streaming query — the measured ~70 % startup share of the graded
  * crawl-loop entries (Bench's startup_s column). Not a graded
  * surface; run with
  *   sbt "runMain graft.StartupProbe"
  * and quote the one-line JSON in README. Axes measured, each as the
  * median of `reps` runs (fresh scratch dirs per rep):
  *
  *  - `fresh_s` / `resume_s`: first-ever start on a new checkpoint vs
  *    a checkpoint-resumed start over one new file — resume pays extra
  *    offset-log reads but skips source-schema/sink setup differences.
  *  - `second_batch_s`: the marginal cost of one MORE micro-batch
  *    inside a running AvailableNow query (two files at
  *    maxFilesPerTrigger=1, total minus single-batch run) — the number
  *    that justifies the two-start loop restructure: a batch inside a
  *    running query costs ~an order less than a batch behind its own
  *    start().
  *  - `stateful_extra_s`: the same fresh start with a keyed
  *    transformWithState agg (RocksDB provider) minus the stateless
  *    one — the state-store provider's share of startup.
  */
object StartupProbe {
  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "5").toInt
    val spark = GraftSession.graded("graft-startup-probe")
    import spark.implicits._

    def writeFile(dir: String, k: Int): Unit =
      (0 until 100).map(i => (k * 1000L + i, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    val schema = Seq((0L, "")).toDF("id", "v").schema

    def runOnce(src: String, ckpt: String, maxFiles: Boolean): Unit = {
      val rd = spark.readStream.schema(schema)
      val q = (if (maxFiles) rd.option("maxFilesPerTrigger", "1") else rd)
        .parquet(src)
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt).format("noop")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // warm the JVM/codegen once before measuring
    locally {
      val w = Scratch.dir("probe_warm"); writeFile(s"$w/src", 0)
      runOnce(s"$w/src", s"$w/ckpt", maxFiles = false)
    }

    val fresh = (1 to reps).map { _ =>
      val d = Scratch.dir("probe_fresh"); writeFile(s"$d/src", 0)
      timed(runOnce(s"$d/src", s"$d/ckpt", maxFiles = false))
    }
    val resume = (1 to reps).map { _ =>
      val d = Scratch.dir("probe_resume"); writeFile(s"$d/src", 0)
      runOnce(s"$d/src", s"$d/ckpt", maxFiles = false)
      writeFile(s"$d/src", 1)
      timed(runOnce(s"$d/src", s"$d/ckpt", maxFiles = false))
    }
    val oneBatch = (1 to reps).map { _ =>
      val d = Scratch.dir("probe_b1"); writeFile(s"$d/src", 0)
      timed(runOnce(s"$d/src", s"$d/ckpt", maxFiles = true))
    }
    val twoBatch = (1 to reps).map { _ =>
      val d = Scratch.dir("probe_b2"); writeFile(s"$d/src", 0); writeFile(s"$d/src", 1)
      timed(runOnce(s"$d/src", s"$d/ckpt", maxFiles = true))
    }
    val stateful = GraftSession.withConf(spark, GraftSession.RocksDBStateStore) {
      (1 to reps).map { _ =>
        val d = Scratch.dir("probe_tws"); writeFile(s"$d/src", 0)
        timed {
          val typed = spark.readStream.schema(schema).parquet(s"$d/src")
            .select(col("id"), col("v")).as[(Long, String)]
          val q = graft.streaming.KeyedState
            .runningFoldTws[Long, (Long, String), Long](typed, _._1 % 8, 0L) {
              case (n, _) => n + 1L
            }
            .map { case (k, n) => (k, n) }.toDF("k", "n")
            .writeStream.outputMode("update")
            .option("checkpointLocation", s"$d/ckpt").format("noop")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
      }
    }

    val mFresh = median(fresh); val mResume = median(resume)
    val m1 = median(oneBatch); val m2 = median(twoBatch)
    val mStateful = median(stateful)
    println(f"""{"fresh_s":$mFresh%.3f,"resume_s":$mResume%.3f,"one_batch_run_s":$m1%.3f,"two_batch_run_s":$m2%.3f,"second_batch_s":${m2 - m1}%.3f,"stateful_fresh_s":$mStateful%.3f,"stateful_extra_s":${mStateful - mFresh}%.3f,"reps":$reps}""")
    spark.stop()
  }
}
