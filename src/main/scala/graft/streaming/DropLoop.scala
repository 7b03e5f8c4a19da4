package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession

/** The two-start crawl-drop driver every checkpointed ingest loop of
  * the query suite runs on (the dedup, winnow, decontamination and
  * vector store loops, and the CDC write-suppression loop).
  *
  * Drops `0 until firstLeg` land first as single pinned-mtime files
  * under `root/src`, and ONE AvailableNow start at
  * `maxFilesPerTrigger=1` drains them as micro-batches
  * `0 until firstLeg` — the fixed per-`start()` cost (~70 % of these
  * entries' wall time at sf0.1, measured by Bench's startup_s column)
  * is paid once instead of once per drop. The remaining drops land
  * only AFTER that run exits, so the second start is a GENUINE
  * checkpoint RESUME: the carried source log assigns them the next
  * batch ids and their turns read the first run's store partitions
  * strictly below them — the restart contract stays graded, not just
  * rehearsed. Semantics are unchanged from one start per drop (batch k
  * still probes exactly drops < k), enforced after each start by
  * `requireDropBatches` over the loop's `root/out` verdict partitions.
  *
  * Both starts run at one shuffle-partition count derived from the
  * SIZE of `input`, not the core count: streaming plans (everything
  * inside foreachBatch included) run with AQE off, so nothing else
  * right-sizes the per-drop shuffles, state stores and store writes —
  * and a stateful checkpoint pins the first start's count, so the
  * second start must derive it from the same frame. */
private[graft] object DropLoop {

  /** Land drop `k` as exactly ONE source file whose mtime is PINNED to
    * epoch `(k+1)` seconds. The file stream source orders available
    * files oldest-first by modification time, so the pin makes
    * "micro-batch k == drop k" a deterministic property of the data
    * instead of the writer's clock — the loops' strictly-before store
    * reads (and their oracles' drop assignment) ride on exactly that
    * mapping. Fresh (just-written, still clock-stamped) files are
    * distinguished from already-pinned ones by their ~current mtime. */
  def landDrop(drop: DataFrame, srcDir: String, k: Int): Unit = {
    drop.coalesce(1).write.mode("append").parquet(srcDir)
    val p = new Path(srcDir)
    val fs = p.getFileSystem(drop.sparkSession.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        st.getModificationTime > 1000L * 1000)
      .foreach(st => fs.setTimes(st.getPath, 1000L * (k + 1), -1))
  }

  /** The committed verdict-partition ids under `outDir` must be exactly
    * 0 until n — one micro-batch per landed drop, none split, none
    * skipped. Enforced executably after each start so a trigger-config
    * drift fails HERE, not as a silent oracle desync. */
  def requireDropBatches(outDir: String, n: Int): Unit = {
    val ids = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .map(_.getName.stripPrefix("ingest_batch=").toLong).sorted
    require(ids == (0L until n.toLong),
      s"expected one micro-batch per drop (ids 0..${n - 1}), got [${ids.mkString(", ")}] — " +
        "the one-batch-per-drop trigger contract broke")
  }

  /** Drive `drops` (each a slice of `input`) through the loop `start`
    * builds over the drop source, in two starts split at `firstLeg`.
    * `checkBatches = false` is for loops that write no `ingest_batch=`
    * partitions under `root/out`; they pin their own outcome. */
  def run(input: DataFrame, drops: Seq[DataFrame], root: String,
          firstLeg: Int = 3, checkBatches: Boolean = true)(
      start: DataFrame => StreamingQuery): Unit = {
    val s = input.sparkSession
    val nParts = GraftSession.streamPartitionsFor(input)
    def leg(from: Int, until: Int): Unit = {
      (from until until).foreach(k => landDrop(drops(k), s"$root/src", k))
      GraftSession.withShufflePartitions(s, nParts) {
        start(s.readStream.schema(input.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$root/src")).awaitTermination()
      }
      if (checkBatches) requireDropBatches(s"$root/out", until)
    }
    leg(0, firstLeg)
    leg(firstLeg, drops.size)
  }
}
