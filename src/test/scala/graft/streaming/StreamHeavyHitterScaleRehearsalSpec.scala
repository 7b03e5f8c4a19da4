package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Frequency

/** Scale rehearsal for the streaming heavy-hitter loop — the sketch
  * twin of WinnowIngestScaleRehearsalSpec. w15 grades the operator at
  * four micro-batches with a budget large enough that the MG summary
  * never overflows; "the state store never grows with the stream" is a
  * claim about the DECREMENT regime, so this runs 16 single-file drops
  * through one checkpointed query with a deliberately tight m = 32
  * against a 300-new-tail-keys-per-drop stream (every batch overflows
  * every range's summary many times) and asserts:
  *
  *  (a) BOUNDED STATE at EVERY emission: no per-range summary ever
  *      exceeds m entries — state is O(ranges × m) forever, never
  *      O(distinct keys), which is the whole point of carrying MG
  *      instead of exact counts in transformWithState.
  *  (b) THE GUARD'S ARITHMETIC, both directions: the final per-range
  *      row counts satisfy n_r < minFreq × m (superset guaranteed) for
  *      the graded budget, and a too-low minFreq FAILS the same
  *      inequality — the loud-refusal direction w15's in-query require
  *      encodes.
  *  (c) EXACTNESS under heavy decrement churn: the candidate superset
  *      survives 16 batches of eviction pressure and the exact confirm
  *      equals the batch GROUP BY ... HAVING verbatim.
  */
class StreamHeavyHitterScaleRehearsalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("16-drop streaming MG: state bounded at m under churn, guard arithmetic, exact confirm == batch HAVING") {
    val nDrops = 16
    val root = Files.createTempDirectory("graft_hh_rehearsal").toString
    val heavy = (1 to 5).map(h => s"heavy$h")
    // per drop: 5 heavy keys × 40 copies + 300 NEVER-REPEATING tail
    // keys — the tail is what forces decrements at m = 32
    def dropDf(k: Int) = {
      val rows = heavy.flatMap(h => Seq.fill(40)(h)) ++
        (0 until 300).map(i => s"t${k}_$i")
      rows.toDF("s")
    }
    (0 until nDrops).foreach(k =>
      dropDf(k).coalesce(1).write.mode("append").parquet(s"$root/src"))

    val nRanges = 4
    val m = 32
    val minFreq = 300L
    // NOT Scratch.view: the spec drops its own sink at the end —
    // registering it would hand ScratchSpec's purge an extra view and
    // make that test's exact reclaim counts order-dependent
    val sink = "hh_rehearsal_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    var progresses = Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val t = graft.GraftSession.withConf(spark, graft.GraftSession.RocksDBStateStore) {
      val src = spark.readStream.schema(dropDf(0).schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val typed = src
        .select(pmod(hash(col("s")), lit(nRanges)).cast("int").as("r"), col("s"))
        .as[(Int, String)]
      val folded = graft.streaming.KeyedState
        .runningFoldTws[Int, (Int, String), (Long, Map[String, Long])](
          typed, _._1, (0L, Map.empty[String, Long])) {
          case ((n, sum), (_, s0)) => (n + 1L, Frequency.mgFold(sum, s0, m))
        }
      val q = folded.map { case (r, (n, sum)) => (r, n, sum) }
        .toDF("r", "n_seen", "counters")
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$root/ckpt")
        .format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      progresses = q.recentProgress
      spark.table(sink)
    }

    // (a) every emission across all 16 batches stayed within the budget
    val worst = t.select(max(size(map_keys(col("counters"))))).head().getInt(0)
    assert(worst <= m, s"a summary emission carried $worst > m=$m counters")
    // (a') the same bound by the STATE STORE'S OWN accounting, not the
    // sink's emissions: at every committed micro-batch the TWS operator
    // held at most nRanges state rows (one value-state row per range) —
    // O(ranges), never O(keys) — per StreamingQueryProgress's
    // numRowsTotal counter, with memory usage actually reported
    val stateRows = progresses.filter(_.stateOperators.nonEmpty)
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
    assert(stateRows.nonEmpty,
      "expected stateOperators rows in the TWS query's progress events")
    assert(stateRows.forall(_ <= nRanges.toLong),
      s"state store exceeded nRanges=$nRanges rows at some batch: ${stateRows.mkString(" ")}")
    assert(stateRows.last >= 1L,
      s"final batch reported no state rows: ${stateRows.mkString(" ")}")
    assert(progresses.exists(_.stateOperators.exists(_.memoryUsedBytes > 0L)),
      "state store reported zero memory across all batches — the counter is not wired")
    // emissions actually spanned the drops (state merged repeatedly,
    // not one giant batch): every range emitted once per touched batch
    val emissions = t.groupBy(col("r")).count().select(min(col("count"))).head().getLong(0)
    assert(emissions >= nDrops / 2,
      s"expected per-range emissions on the order of $nDrops batches, got min $emissions")

    val fin = t.groupBy(col("r")).agg(max(col("n_seen")).as("n_fin"),
      max_by(col("counters"), col("n_seen")).as("counters"))
    // (b) the guard both ways: graded budget holds, starved budget trips
    val bounds = fin.select(col("r"), col("n_fin")).as[(Int, Long)].collect()
    bounds.foreach { case (r, n) =>
      assert(n < minFreq * m, s"range $r: $n rows break the minFreq=$minFreq bound")
      assert(n >= 50L * m, s"range $r: a minFreq of 50 must FAIL the same bound, got $n rows")
    }
    // (c) candidates survived the churn; exact confirm == batch HAVING
    val cands = fin.select(explode(map_keys(col("counters"))).as("s")).distinct()
    val all = spark.read.parquet(s"$root/src")
    val got = all.join(broadcast(cands), Seq("s"), "left_semi")
      .groupBy(col("s")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)].collect().toMap
    val want = all.groupBy(col("s")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .as[(String, Long)].collect().toMap
    assert(got == want && want.keySet == heavy.toSet,
      s"streamed confirm must equal the batch HAVING: got $got, want $want")
    // every frame above has been collected; the sink can go
    spark.catalog.dropTempView(sink): Unit
  }
}
