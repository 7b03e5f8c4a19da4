package graftbench

import java.nio.file.Paths

/** Open-loop load for the `events_stream` tail, run as its own process.
  * One thread appends to the topic through `GraftLog.appendBatch` at a
  * fixed rate: every tick's events are stamped with the tick's
  * scheduled time, and a producer that falls behind catches up without
  * re-stamping, so consumer latency is measured from when each event was
  * due, not from when it was written. At the end it writes what a
  * correct consumer must count (see `EventGen.Expected`) and how late
  * the ticks were written (median and maximum).
  *
  * Usage: TailProducer <topicDir> <seed> <ratePerS> <startEpochMs>
  *        <durationMs> <timelineStartMs> <expectedOut> */
object TailProducer {
  val TickMs = 20L
  /** Tail event ids start here, above any backlog id. */
  val FirstEid = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(topicDir, seedS, rateS, startS, durS, t0S, out) = args
    val rate = rateS.toInt
    val start = startS.toLong
    val dur = durS.toLong
    val src = new EventGen.Source(seedS.toLong, t0S.toLong)
    val exp = new EventGen.Expected
    val ticks = dur / TickMs
    var eid = FirstEid
    var k = 0L
    val lateMs = new Array[Long](ticks.toInt)
    while (k < ticks) {
      val due = start + k * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lateMs(k.toInt) = math.max(0L, System.currentTimeMillis() - due)
      val n = (rate * (k + 1) * TickMs / 1000) - (rate * k * TickMs / 1000)
      val evs = (0L until n).map { _ =>
        val e = src.next(eid, due)
        eid += 1
        exp.add(e)
        e
      }
      EventGen.append(topicDir, evs, due)
      k += 1
    }
    java.util.Arrays.sort(lateMs)
    exp.generatorLateMs = Seq(lateMs(lateMs.length / 2), lateMs(lateMs.length - 1))
    exp.write(Paths.get(out))
  }
}
