package graft

/** Plan inspection utility: prints the formatted physical plan for the
  * named queries (or all). Usage: sbt "runMain graft.Explain q1_agg q3_join"
  *
  * `SPARK_GRAFT_SHUFFLES=1` switches to the quantitative audit: one
  * `name shuffles=N` line per query from the EXECUTED adaptive plan
  * (Bucketing.shuffleExchangeCount — runtime re-planning included), the
  * scoreboard for "is there a shuffle here that becomes the bottleneck
  * at scale". Streaming-backed queries (runTws, the l6x store-building
  * loops) execute their side effects to produce the final frame, like
  * any run of those queries.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.graded("graft-explain")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val shuffleAudit = sys.env.get("SPARK_GRAFT_SHUFFLES").exists(_.nonEmpty)
    names.foreach { n =>
      if (shuffleAudit) {
        // EXECUTED distinct exchanges (the cost view — comparable
        // round-over-round), with exchange reuse reported separately:
        // reuse reads an already-materialized shuffle, so it is a plan
        // improvement, not added work
        val c =
          try {
            val (distinct, reuse) = graft.operators.Bucketing
              .executedShuffleCount(SparkEntry.queries(n)(spark, sfDir))
            if (reuse > 0) s"$distinct reuse=$reuse" else s"$distinct"
          } catch { case scala.util.control.NonFatal(e) => s"err:${e.getMessage.take(60)}" }
        println(f"$n%-28s shuffles=$c")
      } else {
        println(s"========== $n ==========")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
