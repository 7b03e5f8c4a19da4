package graft

/** Scans every query's physical plan for red-flag operators
  * (cartesian products, nested-loop joins) — the plans that die first at
  * scale. Intentional ones are allowlisted with a reason. */
object PlanAudit {
  private val allow = Map(
    // 1-row watermark scalar broadcast-crossed into events
    "w5_late_split" -> "1-row watermark scalar broadcast-crossed into events",
    // brute-force ANN baseline: tiny query side (10 vecs) broadcast-
    // crossed with the corpus is the intended one-scan plan; the scale
    // path is Similarity.lshTopK's equi-joined buckets
    "l9_ann_topk" -> "tiny broadcast query side x corpus scan (brute-force baseline)",
    // all-pairs cosine baseline: engine-managed broadcast self-join —
    // Spark enforces the broadcast size bound (vs. a driver collect,
    // which had no bound); Similarity.lshTopK buckets are the scale path
    "l8_embed_pairs" -> "broadcast self-join all-pairs cosine baseline (size-bounded by engine)",
    // semantic decontamination scores every train vector against the
    // BENCHMARK-sized eval side — broadcast-crossing the (small by
    // nature) eval frame into one corpus scan IS the intended plan
    // (train never pairs with train); engine-bounded like l8/l9
    "l73_semantic_decontaminate" -> "benchmark-sized eval side broadcast-crossed into one corpus scan (size-bounded by engine)",
    // the next three cross ONE broadcast stats row (corpus-level
    // constants: mix scale / bm25 avgdl+N / LM vocab+total) into the
    // corpus — a scalar join, not a data x data nested loop
    "l29_domain_mix" -> "1-row mix-scale stat frame broadcast-crossed into the corpus",
    "l33_bm25" -> "1-row (N, avgdl) stat frame broadcast-crossed into the term join",
    "l42_lm_xentropy" -> "1-row (vocab, total) stat frame broadcast-crossed into the corpus",
    // the exact-integer coin compares hash·maxW < w·2^32 against the
    // 1-row max-weight aggregate — a scalar join, not data x data
    "x13_weighted_sample" -> "1-row max-weight stat frame broadcast-crossed into the corpus")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.graded("graft-plan-audit")
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"ERROR ${e.getMessage}" }
      val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "ERROR")
        .filter(plan.contains)
      if (flags.nonEmpty) {
        val note = allow.get(name).map(r => s"ALLOWED ($r)").getOrElse { bad += 1; "RED FLAG" }
        println(s"[audit] $name: ${flags.mkString(",")} -> $note")
      }
    }
    println(s"[audit] done, $bad unexplained red flags")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
