package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** Physical-plan shape assertions for the perf-critical compositions —
  * these lock in the round-5 plan fixes so a refactor can't silently
  * reintroduce the redundant work.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("l12: the tokenize→shingle subtree is built once (shared shingle frame + cached filter)") {
    val df = SparkEntry.queries("l12_data_pipeline")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the quality/langid filter stage is persisted: every consumer reads
    // the InMemoryRelation instead of re-running the regex scan
    assert(plan.contains("InMemoryTableScan"),
      "l12 must read its filter stage from cache")
    spark.sharedState.cacheManager.clearCache()
  }

  test("decontaminate: eval shingles broadcast; single aggregation after the mark join") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val q = graft.operators.Decontaminate.overlapStats(
      train = docs.filter(col("doc_id") % 50 =!= 0),
      eval = docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3, flagFrac = 0.5)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "the eval shingle set must broadcast (explicit hint, not threshold-dependent)")
    // one-pass stats: exactly one aggregate keyed on the doc id upstream
    // of the final left join (the old shape had two: cnt + hits)
    val hashAggs = "HashAggregate\\(keys=\\[doc_id".r.findAllIn(plan).size
    assert(hashAggs <= 4, // partial + final for ONE groupBy(doc_id), plus the
      // train.select(id) dedupe-free join side; two groupBys would exceed this
      s"expected one groupBy(doc_id) pass (<=4 HashAggregate nodes keyed on doc_id), got $hashAggs")
  }

  test("bloom decontamination: scalar-subquery bloom probe prefilters the train shingles") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    // the probe/aggregate/branch-split now run eagerly inside the call
    // (the staged stats are localCheckpointed so the shingle cache can
    // be released there) — capture the executed plans with a listener
    // and assert the shapes on what actually ran
    val executed = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        executed.add((qe.analyzed.toString, qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    import scala.jdk.CollectionConverters._
    def seen(p: ((String, String)) => Boolean): Boolean = executed.asScala.exists(p)
    spark.listenerManager.register(listener)
    try {
      graft.operators.Decontaminate.bloomOverlapStats(
        train = docs.filter(col("doc_id") % 40 =!= 0),
        eval = docs.filter(col("doc_id") % 40 === 0),
        "doc_id", "text", n = 3, flagFrac = 0.3, expectedEvalShingles = 1 << 16)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen(_._1.contains("might_contain")) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(seen(_._1.contains("might_contain")),
      "the bloom membership probe must prefilter the train shingle stream")
    assert(seen(_._1.contains("bloom_filter_agg")),
      "the filter must be built by the one-pass BloomFilterAggregate subquery")
    // the maybe/clean branch split must read the STAGED marked frame,
    // not re-run the tokenize→explode→distinct shuffle per branch
    assert(seen(e => e._1.contains("might_contain") && e._2.contains("InMemoryTableScan")),
      "both branches must read the persisted marked shingle frame")
    spark.sharedState.cacheManager.clearCache()
  }

  test("multi-table LSH pairs: vectors join back AFTER candidate dedup (ids only in the bucket join)") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val q = graft.operators.Similarity.lshCosinePairs(
      emb, "vec_id", "embedding", dim = 64, nPlanes = 4, nTables = 6, threshold = 0.4)
    val optimized = q.queryExecution.optimizedPlan.toString
    // the aggregate that dedups candidate pairs must see only ids —
    // if the embedding column appears below the dedup Aggregate, the
    // vectors are riding the bucket shuffle again
    val aggIdx = optimized.indexOf("Aggregate [da")
    assert(aggIdx >= 0, "candidate-dedup aggregate not found")
    val belowAgg = optimized.substring(aggIdx)
    assert(!belowAgg.contains("FloatVecDot"),
      "scoring must happen above the candidate dedup, not below it")
  }

  /** Red-flag operators: the plans that die first at scale. */
  private val redFlags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  /** Queries whose red flag is intentional, with the reason. */
  private val allowed = Map(
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
    // the next two cross ONE broadcast stats row (corpus-level
    // constants: bm25 avgdl+N / LM vocab+total) into the corpus — a
    // scalar join, not a data x data nested loop
    "l33_bm25" -> "1-row (N, avgdl) stat frame broadcast-crossed into the term join",
    "l42_lm_xentropy" -> "1-row (vocab, total) stat frame broadcast-crossed into the corpus",
    // the exact-integer coin compares hash·maxW < w·2^32 against the
    // 1-row max-weight aggregate — a scalar join, not data x data
    "x13_weighted_sample" -> "1-row max-weight stat frame broadcast-crossed into the corpus")

  /** Each query's physical plan, or what kept it from building. Only the
    * plan text is kept, so the blocks, scratch dirs and memory-sink
    * views a query leaves behind are released before the next one. */
  private def plans(queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Try[String])] =
    queries.map { case (name, fn) =>
      val plan = Try(fn(spark, sfDir).queryExecution.executedPlan.toString)
      graft.GraftSession.releaseCached(spark)
      graft.Scratch.purge(spark)
      name -> plan
    }

  /** Everything the audit rejects: a plan that failed to build (whether
    * or not its query is allowlisted), a red flag on a query that is not
    * allowlisted, and an allowlist entry that names no audited query or
    * whose plan shows no red flag. */
  private def auditProblems(plans: Seq[(String, Try[String])],
                            allow: Map[String, String]): Seq[String] = {
    val flags = plans.map { case (n, p) => n -> p.map(pl => redFlags.filter(pl.contains)) }.toMap
    val unexplained = plans.map(_._1).sorted.flatMap { n =>
      flags(n) match {
        case Failure(e) => Some(s"$n: plan failed to build: ${e.getMessage}")
        case Success(fs) if fs.nonEmpty && !allow.contains(n) =>
          Some(s"$n: ${fs.mkString(",")} is not allowlisted")
        case _ => None
      }
    }
    val stale = allow.keys.toSeq.sorted.flatMap { n =>
      flags.get(n) match {
        case None => Some(s"$n: allowlisted, but no such query")
        case Some(Success(Seq())) => Some(s"$n: allowlisted, but its plan has no red flag")
        case _ => None
      }
    }
    unexplained ++ stale
  }

  test("plan audit: no registry query holds an unexplained cartesian product or nested-loop join, and every allowlist entry is live") {
    val t0 = System.nanoTime()
    val problems = auditProblems(plans(SparkEntry.defs.map(d => d.name -> d.build)), allowed)
    info(f"${SparkEntry.defs.size} plans audited in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  test("plan audit rejects a build failure (allowlisted or not), a planted cartesian product and stale allowlist entries") {
    val tiny: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("a")
    val planted = plans(Seq(
      "clean" -> tiny,
      "cartesian" -> ((s, d) => tiny(s, d).hint("shuffle_replicate_nl")
        .crossJoin(tiny(s, d).toDF("b"))),
      "broken" -> ((s, d) => s.read.parquet(s"$d/no_such_table.parquet")),
      "broken_allowed" -> ((s, d) => s.read.parquet(s"$d/no_such_table.parquet"))))
    assert(planted.toMap.apply("cartesian").get.contains("CartesianProduct"))
    val problems = auditProblems(planted, Map(
      "broken_allowed" -> "allowlisted, yet a failed build must still fail",
      "clean" -> "stale: no red flag in its plan",
      "gone" -> "stale: no such query"))
    assert(problems.map(_.takeWhile(_ != ':')) ==
      Seq("broken", "broken_allowed", "cartesian", "clean", "gone"), problems.mkString("\n"))
    assert(auditProblems(planted.filter(_._1 == "clean"), Map.empty).isEmpty)
  }
}
