package graft.queries

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
}
