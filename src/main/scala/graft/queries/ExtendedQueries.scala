package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Second wave of relational coverage: cube, running window frames,
  * subqueries, date/string function libraries, approximate sketches,
  * multi-topic fan-in (the reference's clone_with_topic union analog,
  * pspf/stream.py:133-150).
  */
object ExtendedQueries {
  private val d = DecimalType(18, 2)
  private def dec(c: String) = col(c).cast(d)

  /** The graded per-group summary of the document selection queries
    * (x13, x15, x17-x20): row count `n`, exact char total and first
    * doc, ordered by the group. */
  private def charSummary(by: String, n: String = "n")(df: DataFrame): DataFrame =
    df.groupBy(col(by))
      .agg(count(lit(1)).as(n), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col(by))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CUBE grouping sets.
    "x1_cube" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // Running-total window frame per customer (exact decimal internally —
    // frame-order independent of partial-agg parallelism).
    "x2_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .withColumn("running", sum(dec("o_totalprice")).over(w).cast(DoubleType))
        .filter(col("o_custkey") <= 50)
        .select(col("o_custkey"), col("o_orderkey"), col("running"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // IN + correlated EXISTS subqueries (via SQL over registered views).
    "x3_subqueries" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, COUNT(*) AS n
          |FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          |  AND EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o_custkey AND c.c_acctbal > 1000.0)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // Date/time function library.
    "x4_date_funcs" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast("date").cast("string").as("month_start"),
          last_day(col("o_orderdate")).cast("string").as("month_end"),
          datediff(to_date(lit("1998-12-31")), col("o_orderdate").cast("date")).as("days_to_eoy"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy(col("o_orderkey"))
    }),

    // String function library, part 2.
    "x5_string_funcs" -> ((s, dir) => {
      Tables.load(s, dir, "part")
        .filter(col("p_partkey") % 53 === 0)
        .select(col("p_partkey"),
          split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          translate(col("p_brand"), "#", "-").as("brand_t"),
          reverse(col("p_name")).as("name_rev"),
          trim(col("p_name")).as("name_trim"),
          locate("a", col("p_name")).as("first_a"))
        .orderBy(col("p_partkey"))
    }),

    // Approximate sketches (HLL count-distinct + KLL-style quantile).
    // Sketch VALUES are engine-private, so the cross-engine check is the
    // sketch's error bound: Spark computes approx AND exact in one plan
    // and emits the assertion columns; the oracle emits literal TRUE —
    // the driver's hash compare then verifies the bound holds.
    "x6_approx_sketches" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // exact distinct via two-phase (distinct on the pair key → tiny
      // count): shuffles (flag, partkey) across ALL partitions, where
      // countDistinct's expand would funnel every row into one reducer
      // per group (3 here) — measured 2.4× on this query, and the
      // difference between a plan that scales and one that doesn't at
      // low group cardinality. The exact legs exist only to verify the
      // sketches; the sketches are the scale path.
      // the assertions verify each sketch's OWN contract: HLL advertises
      // ~5% relative-standard-deviation on the count (3σ bound below —
      // a 1σ bound would legitimately fail ~1/3 of the time), and the
      // quantile sketch guarantees RANK accuracy (1/1000 here), not
      // value closeness — so the approx median must land inside a
      // generous exact rank window, whatever the value distribution
      val sketches = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("ac"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("am"),
          // both rank bounds from ONE exact-percentile buffer pass
          expr("percentile(l_extendedprice, array(0.45D, 0.55D))").as("pr"))
      val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("ec"))
      sketches.join(exact, "l_returnflag")
        .select(col("l_returnflag"),
          (abs(col("ac") - col("ec")) / col("ec") < 0.15).as("cnt_ok"),
          (col("am") >= col("pr")(0) && col("am") <= col("pr")(1)).as("med_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Arbitrary GROUPING SETS (beyond rollup/cube lattices).
    "x8_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
          |  COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY returnflag, linestatus""".stripMargin)
    }),

    // Bucketed co-location UNDER GRADING (VERDICT r8 item 1): persist
    // documents + per-doc dedup verdicts via writeBucketed (external
    // tables under a Scratch dir), then run the documents↔verdicts join
    // EXCHANGE-FREE — the repeated big-big join of a 100 TB corpus
    // priced at scan+merge instead of scan+shuffle+merge. Two executable
    // claims INSIDE the query, so a regression fails the row rather
    // than degrading silently: (a) the bucketed join's executed
    // adaptive plan has ZERO shuffles (forced SMJ — broadcast would be
    // vacuous); (b) its result multiset equals the plain shuffled
    // join's. The returned rows are then hash-graded against DuckDB
    // computing the same join relationally.
    "x9_bucketed_join" -> ((s, dir) => {
      import graft.operators.Bucketing
      val docs = Tables.load(s, dir, "documents")
      val proj = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      // exact-dup verdict: canonical keep_id = min doc_id per content
      // hash (md5 — the engine-portable hash used across the l-suite)
      val verdicts = docs.select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))).as("keep_id"))
      val root = graft.Scratch.dir("graft_bkt")
      Bucketing.writeBucketed(proj, "x9_docs_bkt", "doc_id", 8,
        path = Some(s"$root/docs"))
      Bucketing.writeBucketed(verdicts, "x9_verdicts_bkt", "doc_id", 8,
        path = Some(s"$root/verdicts"))
      val joined = Bucketing.bucketedJoin(s, "x9_docs_bkt", "x9_verdicts_bkt",
          "doc_id", forceSortMerge = true)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("keep_id"))
      require(Bucketing.shuffleExchangeCount(joined) == 0,
        "bucketed documents↔verdicts join must be exchange-free")
      val plain = proj.join(verdicts, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("keep_id"))
      require(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty,
        "bucketed join result must equal the shuffled plan's")
      joined
        .select(col("doc_id"), col("lang"), col("n_chars"), col("keep_id"),
          (col("doc_id") =!= col("keep_id")).as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // Salted two-phase aggregation UNDER GRADING (VERDICT r8 item 4):
    // ~50% of events collapse onto one synthesized hot key — the
    // single-reducer straggler shape at 100 TB — and the salted
    // spread-then-merge result is hash-graded against DuckDB's plain
    // GROUP BY: salted == unsalted, bit for bit (decimal partials are
    // associative; the salt phase spreads the hot key over 16 reducers).
    "x10_salted_agg" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(when(col("user_id") % 10 < 5, lit(0L))
            .otherwise(col("user_id")).as("hot_key"),
          dec("value").as("v"))
      graft.operators.Skew.saltedSumCount(e, Seq("hot_key"), "v", nSalts = 16)
        .select(col("hot_key"), col("n"),
          col("sum_v").cast(DoubleType).as("sum_value"))
        .orderBy(col("hot_key"))
    }),

    // Salted replicate-join under grading: the hot probe key (~50% of
    // events remapped to uid=1) joins a replicated dim side so no
    // single task owns the hot key's matches; inner-join semantics are
    // unchanged, graded against DuckDB's plain join + GROUP BY.
    "x11_salted_join" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(when(col("user_id") % 10 < 5, lit(1L))
            .otherwise(col("user_id")).as("uid"),
          dec("value").as("v"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(e, c, "uid", "c_custkey", nSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("v")).cast(DoubleType).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // Z-order + file-stats skipping UNDER GRADING (Layout was the last
    // spec-only-never-graded component): lineitem is rewritten into a
    // 2-D z-ordered clustered copy with a `_filestats` sidecar, then a
    // 2-D range predicate (≈1/16 of the key plane) is answered reading
    // ONLY the files whose stats intersect it. Two executable claims
    // inside the query: (a) the pruned scan reads strictly fewer files
    // than the store holds — the layout actually skips; (b) the graded
    // rows come from pruned-scan + residual filter, so a green hash row
    // proves skipping is loss-free (superset guarantee holds). DuckDB
    // grades the VALUES by full-scanning the original table with the
    // same predicate. Bounds are SF-relative (max/4 etc., one bounded
    // scalar fetch) so the same text grades at every scale factor.
    "x12_zorder_skip" -> ((s, dir) => {
      import graft.operators.Layout
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          dec("l_quantity").as("qty"), col("l_returnflag"))
      val root = graft.Scratch.dir("graft_zorder")
      Layout.writeClustered(li, s"$root/li",
        Seq("l_orderkey", "l_partkey"), numPartitions = 16)
      val b = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
      val okHi = b.getLong(0) / 4
      val pkLo = b.getLong(1) / 4; val pkHi = b.getLong(1) / 2
      val scan = Layout.prunedRead(s, s"$root/li", Seq(
        Layout.ColRange("l_orderkey", 0, okHi.toDouble),
        Layout.ColRange("l_partkey", pkLo.toDouble, pkHi.toDouble)))
      require(scan.filesRead < scan.filesTotal,
        s"z-order skipping must prune files: read ${scan.filesRead} of ${scan.filesTotal}")
      scan.df
        .filter(col("l_orderkey") <= okHi &&
          col("l_partkey").between(pkLo, pkHi))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty")).cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Quality-weighted Bernoulli sampling UNDER GRADING: inclusion
    // probability ∝ n_chars via the EXACT-INTEGER coin
    // `hash_u32 · maxW < w · 2^32` (Sampling.weightedByScore) — no
    // float division anywhere, so DuckDB replaying the same integer
    // arithmetic keeps bit-identical rows at every SF. The curation
    // step between "score the corpus" and "train on the good parts".
    "x13_weighted_sample" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.operators.Sampling.weightedByScore(d, "doc_id", "n_chars", salt = "wsamp9")
        .transform(charSummary("lang"))
    }),

    // Bloom-sidecar POINT lookup: the needle-in-haystack read min/max
    // stats can't price — fetch 5 specific doc_ids from a clustered
    // store reading only the files whose per-file Bloom admits a key.
    // In-query claim: the lookup reads strictly fewer files than the
    // store holds. A green hash row proves the superset guarantee
    // (Bloom prune + exact residual filter) is loss-free; DuckDB grades
    // by full-scanning the original table for the same SF-relative keys.
    "x14_bloom_lookup" -> ((s, dir) => {
      import graft.operators.Layout
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val root = graft.Scratch.dir("graft_bloom")
      Layout.writeClustered(d, s"$root/docs", Seq("doc_id"), numPartitions = 16)
      Layout.writeBloomSidecar(s, s"$root/docs", "doc_id")
      val mx = d.agg(max(col("doc_id"))).head().getLong(0)
      val keys = (1 to 5).map(i => mx / 5 * i)
      val scan = Layout.bloomPrunedRead(s, s"$root/docs", keys)
      require(scan.filesRead < scan.filesTotal,
        s"bloom lookup must prune files: read ${scan.filesRead} of ${scan.filesTotal}")
      scan.df.filter(col("doc_id").isin(keys: _*))
        .orderBy(col("doc_id"))
    }),

    // Balanced training-shard export: serpentine deal over the exact
    // DISTRIBUTED global rank (range shuffle + per-partition offsets —
    // never an unpartitioned window's single reducer), so N dataloader
    // shards carry near-equal token mass, not just near-equal counts.
    // Deterministic integer arithmetic end to end; DuckDB reproduces
    // the identical dealing from its own ROW_NUMBER at oracle scale.
    "x15_balanced_shards" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.operators.Packing.balancedShards(d, "doc_id", "n_chars", nShards = 8)
        .transform(charSummary("shard", n = "n_docs"))
    }),

    // Per-epoch deterministic dataloader order: epoch 3's permutation,
    // graded through position-block aggregates (min doc per 50-pos
    // block pins the permutation itself, not just its histogram).
    // DuckDB replays the identical md5-keyed ROW_NUMBER — rank is a
    // pure function of the total order, so the distributed range-
    // shuffle formulation and the single-window oracle must agree
    // bit-for-bit.
    "x16_epoch_order" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.operators.Packing.epochOrder(d, "doc_id", epoch = 3)
        .groupBy((col("pos") / 50).cast("long").as("pos_block"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("pos_block"))
    }),

    // Exactly-k-per-stratum selection: 50 eval docs per language via
    // the two-phase top-k (per-scan-partition prune, then the exact
    // bounded window — never a whole-stratum single-task sort). DuckDB
    // grades with the naive one-window formulation; hash equality
    // proves the pruned plan selects the identical rows.
    "x17_exact_k" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.operators.Sampling.exactKPerStratum(d, "lang", "doc_id", k = 50, salt = "xk9")
        .transform(charSummary("lang"))
    }),

    // Token-budget selection: keep the longest documents while the
    // running char total stays within 40% of the corpus — a
    // distributed prefix sum (range shuffle + O(partitions) offsets),
    // never SQL's single-task unpartitioned ordered window. Inclusive
    // semantics (a doc is kept iff the budget covers it entirely), so
    // DuckDB's ROWS UNBOUNDED PRECEDING cumsum replays the exact
    // frontier at every SF.
    "x18_token_budget" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val budget = d.agg(sum(col("n_chars"))).head().getLong(0) * 2 / 5
      graft.operators.Packing.selectByBudget(
          d, Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget)
        .transform(charSummary("lang"))
    }),

    // Temperature mixture resampling at α = 0.5: keep_rate per lang =
    // sqrt(n_min/n_s) — the mT5-style tail-boosting knob, graded on
    // the IEEE-exact sqrt path so DuckDB reproduces the rates
    // bit-for-bit (pow has no cross-libm rounding guarantee; sqrt
    // does).
    "x19_temperature_mix" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      graft.operators.Sampling.temperatureMix(d, "lang", "doc_id",
          alpha = 0.5, salt = "tmix9")
        .transform(charSummary("lang"))
    }),

    // The training-export pipeline COMPOSED: temperature-tempered
    // language mix (α=0.5) → token-budget selection (30% of the
    // tempered corpus) → balanced shard dealing (4 shards) — each step
    // graded alone in x19/x18/x15, this row grades their interplay:
    // the budget frontier runs over the SAMPLED corpus, the shard rank
    // over the BUDGETED corpus, and one drifted row anywhere upstream
    // hash-fails the whole chain. DuckDB replays the full chain as
    // window CTEs.
    "x20_export_pipeline" -> ((s, dir) => {
      import graft.operators.{Packing, Sampling}
      val d = Tables.load(s, dir, "documents")
      val mixed = Sampling.temperatureMix(d, "lang", "doc_id",
        alpha = 0.5, salt = "tmix9")
      val budget = mixed.agg(sum(col("n_chars"))).head().getLong(0) * 3 / 10
      val kept = Packing.selectByBudget(
        mixed, Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget)
      Packing.balancedShards(kept, "doc_id", "n_chars", nShards = 4)
        .transform(charSummary("shard", n = "n_docs"))
    }),

    // Cross-source quality calibration: a raw score threshold means a
    // different thing in every source (a "good" crawl doc ≠ a "good"
    // code doc), so curation thresholds are set on the PER-SOURCE
    // percentile, not the raw score. The percentile comes from
    // Packing.groupRank — the scalable replacement for
    // `percent_rank() OVER (PARTITION BY source)`, whose per-group
    // window would funnel a dominant source (60 % of a 100 TB corpus)
    // through ONE task. groupRank range-partitions by (source, score)
    // jointly, so a giant source spreads across the cluster; the
    // |sources|-row start-offset table broadcasts back. The calibrated
    // value is one exact-integer division per row — IEEE-identical in
    // any engine, so the oracle's percent_rank reproduces it bit-for-
    // bit (order is total via the doc_id tiebreak → rank == row_number).
    "x21_calibrated_quality" -> ((s, dir) => {
      import graft.operators.Packing
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      Packing.groupRank(d, "source", Seq(col("n_chars"), col("doc_id")))
        .withColumn("cal",
          when(col("group_n") === 1, lit(0.0))
            .otherwise(col("group_rank").cast(DoubleType) /
              (col("group_n") - 1).cast(DoubleType)))
        .filter(col("cal") >= 0.9)
        .select(col("doc_id"), col("source"), col("cal"))
        .orderBy(col("doc_id"))
    }),

    // Source-format round-trip: the corpus re-written as ORC, NDJSON,
    // and CSV, read back through each DataSource, and proven LOSSLESS
    // in-query (the signed multiset delta over every column must be
    // EMPTY — a loud failure, not a drifting count) before surfacing
    // one content profile per format for the oracle to grade. A user of the reference ingests
    // whatever the crawl ships; this row pins that every columnar/text
    // format Spark serves yields byte-identical relational content.
    // (The full-corpus delta is the graded-scale form of the check;
    // at 100 TB the same gate runs per ingest file, not per corpus.)
    "x22_format_roundtrip" -> ((s, dir) => {
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      val root = graft.Scratch.dir("graft_fmt")
      base.write.mode("overwrite").orc(s"$root/orc")
      base.write.mode("overwrite").json(s"$root/json")
      base.write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"").csv(s"$root/csv")
      val schema = base.schema
      val backs = Seq(
        "csv" -> s.read.schema(schema)
          .option("header", "true").option("escape", "\"")
          .option("multiLine", "true").csv(s"$root/csv"),
        "json" -> s.read.schema(schema).json(s"$root/json"),
        "orc" -> s.read.schema(schema).orc(s"$root/orc"),
        "parquet" -> base)
      // lossless = the signed multiset delta is EMPTY (Delta.scala —
      // one shuffle per format, both directions in the same pass;
      // DeltaSpec proves the gate FIRES on lost/changed/duplicated
      // rows, so this require is a tested tripwire, not decoration)
      backs.foreach { case (fmt, df) =>
        graft.operators.Delta.assertLossless(df, base, fmt)
      }
      backs.map { case (fmt, df) =>
        df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_id"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"))
          .select(lit(fmt).as("fmt"), col("n_docs"), col("sum_id"),
            col("sum_chars"), col("n_langs"))
      }.reduce(_ unionByName _).orderBy(col("fmt"))
    }),

    // Repeat-aware upsampling (data-constrained mixing): tail sources
    // repeat toward the head — factor f_s = min(sqrt(n_max/n_s), 3)
    // (sqrt tempering, epoch cap 3, the data-constrained-scaling
    // recipe) — via Sampling.repeatByFactor's stochastic rounding on
    // the shared md5 coin. Every copy row (doc_id, copy) is graded, so
    // a single drifted coin or off-by-one in the repeat expansion
    // hash-fails. Float discipline: f is one correctly-rounded sqrt +
    // min; frac(f) = f - floor(f) exactly; both engines compare the
    // identical doubles. Scale shape: |sources|-row factor table
    // broadcast onto the corpus, then a codegen'd explode — the corpus
    // is never shuffled (the output orderBy is the graded query's own
    // presentation sort).
    "x23_repeat_upsample" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val n = d.groupBy(col("source")).agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(lit(1))
      val factors = n.withColumn("_nmax", max(col("_n")).over(w))
        .select(col("source"),
          least(sqrt(col("_nmax").cast(DoubleType) / col("_n").cast(DoubleType)),
            lit(3.0)).as("_f"))
      Sampling.repeatByFactor(d.join(broadcast(factors), "source"),
          "doc_id", col("_f"), salt = "rep10")
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),

    // Upsampled-corpus epoch export: x23's repeat expansion composed
    // into x16's per-epoch permutation. Each (doc, copy) pair is an
    // INDEPENDENT dataloader key — copies of a repeated document
    // disperse across the epoch instead of training back-to-back,
    // which is the point of shuffling a repeated corpus. Graded like
    // x16 via 100-position blocks over the EXPANDED corpus (count,
    // token mass, first key, upsampled-copy count per block), so a
    // drifted coin, a mis-keyed permutation, or copies clustering
    // where the hash says they shouldn't all hash-fail. Scale shape:
    // the x23 chain (broadcast factors + explode) + ONE range shuffle
    // for the distributed rank — never a single-reducer window.
    "x24_upsampled_epoch_order" -> ((s, dir) => {
      import graft.operators.{Packing, Sampling}
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val n = d.groupBy(col("source")).agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy(lit(1))
      val factors = n.withColumn("_nmax", max(col("_n")).over(w))
        .select(col("source"),
          least(sqrt(col("_nmax").cast(DoubleType) / col("_n").cast(DoubleType)),
            lit(3.0)).as("_f"))
      val expanded = Sampling.repeatByFactor(
          d.join(broadcast(factors), "source"), "doc_id", col("_f"), salt = "rep10")
        .withColumn("key",
          concat(col("doc_id").cast("string"), lit("#"), col("copy").cast("string")))
      Packing.epochOrder(expanded, "key", epoch = 1)
        .groupBy(expr("pos div 100").cast("long").as("pos_block"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("key")).as("first_key"),
          sum(when(col("copy") > 0, 1).otherwise(0)).cast("long").as("n_upsampled"))
        .orderBy(col("pos_block"))
    }),

    // Measured salting under grading — the closed loop between the
    // `ctl topkeys` probe and the salted executors: the probe MEASURES
    // documents.lang's hottest-key share ('en' ≈ 0.39–0.44 at every SF,
    // the generator's natural skew, not a synthesized remap like
    // x10/x11), the 0.25 threshold fires, and the salted two-phase
    // aggregate's values grade against DuckDB's PLAIN GROUP BY — so a
    // green hash row is the proof that salted and unsalted plans are
    // value-identical. The in-query require makes "the probe actually
    // decided to salt on genuinely skewed data" a loud failure rather
    // than a vacuous pass. At 100 TB this is the skew story for the
    // reference's per-key ordering contract (docs/concurrency.md:5-11):
    // a 0.4-share key IS the stage's wall clock unless spread.
    "x25_auto_salted_agg" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("lang"), col("n_chars"))
      val (out, decision) = graft.operators.Skew.autoSaltedSumCount(
        d, Seq("lang"), "n_chars", nSalts = 16, threshold = 0.25)
      require(decision.salted,
        s"x25 expects genuinely skewed data; measured share ${decision.topShare} (${decision.topKey})")
      out.select(col("lang"), col("n"),
          col("sum_n_chars").cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // The NEGATIVE decision under grading: events.user_id is
    // near-uniform (top share ≤ 0.09 at every SF), so the probe REFUSES
    // to salt — an nSalts-way replication of the dim side would be pure
    // overhead — and the join Catalyst would have planned anyway runs
    // (broadcast here: customer is dim-sized). x11 grades the salted
    // join path on a synthesized hot key; together the two rows grade
    // the decision in both directions on real measurements.
    "x26_auto_salted_join" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), dec("value").as("v"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val (out, decision) = graft.operators.Skew.autoSaltedJoin(
        e, c, "user_id", "c_custkey", nSalts = 8, threshold = 0.2)
      require(!decision.salted,
        s"x26 expects near-uniform user_id; measured share ${decision.topShare} (${decision.topKey})")
      out.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("v")).cast(DoubleType).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    }),

    // Dynamic partition pruning over the STANDARD 100 TB layout: the
    // fact table written partitionBy(source), joined to a dim whose
    // qualifying sources are the product of an aggregation — a set the
    // planner cannot fold into a static partition filter. Catalyst
    // must insert a DPP subquery on the fact scan (reusing the dim's
    // broadcast), so only the qualifying partition DIRECTORIES are
    // read: at 100 TB, the difference between scanning 7/20 of the
    // corpus and all of it. The in-query require pins the mechanism
    // (the executed fact scan carries a dynamicpruning partition
    // filter); the hash row grades the result.
    "x27_partition_pruning" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val root = graft.Scratch.dir("graft_dpp")
      d.write.partitionBy("source").parquet(s"$root/docs")
      val fact = s.read.parquet(s"$root/docs")
      val dim = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(substring(col("source"), 4, 10).cast("int") % 3 === 0)
      val out = fact.join(broadcast(dim), Seq("source"))
        .groupBy(col("source"), col("n_docs"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.toLowerCase.contains("dynamicpruning"),
        "fact scan must be dynamically partition-pruned by the dim join")
      out
    }),

    // Rank auto-dispatch under grading, BROADCAST direction (x25's
    // shape for the rank family): documents.lang has 5 groups at every
    // SF, so the cardinality probe picks the broadcast-offset path —
    // the scale formulation where one dominant language can hold 60 %
    // of a 100 TB corpus and a partitioned window would funnel it
    // through ONE task. The top-5-per-language frame grades against
    // DuckDB's plain ROW_NUMBER window: a green hash row is the proof
    // the range-shuffle + broadcast-offset plan is value-identical to
    // the window semantics it replaces. The in-query require makes
    // "the probe actually measured few groups and chose broadcast" a
    // loud failure rather than a vacuous pass.
    "x28_auto_rank_topk" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val (ranked, disp) = graft.operators.Packing.autoGroupRank(
        d, "lang", Seq(col("n_chars").desc, col("doc_id")))
      require(disp.broadcastPath && disp.nGroups <= 16,
        s"x28 expects few groups to pick the broadcast-offset path: $disp")
      ranked.filter(col("group_rank") < 5)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          col("group_rank"), col("group_n"))
        .orderBy(col("lang"), col("group_rank"))
    }),

    // The NEGATIVE dispatch direction: events.user_id is high-
    // cardinality (15/150/1500 distinct at sf0.001/0.01/0.1 — above
    // the 8-group ceiling at every SF), so the probe REFUSES the
    // broadcast-offset path — the |groups|-row offset frame would not
    // be broadcast-small at real cardinalities — and the partitioned
    // window runs, which high cardinality is exactly what makes safe
    // (groups spread across tasks, per-task work bounded by the
    // largest group). Per-user argmax event via group_rank = 0, graded
    // against the same ROW_NUMBER oracle: the two rows together grade
    // the dispatch in both directions, and either plan must be
    // value-identical to the other.
    "x29_auto_rank_argmax" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      val (ranked, disp) = graft.operators.Packing.autoGroupRank(
        e, "user_id", Seq(col("value").desc, col("event_id")),
        maxBroadcastGroups = 8)
      require(!disp.broadcastPath && disp.nGroups > 8,
        s"x29 expects high cardinality to refuse the broadcast path: $disp")
      ranked.filter(col("group_rank") === 0)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("group_n"))
        .orderBy(col("user_id"))
    }),

    // Heavy hitters — the FREQUENCY member of the sketch triad (x6
    // grades HLL distinct counts + the quantile sketch): every 3-gram
    // shingle occurring >= 8 times in the corpus (boilerplate n-gram
    // detection — the same content the df-cap in l86/l89 drops, found
    // WITHOUT a full shingle frequency table). The Misra–Gries pass
    // emits only per-partition survivor KEYS (a guaranteed superset of
    // the true heavy hitters — at most partitions*m rows leave the
    // executors, the raw shingles never shuffle), and pass 2's exact
    // count over the broadcast candidates makes the output EXACT, so
    // the oracle is a plain GROUP BY ... HAVING. The in-query require
    // pins that the sketch path actually ran at every SF.
    "x30_heavy_hitters" -> ((s, dir) => {
      import graft.functions.TextFunctions.gramArray
      val sh = Tables.load(s, dir, "documents")
        .select(explode(gramArray(col("text"), 3)).as("s"))
      val (hh, dec) = graft.operators.Frequency.heavyHitters(
        sh, "s", minFreq = 8L)
      require(dec.sketched && dec.counters >= 1,
        s"x30 expects the MG sketch path to fire at every SF: $dec")
      hh.orderBy(col("s"))
    }),

    // The NEGATIVE dispatch direction: a full frequency table
    // (minFreq=2) implies a counter budget of ~N/2 per partition —
    // far beyond the caller's 64-counter ceiling, at which point the
    // MG superset guarantee is unaffordable and the operator must
    // REFUSE the sketch and run the plain two-phase groupBy (which a
    // low distinct-to-row ratio is exactly what makes safe: the
    // map-side partial agg collapses the multiset before the
    // shuffle). Same HAVING oracle; the two rows grade the dispatch
    // in both directions and either path must be value-identical.
    "x31_heavy_exact_hold" -> ((s, dir) => {
      import graft.functions.TextFunctions.gramArray
      val sh = Tables.load(s, dir, "documents")
        .select(explode(gramArray(col("text"), 3)).as("s"))
      val (hh, dec) = graft.operators.Frequency.heavyHitters(
        sh, "s", minFreq = 2L, maxCounters = 64)
      require(!dec.sketched && dec.counters == 0,
        s"x31 expects the budget ceiling to refuse the sketch: $dec")
      hh.orderBy(col("s"))
    }),

    // STREAMING heavy hitters — x30's two-pass exact scheme carried
    // into a real streaming query (reference capability: live hot-key
    // introspection over a running stream, pspf/processor.py:260-281
    // lag monitor + pspf/cli.py:18-55 inspect, generalized): the
    // corpus arrives as four single-file drops drained as four
    // micro-batches of ONE checkpointed query (maxFilesPerTrigger=1),
    // each key-range's m-counter Misra–Gries summary lives in
    // transformWithState value state and MERGES across batches by
    // sequential insertion (= MG over the concatenated stream — the
    // mergeability the batch operator already cites). Ranges partition
    // the key space by hash, so ALL copies of a key land in one
    // range's summary and the per-range MG bound (absent => freq <=
    // n_r/m) applies to its full global count; the bound is PINNED
    // per range after the run, then candidates exact-confirm against
    // the broadcast set — output is EXACT and must hash-match x30's
    // plain GROUP BY ... HAVING oracle on the same data.
    "w15_stream_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TextFunctions.gramArray
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_stream_hh")
      (0 until 4).foreach { k =>
        docs.filter(col("doc_id") % 4 === k).coalesce(1)
          .write.mode("append").parquet(s"$root/src")
      }
      val nRanges = 8
      val mBudget = 8192
      val minFreq = 8L
      val t = graft.GraftSession.withConf(s, graft.GraftSession.RocksDBStateStore) {
        val src = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
        val typed = src.select(explode(gramArray(col("text"), 3)).as("s"))
          .select(pmod(hash(col("s")), lit(nRanges)).cast("int").as("r"), col("s"))
          .as[(Int, String)]
        val folded = graft.streaming.KeyedState
          .runningFoldTws[Int, (Int, String), (Long, Map[String, Long])](
            typed, _._1, (0L, Map.empty[String, Long])) {
            case ((n, sum), (_, sh)) =>
              (n + 1L, graft.operators.Frequency.mgFold(sum, sh, mBudget))
          }
        val sink = graft.Scratch.view("stream_hh_" +
          java.util.UUID.randomUUID().toString.replace("-", ""))
        // state partitions from the input size, not the core count
        // (the runTws rationale: one RocksDB instance per partition
        // per micro-batch)
        val nParts = graft.GraftSession.streamPartitionsFor(docs)
        val q = graft.GraftSession.withShufflePartitions(s, nParts) {
          folded.map { case (r, (n, sum)) => (r, n, sum) }
            .toDF("r", "n_seen", "counters")
            .writeStream.outputMode("update")
            .option("checkpointLocation", s"$root/ckpt")
            .format("memory").queryName(sink)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        s.table(sink)
      }
      // final summary per range = the monotone-max n_seen emission
      // (update mode emits the running summary once per touched range
      // per batch — the w8/w13 last-emission pattern)
      // max_by, not a self-join: the memory-sink view keeps its expr
      // ids on re-reference, so joining it against its own aggregate
      // trips Catalyst's conflicting-attribute check
      val fin = t.groupBy(col("r")).agg(max(col("n_seen")).as("n_fin"),
        max_by(col("counters"), col("n_seen")).as("counters"))
      // exactness is a THEOREM only while n_r/m < minFreq holds per
      // range — pin it (one <= nRanges-row collect), never assume it
      fin.select(col("r"), col("n_fin")).collect().foreach { row =>
        require(row.getLong(1) < minFreq * mBudget,
          s"w15 range ${row.getInt(0)} saw ${row.getLong(1)} shingles — " +
            s"the $mBudget-counter MG summary no longer guarantees the " +
            s"minFreq=$minFreq superset; raise mBudget or nRanges")
      }
      val cands = fin.select(explode(map_keys(col("counters"))).as("s")).distinct()
      // pass 2, identical to the batch operator: exact counts
      // restricted to the broadcast candidate superset
      val sh = docs.select(explode(gramArray(col("text"), 3)).as("s"))
      sh.join(broadcast(cands), Seq("s"), "left_semi")
        .groupBy(col("s")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= minFreq)
        .orderBy(col("s"))
    }),

    // Multi-topic fan-in: union of two event streams then aggregate
    // (reference clone_with_topic fan-in, pspf/stream.py:133-150).
    "x7_union_topics" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
      clicks.union(purchases)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(dec("value")).cast(DoubleType).as("sum_value"))
        .orderBy(col("user_id"))
    })
  )

  /** x30/x31: every 3-shingle occurrence of the corpus (a bag, no doc
    * key), the heavy-hitter count's input. */
  private val heavyShingleCtes: String =
    LlmQueries.shingleCtes("d", "sh", "documents", n = 3, key = "", distinct = false)

  def oracleSql: Map[String, String] = Map(
    "x1_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "x2_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM orders
        |QUALIFY o_custkey <= 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "x3_subqueries" ->
      """SELECT o_orderstatus, COUNT(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o_custkey AND c.c_acctbal > 1000.0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x4_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
        |  CAST(last_day(o_orderdate) AS VARCHAR) AS month_end,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_to_eoy,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr
        |FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin,
    "x5_string_funcs" ->
      """SELECT p_partkey,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        |  translate(p_brand, '#', '-') AS brand_t,
        |  reverse(p_name) AS name_rev,
        |  trim(p_name) AS name_trim,
        |  CAST(strpos(p_name, 'a') AS INT) AS first_a
        |FROM part WHERE p_partkey % 53 = 0 ORDER BY p_partkey""".stripMargin,
    // x6: sketch values are engine-private; the oracle is the error-bound
    // assertion itself (Spark emits booleans, DuckDB emits TRUE rows).
    "x6_approx_sketches" ->
      """SELECT l_returnflag, TRUE AS cnt_ok, TRUE AS med_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x8_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,
    // x9: DuckDB computes the same documents↔verdicts join relationally
    // (it has no bucketing concept — the physical-plan claims are
    // asserted inside the Spark query; the oracle grades the VALUES).
    "x9_bucketed_join" ->
      """SELECT d.doc_id, d.lang, d.n_chars, v.keep_id,
        |  (d.doc_id <> v.keep_id) AS is_dup
        |FROM documents d
        |JOIN (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |      FROM documents) v USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // x10/x11: the oracle IS the unsalted computation — a green hash row
    // is literally "salted == unsalted".
    "x10_salted_agg" ->
      """SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END AS hot_key,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY hot_key""".stripMargin,
    "x11_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT CASE WHEN user_id % 10 < 5 THEN 1 ELSE user_id END AS uid, value
        |      FROM events) e
        |JOIN customer ON e.uid = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // x25: DuckDB's PLAIN group-by — a green hash row proves the
    // probe-selected salted plan is value-identical to the unsalted
    // aggregation.
    "x25_auto_salted_agg" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // x26: the plain join the negative decision must leave untouched.
    "x26_auto_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // x27: DuckDB full-scans the original table — a green hash row
    // proves the partition-pruned fact scan (the DPP subquery pinned
    // by the in-query require) lost nothing and invented nothing.
    "x27_partition_pruning" ->
      """WITH dim AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |             WHERE CAST(substr(source, 4) AS INT) % 3 = 0
        |             GROUP BY source)
        |SELECT d.source, d.n_docs, COUNT(*) AS n_rows,
        |  CAST(SUM(f.n_chars) AS BIGINT) AS sum_chars
        |FROM documents f JOIN dim d USING (source)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // x28: DuckDB's plain window — a green hash row proves the
    // probe-selected broadcast-offset rank plan is value-identical to
    // ROW_NUMBER PARTITION BY semantics.
    "x28_auto_rank_topk" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) - 1
        |      AS group_rank,
        |    COUNT(*) OVER (PARTITION BY lang) AS group_n
        |  FROM documents)
        |SELECT lang, doc_id, n_chars, group_rank, group_n
        |FROM r WHERE group_rank < 5 ORDER BY lang, group_rank""".stripMargin,
    // x29: the same window semantics the negative decision must
    // reproduce through the partitioned-window formulation.
    "x29_auto_rank_argmax" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) - 1
        |      AS group_rank,
        |    COUNT(*) OVER (PARTITION BY user_id) AS group_n
        |  FROM events)
        |SELECT user_id, event_id, event_type, value, group_n
        |FROM r WHERE group_rank = 0 ORDER BY user_id""".stripMargin,
    // x30: the sketch prunes candidates but never touches the counts —
    // the contract IS "exact GROUP BY ... HAVING", so the oracle is one
    "x30_heavy_hitters" ->
      s"""WITH $heavyShingleCtes
        |SELECT s, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM sh GROUP BY s HAVING COUNT(*) >= 8 ORDER BY s""".stripMargin,
    // x31: same contract at the exact-path threshold — either dispatch
    // direction must reproduce the plain HAVING semantics
    "x31_heavy_exact_hold" ->
      s"""WITH $heavyShingleCtes
        |SELECT s, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM sh GROUP BY s HAVING COUNT(*) >= 2 ORDER BY s""".stripMargin,
    // x12: DuckDB full-scans the original table under the same
    // SF-relative predicate — a green hash row proves the pruned scan
    // (stats-selected files + residual filter) lost nothing.
    "x12_zorder_skip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey <= (SELECT MAX(l_orderkey) // 4 FROM lineitem)
        |  AND l_partkey BETWEEN (SELECT MAX(l_partkey) // 4 FROM lineitem)
        |                    AND (SELECT MAX(l_partkey) // 2 FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // x13: the oracle replays the exact-integer coin — BIGINT multiply
    // only, no float division, so membership is engine-independent.
    "x13_weighted_sample" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents
        |WHERE CAST('0x' || substr(md5('wsamp9|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      * (SELECT MAX(n_chars) FROM documents)
        |      < n_chars * 4294967296
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // x14: DuckDB full-scans the original table for the same
    // SF-relative keys — a green hash row proves the Bloom prune +
    // residual filter lost nothing (and invented nothing).
    "x14_bloom_lookup" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (
        |  SELECT (SELECT MAX(doc_id) FROM documents) // 5 * g
        |  FROM (VALUES (1), (2), (3), (4), (5)) t(g))
        |ORDER BY doc_id""".stripMargin,
    // x15: identical serpentine dealing from DuckDB's ROW_NUMBER — the
    // assignment is a pure integer function of the total order.
    "x15_balanced_shards" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rn
        |  FROM documents)
        |SELECT CAST(CASE WHEN (rn // 8) % 2 = 0 THEN rn % 8
        |            ELSE 7 - rn % 8 END AS BIGINT) AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    // x16: the same permutation from DuckDB's one-window ROW_NUMBER —
    // md5 hex compares identically (lowercase ASCII) in both engines.
    "x16_epoch_order" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY md5('epoch3|' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT CAST(pos // 50 AS BIGINT) AS pos_block, COUNT(*) AS n,
        |  MIN(doc_id) AS first_doc, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY 1 ORDER BY pos_block""".stripMargin,
    // x17: naive single-window formulation — the two-phase prune must
    // select the identical rows.
    "x17_exact_k" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('xk9|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM r WHERE rn <= 50 GROUP BY lang ORDER BY lang""".stripMargin,
    // x18: the one-window cumsum formulation — the distributed prefix
    // sum must keep the identical frontier.
    "x18_token_budget" ->
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM r WHERE cum <= (SELECT SUM(n_chars) * 2 // 5 FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // x19: same rate chain — counts, min, one exact double division,
    // one correctly-rounded sqrt, the shared md5 coin.
    "x19_temperature_mix" ->
      """WITH n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY 1),
        |m AS (SELECT MIN(ns) AS nmin FROM n),
        |rates AS (SELECT lang, sqrt(CAST(nmin AS DOUBLE) / CAST(ns AS DOUBLE)) AS rate
        |          FROM n, m)
        |SELECT d.lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM documents d JOIN rates r ON r.lang = d.lang
        |WHERE CAST('0x' || substr(md5('tmix9|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < r.rate
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // x20: the whole export chain as CTEs — tempered mix, inclusive
    // budget cumsum, serpentine deal over the budgeted rank.
    "x20_export_pipeline" ->
      """WITH n AS (SELECT lang, COUNT(*) AS ns FROM documents GROUP BY 1),
        |m AS (SELECT MIN(ns) AS nmin FROM n),
        |rates AS (SELECT lang, sqrt(CAST(nmin AS DOUBLE) / CAST(ns AS DOUBLE)) AS rate
        |          FROM n, m),
        |mix AS (SELECT d.* FROM documents d JOIN rates r ON r.lang = d.lang
        |  WHERE CAST('0x' || substr(md5('tmix9|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < r.rate),
        |sel AS (SELECT doc_id, n_chars,
        |    SUM(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM mix),
        |kept AS (SELECT doc_id, n_chars FROM sel
        |  WHERE cum <= (SELECT SUM(n_chars) * 3 // 10 FROM mix)),
        |r AS (SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rn
        |  FROM kept)
        |SELECT CAST(CASE WHEN (rn // 4) % 2 = 0 THEN rn % 4
        |            ELSE 3 - rn % 4 END AS BIGINT) AS shard,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS first_doc
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    // x21: DuckDB's percent_rank over the same total order — ties are
    // impossible (doc_id tiebreak), so rank == row_number and both
    // engines compute the identical (rank-1)/(n-1) IEEE quotient.
    "x21_calibrated_quality" ->
      """SELECT doc_id, source,
        |  percent_rank() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id) AS cal
        |FROM documents
        |QUALIFY cal >= 0.9
        |ORDER BY doc_id""".stripMargin,
    // x22: the format legs are Spark-side physical round-trips DuckDB
    // has no part in; losslessness is enforced in-query (signed
    // multiset delta), so the oracle grades one identical content profile
    // per format from the parquet original.
    "x22_format_roundtrip" ->
      """WITH p AS (SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(doc_id) AS BIGINT) AS sum_id,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    COUNT(DISTINCT lang) AS n_langs
        |  FROM documents)
        |SELECT fmt, n_docs, sum_id, sum_chars, n_langs
        |FROM p CROSS JOIN (VALUES ('csv'), ('json'), ('orc'), ('parquet')) t(fmt)
        |ORDER BY fmt""".stripMargin,
    // x23: the identical factor chain (count, max, one sqrt, one min)
    // and the identical per-row stochastic rounding from the shared md5
    // coin; the copy expansion is a bounded VALUES series filtered by
    // k (cap = 3), so no lateral support is needed.
    "x23_repeat_upsample" ->
      """WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
        |m AS (SELECT MAX(ns) AS nmax FROM n),
        |fac AS (SELECT source,
        |    LEAST(sqrt(CAST(nmax AS DOUBLE) / CAST(ns AS DOUBLE)), 3.0) AS f
        |  FROM n, m),
        |k AS (SELECT d.doc_id, d.source,
        |    CAST(floor(f) AS INT) + CASE WHEN
        |      CAST('0x' || substr(md5('rep10|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < f - floor(f)
        |      THEN 1 ELSE 0 END AS k
        |  FROM documents d JOIN fac USING (source))
        |SELECT doc_id, source, CAST(g AS INT) AS copy
        |FROM k CROSS JOIN (VALUES (0), (1), (2)) t(g)
        |WHERE g < k ORDER BY doc_id, copy""".stripMargin,
    // x24: the x23 expansion chain, then DuckDB's one-window
    // ROW_NUMBER over md5('epoch1|'||key) — block profile over the
    // expanded corpus must match bit-for-bit.
    "x24_upsampled_epoch_order" ->
      """WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
        |m AS (SELECT MAX(ns) AS nmax FROM n),
        |fac AS (SELECT source,
        |    LEAST(sqrt(CAST(nmax AS DOUBLE) / CAST(ns AS DOUBLE)), 3.0) AS f
        |  FROM n, m),
        |k AS (SELECT d.doc_id, d.n_chars,
        |    CAST(floor(f) AS INT) + CASE WHEN
        |      CAST('0x' || substr(md5('rep10|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < f - floor(f)
        |      THEN 1 ELSE 0 END AS k
        |  FROM documents d JOIN fac USING (source)),
        |x AS (SELECT n_chars, g AS copy,
        |    CAST(doc_id AS VARCHAR) || '#' || CAST(g AS VARCHAR) AS key
        |  FROM k CROSS JOIN (VALUES (0), (1), (2)) t(g) WHERE g < k),
        |r AS (SELECT key, copy, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY md5('epoch1|' || key), key) - 1 AS pos
        |  FROM x)
        |SELECT CAST(pos // 100 AS BIGINT) AS pos_block, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(key) AS first_key,
        |  CAST(SUM(CASE WHEN copy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_upsampled
        |FROM r GROUP BY 1 ORDER BY pos_block""".stripMargin,
    "x7_union_topics" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT user_id, value FROM events WHERE event_type = 'click'
        |      UNION ALL
        |      SELECT user_id, value FROM events WHERE event_type = 'purchase') u
        |GROUP BY user_id ORDER BY user_id""".stripMargin
  ) match {
    // w15 is the STREAMING path to x30's exact contract: the sketch
    // only prunes candidates (across micro-batches instead of
    // partitions), the counts are exact either way, so both grade
    // against the SAME plain HAVING oracle — structurally shared, so
    // the two can never drift apart.
    case base => base + ("w15_stream_heavy_hitters" -> base("x30_heavy_hitters"))
  }
}
