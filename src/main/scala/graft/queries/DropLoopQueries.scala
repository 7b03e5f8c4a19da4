package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.{DropLoop, IncrementalDedup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The checkpointed streaming ingest loops: four crawl drops land one at
  * a time through `DropLoop` and feed the minhash, winnow, blob,
  * decontamination and ANN stores. Building one of these frames RUNS
  * its loop, so `graft.Explain` cannot plan-diff them; the oracle (and
  * each loop's in-query requires) grade them. */
object DropLoopQueries {
  import LlmBlocks._

  /** The four crawl drops (doc_id % 4) of the graded ingest loops. */
  private def crawlDrops(docs: DataFrame): Seq[DataFrame] =
    (0 until 4).map(k => docs.filter(col("doc_id") % 4 === k))

  /** The text minhash spec of the crawl ingest loops: word 3-shingles,
    * 8 hashes in bands of 2. */
  private val textCrawlCfg = IncrementalDedup.Config("doc_id", "text",
    shingleN = 3, numHashes = 8, rowsPerBand = 2)

  /** l61/l66/l80/l110's shared minhash ingest loop over the four crawl
    * drops, on the two-start `DropLoop` driver. `compactEvery` passes
    * through to the loop's in-band hook. */
  private def runCrawlDrops(docs: DataFrame, root: String,
                            cfg: IncrementalDedup.Config = textCrawlCfg,
                            compactEvery: Int = 0): Unit =
    DropLoop.run(docs, crawlDrops(docs), root)(src => IncrementalDedup.run(src,
      cfg, s"$root/bands", s"$root/out", s"$root/ckpt", compactEvery = compactEvery))

  /** `runCrawlDrops`, then its graded verdicts (l61, l80, l110): per doc
    * its drop, first seen match and dup flag, plus `n_matches` on the
    * exact-count path (the oracle's `dropVerdictSql`). l66 grades the
    * band store instead and runs the loop bare. */
  private def crawlDropVerdicts(docs: DataFrame, root: String,
                                cfg: IncrementalDedup.Config = textCrawlCfg): DataFrame = {
    runCrawlDrops(docs, root, cfg)
    val counts = if (cfg.exactCounts) Seq(col("n_matches")) else Nil
    IncrementalDedup.results(docs.sparkSession, s"$root/out")
      .select(Seq(col("doc_id"), ingestBatch, col("first_match")) ++ counts :+
        col("is_dup"): _*)
      .orderBy(col("doc_id"))
  }

  /** `runCrawlDrops`' twin for the winnow span-ingest loop (l92, l94,
    * l95), returning its graded (new_id, seen_id, n_shared, drop) pairs
    * (the oracle's `streamWinnowSql`). `maxDf` > 0 arms the per-turn
    * hot-fingerprint cap. */
  private def runWinnowDrops(docs: DataFrame, root: String, maxDf: Long = 0): DataFrame = {
    val cfg = IncrementalDedup.WinnowConfig("doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = maxDf)
    DropLoop.run(docs, crawlDrops(docs), root)(src => IncrementalDedup.runWinnow(src,
      cfg, s"$root/fps", s"$root/out", s"$root/ckpt"))
    IncrementalDedup.results(docs.sparkSession, s"$root/out")
      .select(col("new_id"), col("seen_id"), col("n_shared"), ingestBatch)
      .orderBy(col("new_id"), col("seen_id"))
  }

  /** A loop verdict's drop column, graded as BIGINT (the partition
    * column `ingest_batch` reads back as int). */
  private def ingestBatch: Column = col("ingest_batch").cast("long").as("ingest_batch")

  /** The first 200 chars of eval doc `id`: the benchmark seed the decon
    * loops (l111, l117) inject into train docs. It must carry >= 12
    * tokens, so that it lands >= 2 winnow fps past the k+w-1 window. */
  private def benchmarkSeed(docs: DataFrame, id: Int, query: String): String = {
    val seed = docs.filter(col("doc_id") === id)
      .select(substring(col("text"), 1, 200)).head().getString(0)
    require(seed.trim.split("\\s+").length >= 12,
      s"$query expects the injected benchmark seed (doc $id) to carry >= 12 tokens " +
        s"(>= 2 winnow fps past the k+w-1 window), got '${seed.take(40)}...'")
    seed
  }

  private val deconCfg = IncrementalDedup.DecontConfig(
    "doc_id", "text", k = 5, w = 4, minShared = 2)

  /** One start of the decon ingest guard (l111, l117) over the drop
    * source `src`: each drop is probed against the benchmark
    * fingerprint store at `root/evalfp`, leaked docs are routed to the
    * side output `root/leak`. */
  private def runDecontaminate(src: DataFrame, root: String) =
    IncrementalDedup.runDecontaminate(
      src, deconCfg, s"$root/evalfp", s"$root/out", s"$root/leak", s"$root/ckpt")

  /** The decon loops' graded output over their verdicts `out`: first
    * the routing pin — the side output holds exactly the contaminated
    * set, and the injection made it non-empty — then the per-doc
    * verdicts with their drop. */
  private def deconVerdicts(out: DataFrame, root: String, query: String): DataFrame = {
    val nLeak = IncrementalDedup.results(out.sparkSession, s"$root/leak").count()
    val nCont = out.filter(col("contaminated")).count()
    require(nLeak == nCont && nLeak > 0,
      s"$query expects a non-empty side output equal to the contaminated " +
        s"set, got $nLeak routed vs $nCont contaminated")
    out.select(col("doc_id"), col("n_fp"), col("n_overlap"), col("contaminated"),
        ingestBatch)
      .orderBy(col("doc_id"))
  }

  /** The df of the hottest winnow fingerprint (k = 5, w = 4) of `docs`:
    * the fire/hold precondition of the capped winnow loops (l94, l95). */
  private def hottestWinnowDf(docs: DataFrame): Long =
    Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, w = 4)
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)

  /** The crawl-drop loop's accumulated verdicts (`DropLoop` over
    * `IncrementalDedup.run`): every doc of `corpus` with its drop
    * (doc_id % 4), probing the bands of ALL strictly-earlier drops. */
  private def dropVerdictSql(corpus: String, counted: Boolean): String = {
    val n = if (counted) "\n  CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches," else ""
    s"""${bandMatchCte("(y.doc_id % 4) < (x.doc_id % 4)", counted)}
       |SELECT n.doc_id, CAST(n.doc_id % 4 AS BIGINT) AS ingest_batch,
       |  m.first_match,$n
       |  m.first_match IS NOT NULL AS is_dup
       |FROM $corpus n
       |LEFT JOIN m ON m.did = n.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** The winnow span-ingest loop's batch replay in DuckDB — shared
    * verbatim by l92 (the uncapped loop) and l95 (the armed cap
    * HOLDING below its ceiling on the natural corpus: identical
    * output by the hold contract). */
  private val streamWinnowSql: String =
    s"""WITH ${winnowFpCtes("documents")},
       |${sharedFpCte("pr", "fps")}
       |SELECT CASE WHEN da % 4 > db % 4 THEN da ELSE db END AS new_id,
      |  CASE WHEN da % 4 > db % 4 THEN db ELSE da END AS seen_id,
      |  n_shared,
      |  CAST(greatest(da % 4, db % 4) AS BIGINT) AS ingest_batch
      |FROM pr WHERE da % 4 <> db % 4 AND n_shared >= 2
      |ORDER BY new_id, seen_id""".stripMargin

  /** l111's replay: the same span-decontamination chain over the
    * LEAK-INJECTED train corpus (every 25th train doc — doc_id % 25 =
    * 7, never an eval doc — carries the first 200 chars of eval doc 0,
    * so the routed leak set is non-empty at every shipped SF), plus
    * the crawl-drop column. The store is static, so the streaming
    * guard's per-drop union must equal this whole-train batch run. */
  private val streamDecontamSql: String = spanVerdictSql(spanDecontamCtesFrom(
    "SELECT doc_id, CASE WHEN doc_id % 25 = 7 THEN text || ' ' || " +
      "(SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 0) " +
      "ELSE text END AS text FROM documents WHERE doc_id % 50 <> 0"), withDrop = true)

  /** l117's replay: the l111 winnow chain with TWO eval stores and the
    * drop-conditional join — a doc's verdict reads the store its drop
    * ingested under (v1 = doc_id % 50 == 0 for batches 0-1; v2 adds
    * % 50 == 25 for batches 2-3). `in_v1` flags, per distinct eval
    * fingerprint, whether any v1 doc carries it, so both stores fold
    * into one join. */
  private val deconRefreshSql: String =
    s"""WITH tr AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 2 THEN text || ' ' ||
      |           (SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 0)
      |         WHEN doc_id % 5 = 3 THEN text || ' ' ||
      |           (SELECT substr(text, 1, 200) FROM documents WHERE doc_id = 25)
      |         ELSE text END AS text
      |  FROM documents WHERE doc_id % 50 <> 0 AND doc_id % 50 <> 25),
      |ev AS (SELECT doc_id, text FROM documents
      |       WHERE doc_id % 50 = 0 OR doc_id % 50 = 25),
      |${winnowCtes("ttk", "tg", "twm", "tr", k = 5, w = 4)},
      |tfp AS (${winnowSelect("doc_id, fp", "twm", w = 4)}),
      |${winnowCtes("etk", "eg", "ewm", "ev", k = 5, w = 4)},
      |efp AS (SELECT fp, BOOL_OR(doc_id % 50 = 0) AS in_v1
      |        FROM (${winnowSelect("doc_id, fp", "ewm", w = 4)}) e0 GROUP BY 1),
      |hits AS (SELECT t.doc_id,
      |           COUNT(*) FILTER (WHERE e.in_v1) AS ov1,
      |           COUNT(*) AS ov2
      |         FROM tfp t JOIN efp e USING (fp) GROUP BY 1),
      |${setSizeCte("tfp", "n_fp")}
      |SELECT tr.doc_id, COALESCE(cnt.n_fp, 0) AS n_fp,
      |  CASE WHEN tr.doc_id % 4 <= 1 THEN COALESCE(hits.ov1, 0)
      |       ELSE COALESCE(hits.ov2, 0) END AS n_overlap,
      |  CASE WHEN tr.doc_id % 4 <= 1 THEN COALESCE(hits.ov1, 0)
      |       ELSE COALESCE(hits.ov2, 0) END >= 2 AS contaminated,
      |  CAST(tr.doc_id % 4 AS BIGINT) AS ingest_batch
      |FROM tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
      |        LEFT JOIN hits ON hits.doc_id = tr.doc_id
      |ORDER BY tr.doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    // The l36 shape run FOR REAL as a streaming ingest loop: four
    // crawl drops (doc_id % 4) land one at a time; each drives an
    // AvailableNow foreachBatch run that LSH-checks the drop against
    // the PERSISTED band store of every earlier drop and then appends
    // its own bands — checkpoint-resumed across runs, history never
    // re-shingled. The oracle replays the same cross-batch band join
    // relationally, so the streaming loop's accumulated verdicts are
    // hash-graded end to end.
    QueryDef("l61_stream_incr_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr")
      crawlDropVerdicts(docs, root)
    },
      // The streaming ingest loop's accumulated verdicts: same band
      // contract as l36, but every doc surfaces with its drop id and
      // matches run against ALL strictly-earlier drops.
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
        |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)},
        |${dropVerdictSql("documents", counted = true)}""".stripMargin),

    // l61's crawl loop on the LITE verdict path (`exactCounts=false`,
    // `Dedup.incrementalLshFirstMatchFromBands`) — the formulation a
    // 100 TB crawl must run: the seen side collapses to one row per
    // (band, bsig) bucket before the probe join, so per-drop cost stays
    // flat as dup groups grow (the exact path's candidate-pair count is
    // quadratic in group size — README §scale spot). The claim
    // this query grades: `first_match`/`is_dup` are BIT-IDENTICAL to
    // the exact path's (the globally-minimal seen bucket-mate lives in
    // some shared bucket), so the oracle is l61's verbatim minus the
    // n_matches column the lite path deliberately never pays for.
    QueryDef("l80_stream_dedup_lite", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_lite")
      crawlDropVerdicts(docs, root, textCrawlCfg.copy(exactCounts = false))
    },
      // l61's oracle verbatim minus n_matches: the lite path's contract
      // is bit-identical first_match/is_dup without the pair count.
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
        |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)},
        |${dropVerdictSql("documents", counted = false)}""".stripMargin),

    // The COMPOSITION the ingest loop exists for: after l61's 4-drop
    // run, cross-batch transitive dup GROUPS and retention over the
    // union corpus. Candidates come from a (band, bsig) self-join over
    // the PERSISTED band store (including same-batch pairs the
    // per-batch verdicts never probe), exact verification re-shingles
    // ONLY candidate docs, then star-CC + keep-best. Because the
    // accumulated store IS the full corpus band frame, the result must
    // equal l44's batch recompute bit-for-bit — graded against l44's
    // oracle verbatim.
    QueryDef("l66_stream_dup_groups", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_g")
      // compactEvery = 2: batch 2's turn folds band partitions {0, 1}
      // in-loop, so the self-managed compaction path (stage → manifest
      // → swap, plus its recovery) runs INSIDE an oracle-graded query —
      // the fold is loss-free by contract, so the result must still
      // equal l44's batch recompute bit-for-bit
      runCrawlDrops(docs, root, compactEvery = 2)
      val cand = IncrementalDedup.storedCandidatePairs(s, s"$root/bands", "doc_id")
      val pairs = Dedup.verifyCandidatePairs(docs, cand, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      Dedup.keepBestPerGroup(docs, pairs, "doc_id",
          TextFunctions.qualityScore(col("text")))
        .orderBy(col("doc_id"))
    },
      // l66 chains the streaming loop's persisted band store into
      // groups + retention; the store accumulated over all drops is
      // exactly the corpus band frame, so the contract is l44's batch
      // recompute oracle verbatim
      qualityKeepBestSql),

    // The winnow family run FOR REAL as a streaming ingest loop — the
    // exact-substring complement of l61's minhash loop, on the same
    // store machinery: four crawl drops (doc_id % 4) land one at a
    // time; each fingerprints ONLY its own docs, reports span-copy
    // pairs against the PERSISTED fingerprint store of every earlier
    // drop, and appends its own fingerprints — checkpoint-resumed,
    // history never re-tokenized. The oracle replays the whole-corpus
    // winnow pair join relationally and keeps exactly the cross-batch
    // (earlier-drop, later-drop) pairs the loop probes, so the
    // accumulated verdicts are hash-graded end to end.
    QueryDef("l92_stream_winnow", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val root = graft.Scratch.dir("graft_incr_wn")
      runWinnowDrops(docs, root)
    },
      // l92: the whole-corpus winnow pair join (l85's CTE chain),
      // restricted to the cross-batch pairs the loop probes — the doc
      // in the LATER doc_id%4 drop is the prober (new_id), the earlier
      // one is the seen corpus; same-drop pairs are never probed
      streamWinnowSql),

    // The BLOB side of the crawl-ingest loop — l61's shape with byte
    // shingles plugged into the SAME store/checkpoint/verdict
    // machinery (Config.shingler): four drops of the blob corpus land
    // one at a time, each LSH-checked against the persisted band store
    // of every earlier drop (payloads never re-read), l106's 16-hash /
    // 4-band tuning. Variants are injected at id + 1000001 so each
    // lands one drop AFTER its original and the new-vs-seen probe can
    // see the pair; the oracle replays the cross-drop band join over
    // the identical byte chain.
    QueryDef("l110_stream_blob_neardup", (s, dir) => {
      val bin = blobCorpus(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        idOffset = 1000001L)
      val root = graft.Scratch.dir("graft_incr_blob")
      val cfg = IncrementalDedup.Config(
        "doc_id", "payload", numHashes = 16, rowsPerBand = 4,
        shingler = Some(b => graft.operators.Dedup
          .byteShingleSet(b, "doc_id", "payload", n = 8)))
      crawlDropVerdicts(bin, root, cfg)
    },
      // l110: the l61 cross-drop band-join replay over the byte chain
      // (+1000001 variant ids)
      s"""WITH base AS (
        |  SELECT doc_id, encode(text) AS payload FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001,
        |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
        |  FROM documents WHERE doc_id % 50 = 0),
        |hx AS (SELECT doc_id, octet_length(payload) AS nb,
        |         upper(hex(payload)) AS h FROM base),
        |sh AS (SELECT DISTINCT doc_id, substr(h, i*2+1, 16) AS s
        |        FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
        |        WHERE nb >= 8),
        |${minhashCtes("doc_id", numHashes = 16, rowsPerBand = 4)},
        |${dropVerdictSql("base", counted = true)}""".stripMargin),

    // STREAMING decontamination — the ingest guard the batch chain
    // (l98–l101) was missing: the benchmark corpus's winnow
    // fingerprints are a PERSISTED build-once store, and every crawl
    // drop is fingerprint-checked against it AT INGEST, leaked docs
    // routed to a DLQ-shaped side output (reference route-at-ingest
    // pattern: pspf/topology.py:10-46 + pspf/stream.py:402-413). Four
    // drops in the two-start resume-graded shape; because the store is
    // static, the accumulated per-drop verdicts must hash-match the
    // batch spanOverlapStats chain on the same corpus — the oracle
    // replays exactly that, plus the drop column. Leak injection:
    // every 25th train doc (doc_id % 25 == 7, never an eval doc)
    // carries the first 200 chars of eval doc 0, so the routed side
    // output is non-empty — and therefore actually graded — at every
    // shipped SF; the in-query requires pin seed viability and
    // route/verdict agreement.
    QueryDef("l111_stream_decontaminate", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val seed = benchmarkSeed(docs, 0, "l111")
      val (clean, eval) = benchmarkSplit(docs)
      val train = clean.select(col("doc_id"),
        when(col("doc_id") % 25 === 7, concat(col("text"), lit(" "), lit(seed)))
          .otherwise(col("text")).as("text"))
      val root = graft.Scratch.dir("graft_incr_dc")
      IncrementalDedup.buildEvalFpStore(eval, deconCfg, s"$root/evalfp")
      DropLoop.run(train, crawlDrops(train), root)(runDecontaminate(_, root))
      deconVerdicts(IncrementalDedup.results(s, s"$root/out"), root, "l111")
    },
      // l111: the streaming ingest guard's verdicts — the batch l98
      // chain over the leak-injected corpus, plus the drop column (the
      // store is static, so per-drop union == whole-train batch run)
      streamDecontamSql),

    // The decontamination guard's BENCHMARK-REFRESH path — l111 pinned
    // the static-store crawl; the operational story ("a benchmark
    // refresh is one store rebuild, not a crawl replay") was prose
    // until here. Two eval-seed injections mark the timeline: every
    // doc_id % 5 == 2 train doc leaks eval doc 0 (in the benchmark
    // from the start), every doc_id % 5 == 3 doc leaks eval doc 25
    // (added by the mid-crawl refresh). Drops 0-1 drain against store
    // v1, then buildEvalFpStore REBUILDS the store in place with the
    // enlarged benchmark and a genuine checkpoint-resumed second start
    // drains drops 2-3 against v2 — no checkpoint surgery, no batch
    // replay. Pinned executably in both directions against a
    // batch-computed v1 overlap: pre-refresh, every doc-25 leaker
    // that is clean under v1 reads NOT contaminated (the refresh is
    // not retroactive); post-refresh, every such doc reads
    // contaminated (the new store is live); and the routed side
    // output equals the contaminated set (l111's routing pin). The
    // oracle replays per-drop verdicts against the store THAT DROP
    // ingested under.
    QueryDef("l117_decon_refresh", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val seed1 = benchmarkSeed(docs, 0, "l117")
      val seed2 = benchmarkSeed(docs, 25, "l117")
      val train = docs
        .filter(col("doc_id") % 50 =!= 0 && col("doc_id") % 50 =!= 25)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 2, concat(col("text"), lit(" "), lit(seed1)))
            .when(col("doc_id") % 5 === 3, concat(col("text"), lit(" "), lit(seed2)))
            .otherwise(col("text")).as("text"))
      val (_, evalV1) = benchmarkSplit(docs)
      val evalV2 = docs.filter(col("doc_id") % 50 === 0 || col("doc_id") % 50 === 25)
      val root = graft.Scratch.dir("graft_incr_dcr")
      val benchmarks = Iterator(evalV1, evalV2)
      DropLoop.run(train, crawlDrops(train), root, firstLeg = 2) { src =>
        // each start opens by building its store: v1, then the refresh —
        // ONE in-place store rebuild mid-crawl
        IncrementalDedup.buildEvalFpStore(benchmarks.next(), deconCfg, s"$root/evalfp")
        runDecontaminate(src, root)
      }
      val out = IncrementalDedup.results(s, s"$root/out")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // batch-computed v1 overlaps isolate the refresh's effect from
      // any NATURAL v1 contamination a doc-25 leaker might also carry
      val v1fp = Dedup.winnowFingerprints(evalV1, "doc_id", "text", 5, 4)
        .select(col("fp")).distinct()
      val v1clean = Dedup.winnowFingerprints(train.filter(col("doc_id") % 5 === 3),
          "doc_id", "text", 5, 4)
        .join(v1fp, Seq("fp"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("v1_overlap"))
        .join(train.filter(col("doc_id") % 5 === 3).select(col("doc_id")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), coalesce(col("v1_overlap"), lit(0L)).as("v1_overlap"))
        .filter(col("v1_overlap") < 2)
      val probe = out.join(v1clean, Seq("doc_id"))
        .groupBy((col("ingest_batch") >= 2).as("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("contaminated").cast("long")).as("n_cont"))
        .collect().map(r => r.getBoolean(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val (nPre, cPre) = probe.getOrElse(false, (0L, 0L))
      val (nPost, cPost) = probe.getOrElse(true, (0L, 0L))
      require(nPre > 0 && cPre == 0,
        s"l117 expects v1-clean doc-25 leakers in drops 0-1 to read NOT " +
          s"contaminated (refresh is not retroactive): $cPre of $nPre flagged")
      require(nPost > 0 && cPost == nPost,
        s"l117 expects every v1-clean doc-25 leaker in drops 2-3 " +
          s"contaminated under the refreshed store: $cPost of $nPost")
      deconVerdicts(out, root, "l117")
    },
      // l117: the guard's refresh path — per-drop verdicts against the
      // store THAT DROP ingested under (v1 for batches 0-1, the
      // enlarged v2 for 2-3)
      deconRefreshSql),

    // The winnow loop's HOT-FINGERPRINT CAP, fire direction: every
    // third document carries the injected license suffix (one
    // guaranteed common fingerprint), so at EVERY turn the accumulated
    // df of that bucket is far over the ceiling and the per-turn probe
    // drops it from both probe sides — without this, the bucket's
    // probe join grows quadratically with the crawl. The store still
    // appends uncapped fingerprints (caps are probe-time decisions);
    // the oracle replays the per-turn df measurement and cap in SQL —
    // a green hash row proves each turn's CAPPED pair set, not merely
    // that something was dropped. The in-query require pins the fire
    // precondition (the corpus is actually over the ceiling).
    QueryDef("l94_stream_winnow_cap", (s, dir) => {
      val docs = boilerplateCorpus(Tables.load(s, dir, "documents"))
      val hottest = hottestWinnowDf(docs)
      require(hottest > 8,
        s"l94 expects the injected boilerplate over the df-8 ceiling, got $hottest")
      val root = graft.Scratch.dir("graft_incr_wncap")
      runWinnowDrops(docs, root, maxDf = 8)
    },
      // l94: the per-turn cap replayed in SQL — for each turn t, df is
      // measured over the corpus accumulated THROUGH t (batch <= t),
      // buckets over 8 are erased from both probe sides, and the
      // turn's pairs join the kept batch-t docs against kept earlier
      // docs; verdicts accumulate per turn (an early pair survives
      // even if its fingerprint turns hot later)
      s"""WITH $boilerplateDocs,
         |${winnowFpCtes("docs2")},
         |b AS (SELECT doc_id, fp, doc_id % 4 AS batch FROM fps),
         |turns AS (SELECT UNNEST(generate_series(0, 3)) AS t),
         |dfx AS (SELECT turns.t, b.fp, COUNT(*) AS df
         |        FROM b, turns WHERE b.batch <= turns.t
         |        GROUP BY turns.t, b.fp),
         |kept AS (SELECT d.t, b.doc_id, b.fp, b.batch
         |         FROM b JOIN dfx d ON d.fp = b.fp AND b.batch <= d.t
         |         WHERE d.df <= 8),
         |pr AS (SELECT n.doc_id AS new_id, s.doc_id AS seen_id,
         |         COUNT(*) AS n_shared
         |       FROM kept n JOIN kept s
         |         ON n.t = s.t AND n.fp = s.fp
         |        AND n.batch = n.t AND s.batch < n.t
         |       GROUP BY 1, 2)
         |SELECT new_id, seen_id, n_shared,
         |  CAST(new_id % 4 AS BIGINT) AS ingest_batch
         |FROM pr WHERE n_shared >= 2
         |ORDER BY new_id, seen_id""".stripMargin),

    // HOLD direction: the natural corpus's hottest fingerprint (df <= 4
    // at every shipped SF — and therefore <= 4 at every accumulated
    // turn prefix) stays below the same ceiling, every turn's probe is
    // a no-op, and the armed loop's output is bit-identical to l92's
    // uncapped run — graded against l92's oracle verbatim.
    QueryDef("l95_stream_cap_hold", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val hottest = hottestWinnowDf(docs)
      require(hottest <= 8,
        s"l95 expects the natural corpus under the df-8 ceiling, got $hottest")
      val root = graft.Scratch.dir("graft_incr_wnhold")
      runWinnowDrops(docs, root, maxDf = 8)
    },
      // l95 arms the cap on the natural corpus: every turn's df stays
      // under the ceiling (prefix df <= full-corpus df <= 4), the
      // probe is a no-op, so the contract is l92's uncapped oracle
      // verbatim; the hold precondition is pinned in-query
      streamWinnowSql),

    // The VECTOR store loop run for real — AnnIndex.runIngest was
    // spec-verified (AnnIndexSpec, the scale rehearsal) but carried no
    // CORRECTNESS row; this grades it end to end: base index built on
    // the 16 training vectors, four embedding drops driven through the
    // actual checkpoint-resumed streaming loop on the two-start
    // DropLoop driver (tag = batch id either way), the in-loop fold
    // collapsing {batch_0, batch_1} at the cadence point, and the
    // final serve graded against l55's whole-corpus recompute oracle
    // VERBATIM — stream-built == batch-built, bit for bit. In-query
    // requires pin the loop's physical behavior (one partition per
    // drop, the fold actually fired in-loop).
    QueryDef("l93_stream_ann_ingest", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annstr")
      Ann.build(Ann.trainingVecs(emb), s"$root/ix")
      DropLoop.run(emb, Ann.drops(emb), root, checkBatches = false)(src =>
        Ann.runIngest(src, s"$root/ix", checkpointDir = s"$root/ckpt", compactEvery = 2))
      require(AnnIndex.servableIngests(s, s"$root/ix") ==
          Seq("base", "batch_1", "batch_2", "batch_3"),
        "the loop must append one partition per drop and fold {0,1} in-loop")
      Ann.serve(s, s"$root/ix", Ann.probe(emb))
    },
      // l93 drives the same append/fold lifecycle through the REAL
      // streaming loop (checkpointed AvailableNow drops, in-loop fold);
      // the quantizers are still the 16 training vectors, so the
      // stream-built index must serve l55's oracle verbatim
      ivfPqServeSql)
  )
}
