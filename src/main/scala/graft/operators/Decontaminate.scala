package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training-data pipelines: flag training
  * documents that share word n-grams with an evaluation/benchmark corpus
  * (the standard guard against test-set leakage — long n-gram overlap is
  * the published heuristic for "this training doc quotes the benchmark").
  *
  * Scale design: both sides shingle into distinct word n-grams and meet
  * in an equi-join ON THE SHINGLE — never doc × doc. The eval side is
  * tiny relative to a 100 TB train corpus (benchmarks are MBs), so its
  * distinct-shingle set broadcasts and the whole check is one map-side
  * join over the train shingles; with a huge eval side it degrades
  * gracefully to a shuffle-on-shingle join. Per-doc stats come from one
  * groupBy(doc) over the matched shingles. Hashing/shingling reuses the
  * dedup family's primitives, so a DuckDB oracle reproduces every value.
  */
object Decontaminate {

  /** Per-train-document overlap stats against `eval`:
    * (id, n_sh, n_overlap, overlap_frac, contaminated). Documents with
    * fewer than `n` tokens have no n-grams — they surface with
    * n_sh = 0, overlap_frac = 0.0 (nothing to leak), not dropped.
    * `contaminated` = overlap_frac >= flagFrac AND n_sh > 0. */
  def overlapStats(train: DataFrame, eval: DataFrame, id: String, text: String,
                   n: Int, flagFrac: Double): DataFrame = {
    requireSpec(n, flagFrac)
    val trainSh = Dedup.shingleSet(train, id, text, n)
    val evalSh = Dedup.shingleSet(eval, id, text, n)
      .select(col("s")).distinct()
    // ONE pass over the train shingles: mark each shingle via a left
    // join against the (explicitly broadcast — benchmarks are MBs, the
    // hint must not hinge on autoBroadcastJoinThreshold) eval set, then
    // a single groupBy(id) yields both the total and the hit count.
    // With a huge eval side, drop the hint and the same plan degrades
    // to a shuffle-on-shingle join.
    val stats = trainSh
      .join(broadcast(evalSh.withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_overlap"))
    verdicts(train, stats, id, flagFrac)
  }

  private def requireSpec(n: Int, flagFrac: Double): Unit = {
    require(n >= 1, s"n-gram length must be >= 1, got $n")
    require(flagFrac > 0.0 && flagFrac <= 1.0, s"flagFrac must be in (0,1], got $flagFrac")
  }

  /** The overlap verdict per train doc from per-doc `stats` (id, n_sh,
    * n_overlap): docs without shingles read 0 / 0.0 and are never
    * contaminated; otherwise `contaminated` = overlap_frac >= flagFrac. */
  private def verdicts(train: DataFrame, stats: DataFrame, id: String,
                       flagFrac: Double): DataFrame = {
    val nSh = coalesce(col("n_sh"), lit(0L))
    val frac = when(nSh === 0, lit(0.0))
      .otherwise(coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_sh"))
    train.select(col(id))
      .join(stats, Seq(id), "left")
      .select(col(id), nSh.as("n_sh"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        frac.as("overlap_frac"),
        (frac >= flagFrac && nSh > 0).as("contaminated"))
  }

  /** Bloom-prefiltered overlap stats — the shape for when the eval side
    * outgrows an exact broadcast set (a large held-out corpus, many
    * benchmarks unioned) or when the train shingle stream should be
    * culled before ANY join. One `BloomFilterAggregate` pass over the
    * eval shingles yields a single bounded binary row; it broadcasts to
    * every train partition and `BloomFilterMightContain` (both are the
    * exact expressions Catalyst injects for runtime join filters) drops
    * ~all clean shingles map-side. Only bloom survivors enter the exact
    * shingle join, so the shuffle carries |overlap| + fpp·|train_sh|
    * rows instead of |train_sh|. False positives are then removed by the
    * exact join and clean shingles re-enter the count via the union, so
    * the result is BIT-IDENTICAL to `overlapStats` — the bloom only
    * moves work, never answers. ~1% fpp at 8 bits/item (Spark default).
    */
  def bloomOverlapStats(train: DataFrame, eval: DataFrame, id: String, text: String,
                        n: Int, flagFrac: Double,
                        expectedEvalShingles: Long = 1L << 20): DataFrame = {
    requireSpec(n, flagFrac)
    import graft.functions.BloomFunctions.{bloomOf, mightContain}
    val trainSh = Dedup.shingleSet(train, id, text, n)
    val evalSh = Dedup.shingleSet(eval, id, text, n).select(col("s")).distinct()
    // the filter rides a scalar subquery (the only form might_contain
    // accepts), evaluated once and shipped to every probe task
    val bloom = bloomOf(evalSh, xxhash64(col("s")), expectedEvalShingles)
    // persisted: the maybe/clean branch split below consumes the marked
    // frame twice, and without staging the tokenize→explode→distinct
    // pass (a full shuffle) would run once per branch. At 100 TB this
    // is the staged shingle artifact a production run writes to storage
    // between the mark and verify phases; released below once the
    // per-document stats are checkpointed (or their write failed).
    // BloomFilterAggregate over an EMPTY build side yields NULL, and a
    // NULL probe result would make both branch filters below drop every
    // train shingle (breaking the bit-identical-to-overlapStats
    // contract for an empty/too-short eval corpus) — an absent filter
    // means "definitely not present"
    val marked = trainSh
      .withColumn("maybe",
        coalesce(mightContain(bloom, xxhash64(col("s"))), lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // survivors verify exactly; definite misses skip the join entirely
    // and feed the SAME single groupBy(id) through the union, keeping
    // the one-aggregation discipline of the exact path
    val verified = marked.filter(col("maybe"))
      .join(evalSh.withColumn("hit", lit(1)), Seq("s"), "left")
      .select(col(id), col("hit"))
    val clean = marked.filter(!col("maybe"))
      .select(col(id), lit(null).cast("int").as("hit"))
    // the per-document stats (|train| rows, 3 cols) are staged to a
    // temp parquet dir — the literal "staged artifact between mark and
    // verify phases" of the 100 TB story. This (a) lets the big
    // shingle cache be released HERE instead of leaking into the
    // session until someone calls clearCache(), and (b) keeps the
    // returned frame recomputable from DISK after executor loss
    // (localCheckpoint blocks are executor-local and unrecoverable).
    val spark = train.sparkSession
    // cluster runs stage on the shared checkpoint FS; local-master
    // runs may use a driver-local temp dir (executors share the
    // machine). A multi-node run WITHOUT a checkpoint dir must fail
    // here: a driver-local path would have each executor commit to
    // its own disk and the read-back would silently lose documents.
    val stageDir = spark.sparkContext.getCheckpointDir
      .map(d => s"$d/graft_decontam_stats_${java.util.UUID.randomUUID().toString.take(12)}")
      .getOrElse {
        require(spark.sparkContext.isLocal,
          "bloomOverlapStats needs a shared staging FS on a cluster — " +
            "set spark.sparkContext.setCheckpointDir to a shared path")
        graft.Scratch.dir("graft_decontam_stats")
      }
    try verified.unionByName(clean)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_overlap"))
      .write.mode("overwrite").parquet(stageDir)
    finally marked.unpersist(blocking = false)
    // reclaim the stage when the JVM exits — the returned frame reads
    // it lazily, so it must outlive this call but not the process
    val stagePath = new org.apache.hadoop.fs.Path(stageDir)
    stagePath.getFileSystem(spark.sessionState.newHadoopConf()).deleteOnExit(stagePath)
    verdicts(train, spark.read.parquet(stageDir), id, flagFrac)
  }

  /** The filtering form: train rows whose benchmark overlap stays below
    * `maxFrac` (what a pipeline actually writes out). Same join shape. */
  def decontaminate(train: DataFrame, eval: DataFrame, id: String, text: String,
                    n: Int, maxFrac: Double): DataFrame = {
    val flagged = overlapStats(train, eval, id, text, n, maxFrac)
      .filter(!col("contaminated"))
      .select(col(id))
    train.join(flagged, Seq(id), "left_semi")
  }

  /** Embedding-space decontamination — the SEMANTIC complement of the
    * n-gram family above: a paraphrased or translated benchmark row
    * shares no long n-gram with the training doc that leaks it, but
    * their embeddings still sit next to each other. Per train vector,
    * the max cosine over the whole eval set; `contaminated` = that max
    * >= `flagCos`.
    *
    * Scale shape mirrors `overlapStats`: the eval side is
    * benchmark-sized (MBs against a 100 TB corpus) so it broadcasts
    * explicitly, and the check is ONE pass over the train embeddings —
    * a broadcast scoring loop with the codegen'd FloatVecDot inside
    * whole-stage codegen, then one groupBy(id) max. Train never pairs
    * with train, no shuffle ever carries a vector (the max is a
    * scalar), and eval norms are computed once per broadcast copy.
    * Scoring reuses the similarity family's guarded cosine (zero-norm
    * encoder-failure sentinel = cosine 0 to everything) rounded to
    * 6 d.p. per pair BEFORE the max, so the flag is reproducible in
    * any engine. An empty eval set surfaces every train row with
    * max_eval_cos 0.0, contaminated false — nothing to leak against,
    * never a silent row drop. */
  def semanticOverlapStats(train: DataFrame, eval: DataFrame, id: String,
                           vec: String, flagCos: Double): DataFrame = {
    require(flagCos > 0.0 && flagCos <= 1.0, s"flagCos must be in (0,1], got $flagCos")
    val t = Similarity.withNorm(train, vec)
      .select(col(id), col(vec).as("_tv"), col("nrm").as("_tn"))
    val e = Similarity.withNorm(eval, vec)
      .select(col(vec).as("_ev"), col("nrm").as("_en"))
    val agg = t.crossJoin(broadcast(e))
      .groupBy(col(id))
      .agg(max(Similarity.guardedCos(col("_tv"), col("_ev"),
        col("_tn"), col("_en"))).as("max_eval_cos"))
    train.select(col(id))
      .join(agg, Seq(id), "left")
      .select(col(id),
        coalesce(col("max_eval_cos"), lit(0.0)).as("max_eval_cos"),
        (coalesce(col("max_eval_cos"), lit(0.0)) >= flagCos).as("contaminated"))
  }

  /** The filtering form of the semantic check — train rows whose
    * nearest eval neighbor stays below `maxCos`. Same broadcast
    * shape. */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame, id: String,
                            vec: String, maxCos: Double): DataFrame = {
    val clean = semanticOverlapStats(train, eval, id, vec, maxCos)
      .filter(!col("contaminated"))
      .select(col(id))
    train.join(clean, Seq(id), "left_semi")
  }

  /** SPAN-level decontamination — the exact-substring complement of the
    * n-gram (`overlapStats`) and embedding (`semanticOverlapStats`)
    * checks, completing the triad: a benchmark passage quoted verbatim
    * inside a long training document barely moves the doc's n-gram
    * overlap FRACTION (the quote is a sliver of a big doc) and its
    * embedding not at all, but winnowing guarantees any shared token
    * run of length >= k + w - 1 lands at least one IDENTICAL
    * fingerprint in both documents (Schleimer et al., SIGMOD'03). Per
    * train doc: its fingerprint count, how many of those fingerprints
    * the eval corpus also selected, and `contaminated` = n_overlap >=
    * `minShared` (an ABSOLUTE evidence count, not a fraction — one
    * copied benchmark item is leakage no matter how long the training
    * doc is; >= 2 kills single-fingerprint hash coincidences).
    *
    * Scale shape mirrors `overlapStats`: the eval side is
    * benchmark-sized against a 100 TB corpus, so its distinct
    * fingerprint set (~|eval grams|/w rows of one BIGINT) broadcasts
    * and the whole check is ONE pass over the train fingerprints —
    * a broadcast left join marking hits, then a single groupBy(id)
    * for both counts. Train text never shuffles (winnowing emits
    * 16-byte (id, fp) rows); with a huge eval side the same plan
    * degrades to a shuffle-on-fp join by dropping the hint. Docs with
    * fewer than k tokens select no fingerprints — they surface with
    * n_fp = 0, clean (nothing to leak), never silently dropped. */
  def spanOverlapStats(train: DataFrame, eval: DataFrame, id: String,
                       text: String, k: Int, w: Int,
                       minShared: Long): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val trainFp = Dedup.winnowFingerprints(train, id, text, k, w)
    val evalFp = Dedup.winnowFingerprints(eval, id, text, k, w)
      .select(col("fp")).distinct()
    val stats = trainFp
      .join(broadcast(evalFp.withColumn("hit", lit(1))), Seq("fp"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_fp"), count(col("hit")).as("n_overlap"))
    train.select(col(id))
      .join(stats, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** The LEAK-SPAN report — not just WHO leaked (`spanOverlapStats`)
    * but WHERE: for every (train doc, eval doc) pair, the maximal
    * contiguous token intervals their positioned winnow selections
    * align on. A verbatim quoted region puts its selected fingerprints
    * on ONE dot-plot diagonal (train_pos − eval_pos constant), so the
    * same diagonal/island merge the MOSS-style intra-corpus report
    * uses (`Dedup.winnowMatchedIntervals`) draws the line "tokens
    * t_start–t_end of the training doc match tokens e_start–e_end of
    * the benchmark" — the evidence a curation reviewer needs to
    * confirm a flag, and the offsets a surgical span-REDACTION (rather
    * than whole-doc drop) would cut.
    *
    * Scale shape: the eval side's positioned selections broadcast
    * (benchmark-sized), the match join is per-fingerprint, and the
    * island merge is one pair-local window partitioned by
    * (train, eval, diagonal) — nothing funnels, train text never
    * shuffles. */
  def spanLeakReport(train: DataFrame, eval: DataFrame, id: String,
                     text: String, k: Int, w: Int, maxGap: Int,
                     minFps: Long): DataFrame = {
    val ts = Dedup.winnowSpans(train, id, text, k, w)
    val es = Dedup.winnowSpans(eval, id, text, k, w)
    val offsets = ts.as("t").join(broadcast(es.as("e")),
        col("t.fp") === col("e.fp"))
      .select(col(s"t.$id").as("da"), col(s"e.$id").as("db"),
        col("t.spos").as("pa"), col("e.spos").as("pb"))
    Dedup.mergeDiagonalIslands(offsets, k, maxGap, minFps)
      .select(col("da").as("train_id"), col("db").as("eval_id"),
        col("a_start").as("t_start"), col("a_end").as("t_end"),
        col("b_start").as("e_start"), col("b_end").as("e_end"),
        col("n_fps"))
  }

  /** Span REDACTION — the surgical alternative to dropping a whole
    * training doc for one quoted benchmark passage: cut exactly the
    * leaked token intervals `spanLeakReport` found and keep the rest
    * (the "remove the duplicated substring, not the document" move of
    * exact-substring dedup, applied to contamination). Returns
    * (id, text, n_cut): the text rebuilt from its surviving tokens,
    * and how many tokens were cut. BOTH branches rebuild with single
    * spaces (the same `\S+` token stream winnowing hashes), so
    * redacted and untouched docs are canonicalized identically and
    * the output is reproducible in any engine.
    *
    * Scale shape: the cut list is leak-sized (tiny — it broadcasts),
    * and the cutting itself is expression-level over the doc's own
    * token array (a codegen'd higher-order filter against the doc's
    * broadcast intervals) — the token stream never shuffles, no
    * explode, no re-aggregation. Fingerprint-derived intervals can
    * shave a few boundary tokens short of the true quote (the gram
    * straddling the edge exists in only one corpus — inherent to any
    * fingerprint span report); widen `maxGap`/lower `minFps` for
    * recall, or drop the doc via `spanDecontaminate` when any leak is
    * disqualifying. */
  def spanRedact(train: DataFrame, eval: DataFrame, id: String,
                 text: String, k: Int, w: Int, maxGap: Int,
                 minFps: Long): DataFrame = {
    val cuts = spanLeakReport(train, eval, id, text, k, w, maxGap, minFps)
      .groupBy(col("train_id").as(id))
      .agg(collect_list(struct(col("t_start").as("s"),
        col("t_end").as("e"))).as("_cuts"))
    train.join(broadcast(cuts), Seq(id), "left")
      .withColumn("_cuts", coalesce(col("_cuts"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("_toks", graft.functions.TextFunctions.tokens(col(text)))
      .withColumn("_kept", filter(col("_toks"),
        (_, i) => !exists(col("_cuts"),
          iv => i.cast("long") >= iv.getField("s") &&
            i.cast("long") <= iv.getField("e"))))
      .select(col(id),
        array_join(col("_kept"), " ").as(text),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_cut"))
  }

  /** The filtering form of the span check — train rows sharing fewer
    * than `minShared` winnow fingerprints with the eval corpus,
    * metadata intact. Same broadcast join shape. */
  def spanDecontaminate(train: DataFrame, eval: DataFrame, id: String,
                        text: String, k: Int, w: Int,
                        minShared: Long): DataFrame = {
    val clean = spanOverlapStats(train, eval, id, text, k, w, minShared)
      .filter(!col("contaminated"))
      .select(col(id))
    train.join(clean, Seq(id), "left_semi")
  }
}
