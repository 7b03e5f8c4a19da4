package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Embedding queries: quantization, brute-force and bucketed (IVF,
  * LSH) nearest-neighbour search, PQ/ADC and IVF-PQ serving, and the
  * persisted index's lifecycle (drift audit, tombstones, rebuild and
  * compaction decisions). */
object AnnQueries {
  import LlmBlocks._

  /** Salted random-hyperplane signatures (`Similarity.lshCosinePairs`
    * / `lshTopK`): per table t and plane i, the 64-d plane's value at d
    * is hex6(md5 key)/2^24 - 0.5, keyed 'i_d' for table 0 and
    * 't<t>_i_d' beyond; the projection is rounded to 6 d.p. before its
    * sign bit. Over the norm CTE `e`. */
  private def lshSigCte(planes: Int, tables: Int): String =
    s"""sig AS (SELECT vec_id, t,
       |    array_to_string(list_transform(generate_series(0, ${planes - 1}), i ->
       |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
       |          CAST(embedding[d] AS DOUBLE) *
       |          (CAST('0x' || substr(md5(CASE WHEN t = 0 THEN CONCAT(i, '_', d - 1)
       |                                       ELSE CONCAT('t', t, '_', i, '_', d - 1) END), 1, 6) AS BIGINT)
       |             / 16777216.0 - 0.5))), 6) >= 0
       |        THEN '1' ELSE '0' END), '') AS sig
       |  FROM e, UNNEST(generate_series(0, ${tables - 1})) tt(t))""".stripMargin

  /** The multi-table `lshTopK` neighbor ranking (l21/l45/l46): 6 planes
    * x 4 tables, candidates unioned across tables and deduped before
    * the guarded scoring, ranked per query by cosine desc, id asc. */
  private val lshMultiCtes: String =
    s"""${normCte()},
       |${lshSigCte(planes = 6, tables = 4)},
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
       |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id <> b.vec_id),
       |scored AS (SELECT c.qid, c.cid,
       |    ${guardedCos("q", "x")} AS cos
       |  FROM cand c JOIN e q ON q.vec_id = c.qid JOIN e x ON x.vec_id = c.cid),
       |rk AS (SELECT qid, cid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)""".stripMargin

  /** The batch probes' ADC top-5 per `qid` over the `adc` CTE. */
  private val adcTop5PerProbeSql: String =
    """SELECT qid, vec_id, rk, adc_dist FROM (
      |  SELECT qid, vec_id, adc_dist,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rk
      |  FROM adc) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** l76/l82's delete-aware tail: the full candidate ADC ranking, the
    * probe's top-3 non-self neighbors as the tombstone set, and the
    * top-10 drawn from the survivors. */
  private def annTombstoneSql: String =
    ivfPqAdcCtes + ",\n" +
    s"""adc AS (SELECT c2.vec_id,
       |    $adcDist
       |  FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
       |  GROUP BY 1),
       |del AS (SELECT vec_id FROM adc WHERE vec_id <> 0
       |        ORDER BY adc_dist, vec_id LIMIT 3)
       |SELECT vec_id, adc_dist FROM adc
       |WHERE vec_id NOT IN (SELECT vec_id FROM del)
       |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    // int8 embedding quantization: symmetric per-vector codes (4× the
    // corpus per shuffle byte) with an exact integer checksum and
    // per-vector error/cosine quality columns — all map-side.
    QueryDef("l31_embed_quantize", (s, dir) => {
      graft.operators.Quantize.stats(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    },
      // round() is half-away-from-zero in BOTH engines (Spark HALF_UP on
      // BigDecimal, DuckDB std round), so the int codes are bit-identical;
      // max_abs_err is an order-free max of deterministic per-element IEEE
      // ops — only cos_deq needs the house 6-d.p. rounding
      """WITH s AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |qq AS (SELECT vec_id, embedding, scale,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, e -> 0)
        |         ELSE list_transform(embedding, e -> LEAST(127, GREATEST(-127,
        |            CAST(round(CAST(e AS DOUBLE) / scale, 0) AS INTEGER)))) END AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  list_max(list_transform(list_zip(embedding, q),
        |    z -> abs(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) * scale))) AS max_abs_err,
        |  CASE WHEN list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE)*CAST(e AS DOUBLE))) = 0
        |         OR list_sum(list_transform(q, e -> (CAST(e AS DOUBLE)*scale)*(CAST(e AS DOUBLE)*scale))) = 0
        |       THEN 0.0
        |       ELSE round(list_sum(list_transform(list_zip(embedding, q),
        |              z -> CAST(z[1] AS DOUBLE) * (CAST(z[2] AS DOUBLE) * scale)))
        |            / (sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE)*CAST(e AS DOUBLE))))
        |               * sqrt(list_sum(list_transform(q, e -> (CAST(e AS DOUBLE)*scale)*(CAST(e AS DOUBLE)*scale))))), 6)
        |  END AS cos_deq
        |FROM qq ORDER BY vec_id""".stripMargin),

    // SemDedup: semantic near-dup removal over embeddings — coarse
    // clusters via the deterministic quantizer, within-cluster cosine
    // vs every lower-id mate, drop at >= 0.3 (synthetic embeddings are
    // near-orthogonal; real corpora run ~0.95+).
    QueryDef("l30_semdedup", (s, dir) => {
      graft.operators.Similarity.semDedup(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = 16, threshold = 0.3)
        .orderBy(col("vec_id"))
    },
      s"""WITH $ivfRoutingCtes,
        |assigned AS (SELECT ci AS cluster, vid FROM ranked WHERE rnk = 1),
        |mx AS (SELECT y.vid AS vid, MAX(${guardedCos("ea", "eb")}) AS max_lower_cos
        |  FROM assigned x JOIN assigned y ON x.cluster = y.cluster AND x.vid < y.vid
        |  JOIN e ea ON ea.vec_id = x.vid JOIN e eb ON eb.vec_id = y.vid
        |  GROUP BY 1)
        |SELECT a.vid AS vec_id, a.cluster, mx.max_lower_cos,
        |  COALESCE(mx.max_lower_cos >= 0.3, false) AS dropped
        |FROM assigned a LEFT JOIN mx ON mx.vid = a.vid
        |ORDER BY vec_id""".stripMargin),

    // Embedding near-dup pairs: cosine > 0.4.
    QueryDef("l8_embed_pairs", (s, dir) => {
      Similarity.cosinePairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("da"), col("db"))
    },
      s"""WITH ${normCte(n2 = "nrm")}
        |SELECT a.vec_id AS da, b.vec_id AS db,
        |  ${guardedCos("a", "b", n2 = "nrm", times = " * ")} AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ${guardedCos("a", "b", n2 = "nrm", times = " * ")} > 0.4
        |ORDER BY da, db""".stripMargin),

    // Brute-force cosine top-3 for query vectors vec_id < 10.
    QueryDef("l9_ann_topk", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.cosineTopK(e.filter(col("vec_id") < 10), e,
          "vec_id", "embedding", k = 3)
        .orderBy(col("qid"), col("rk"))
    },
      s"""WITH ${normCte(n2 = "nrm")},
        |scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |    ${guardedCos("q", "c", n2 = "nrm", times = " * ")} AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        |  FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin),

    // IVF ANN — the bucketed scale path as a VERIFIED query (not just a
    // spec): deterministic coarse quantizer (16 lowest-id centroids),
    // every vector assigned to its nearest list, queries probe the 4
    // nearest lists, scoring only bucket-mates. Assignment cosines are
    // rounded to 6 d.p. before the argmax so the bucketing itself is
    // engine-reproducible.
    QueryDef("l18_ann_ivf", (s, dir) => {
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = 16, nProbe = 4, k = 3)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    },
      // Mirrors ivfTopK: assignment divides by the per-vector norms,
      // scoring by sqrt of the squared-norm product (`guardedCos`).
      s"""WITH $ivfRoutingCtes,
        |buckets AS (SELECT ci AS bucket, vid AS cid FROM ranked WHERE rnk = 1),
        |probes AS (SELECT ci AS bucket, vid AS qid FROM ranked WHERE rnk <= 4),
        |scored AS (SELECT DISTINCT p.qid, b.cid,
        |    ${guardedCos("q", "t")} AS cos
        |  FROM probes p JOIN buckets b ON b.bucket = p.bucket AND b.cid <> p.qid
        |  JOIN e q ON q.vec_id = p.qid JOIN e t ON t.vec_id = b.cid),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin),

    // LSH ANN — the second bucketed scale path, also VERIFIED: random-
    // hyperplane signatures (md5-derived planes, no RNG) bucket the
    // corpus; scoring touches bucket-mates only. Bits come from
    // 6-d.p.-rounded projections, so the bucketing is reproducible in
    // any engine.
    QueryDef("l20_ann_lsh", (s, dir) => {
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, nPlanes = 8, k = 3)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    },
      // Mirrors Similarity.lshSignature: one table of 8 planes, keyed as
      // `lshSigCte`'s table 0.
      s"""WITH ${normCte()},
        |sig AS (SELECT vec_id, embedding, n2,
        |    array_to_string(list_transform(generate_series(0, 7), i ->
        |      CASE WHEN round(list_sum(list_transform(generate_series(1, 64), d ->
        |          CAST(embedding[d] AS DOUBLE) *
        |          (CAST('0x' || substr(md5(CONCAT(i, '_', d - 1)), 1, 6) AS BIGINT)
        |             / 16777216.0 - 0.5))), 6) >= 0
        |        THEN '1' ELSE '0' END), '') AS sig
        |  FROM e),
        |scored AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    ${guardedCos("a", "b")} AS cos
        |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id <> b.vec_id),
        |rk AS (SELECT qid, cid, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk FROM scored)
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin),

    // Multi-table LSH ANN — the recall-oriented variant as a VERIFIED
    // query: 4 independent md5-salted plane sets (table 0 = exactly
    // l20's planes), candidate union deduped before scoring. The
    // recall knob every deployment turns (see DedupSimilaritySpec's
    // recall floor), still bucket equi-joins only.
    QueryDef("l21_ann_lsh_multi", (s, dir) => {
      Similarity.lshTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, nPlanes = 6, k = 3, nTables = 4)
        .filter(col("qid") < 20)
        .orderBy(col("qid"), col("rk"))
    },
      // Mirrors the multi-table lshTopK (`lshMultiCtes`).
      s"""WITH $lshMultiCtes
        |SELECT qid, cid, cos, CAST(rk AS INT) AS rk FROM rk WHERE rk <= 3 AND qid < 20
        |ORDER BY qid, rk""".stripMargin),

    // LSH-bucketed cosine near-dup pairs — the 100 TB form of l8 (which
    // broadcasts one side): bucket candidates, exact scoring, threshold
    // filter. Precision exact, recall knob-tuned (4 planes × 6 tables).
    QueryDef("l22_embed_pairs_lsh", (s, dir) => {
      Similarity.lshCosinePairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, nPlanes = 4, nTables = 6, threshold = 0.4)
        .orderBy(col("da"), col("db"))
    },
      // Mirrors lshCosinePairs: bucket join, da<db, guarded scoring,
      // threshold.
      s"""WITH ${normCte()},
        |${lshSigCte(planes = 4, tables = 6)},
        |cand AS (SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
        |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT c.da, c.db,
        |    ${guardedCos("q", "x")} AS cos
        |  FROM cand c JOIN e q ON q.vec_id = c.da JOIN e x ON x.vec_id = c.db
        |  WHERE ${guardedCos("q", "x")} > 0.4
        |ORDER BY da, db""".stripMargin),

    // Cross-modal join: documents enriched with their embedding's norm
    // and label (text + vector modality in one row — the shape of a
    // multimodal training record).
    QueryDef("l11_multimodal_join", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      docs.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("label"),
          round(graft.operators.Similarity.norm2(col("embedding")), 6).as("norm2"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, lang, n_chars, label,
        |  round($sqNorm, 6) AS norm2
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin),

    // Per-dimension embedding statistics — the drift/normalization
    // audit every embedding corpus needs (|dim| output rows at any
    // corpus size).
    QueryDef("l38_embed_dim_stats", (s, dir) => {
      graft.operators.Similarity.dimStats(
          Tables.load(s, dir, "embeddings"), "embedding")
        .orderBy(col("dim"))
    },
      // Mirrors Similarity.dimStats operation order exactly:
      // round(s/n, 6), round(sqrt(greatest(s2/n - (s/n)*(s/n), 0)), 6).
      """WITH x AS (SELECT CAST(i - 1 AS INT) AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, UNNEST(generate_series(1, len(embedding))) g(i))
        |SELECT dim, CAST(count(*) AS BIGINT) AS n, min(x) AS mn, max(x) AS mx,
        |  round(sum(x) / count(*), 6) AS mean,
        |  round(sqrt(greatest(sum(x*x) / count(*) - (sum(x) / count(*)) * (sum(x) / count(*)), 0)), 6) AS std
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin),

    // Mean-pooled embeddings per label (chunk→document pooling /
    // per-class prototypes): per-dimension DECIMAL sums make the pooled
    // vectors layout-invariant; output unrolled to (label, d, m) rows
    // so the oracle verifies every component.
    QueryDef("l39_mean_pool", (s, dir) => {
      graft.operators.Similarity.meanPool(
          Tables.load(s, dir, "embeddings"), "label", "embedding")
        .select(col("grp").as("label"), col("n_vecs"),
          posexplode(col("centroid")).as(Seq("d", "m")))
        .orderBy(col("label"), col("d"))
    },
      // Decimal per-dimension sums (exact, associative) ÷ count in double,
      // cast to float — mirrors meanPool's operation order. The double →
      // decimal hop goes THROUGH VARCHAR: Spark's double→decimal cast
      // parses the shortest-roundtrip string (BigDecimal.valueOf), while
      // DuckDB's direct cast runs double arithmetic — their scale-20
      // tails differ by ~1e-18/element, and a group mean that lands on a
      // float rounding midpoint then flips (observed: sf0.001 label 7
      // dim 10, one ulp off). Both engines print doubles shortest-
      // roundtrip, so the varchar hop makes every element's decimal — and
      // therefore the exact sums and quotients — identical by
      // construction.
      """WITH x AS (SELECT label, CAST(i - 1 AS INT) AS d, embedding[i] AS x
        |           FROM embeddings, UNNEST(generate_series(1, len(embedding))) g(i)),
        |a AS (SELECT label, d,
        |        sum(CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(38,20))) AS s,
        |        count(*) AS n
        |      FROM x GROUP BY 1, 2)
        |SELECT label, CAST(n AS BIGINT) AS n_vecs, d,
        |  CAST(CAST(s AS DOUBLE) / n AS FLOAT) AS m
        |FROM a ORDER BY label, d""".stripMargin),

    // kNN label propagation, leave-one-out form: every labeled vector
    // predicted by the majority label of its LSH top-5 neighbors (the
    // classifier-based-filter primitive; same multi-table LSH recall
    // path as l21). correct=1 rows / total = held-out accuracy.
    QueryDef("l45_knn_classify", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val nb = Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, nPlanes = 6, k = 5, nTables = 4)
      graft.operators.Classify.knnSelfEval(nb,
          emb.select(col("vec_id"), col("label")), "vec_id", "label", 5)
        .orderBy(col("vec_id"))
    },
      // l21's multi-table LSH neighbor SQL at k=5 + majority vote
      // (votes desc, label asc) + leave-one-out comparison.
      s"""WITH $lshMultiCtes,
        |nb AS (SELECT r.qid, l.label AS nl FROM rk r
        |  JOIN embeddings l ON l.vec_id = r.cid WHERE r.rk <= 5),
        |votes AS (SELECT qid, nl, count(*) AS votes FROM nb GROUP BY qid, nl),
        |win AS (SELECT qid, nl AS pred, votes FROM (
        |    SELECT qid, nl, votes,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS vr
        |    FROM votes) WHERE vr = 1)
        |SELECT l.vec_id, l.label, w.pred, w.votes,
        |  COALESCE(CAST(l.label = w.pred AS INT), 0) AS correct
        |FROM embeddings l LEFT JOIN win w ON w.qid = l.vec_id
        |ORDER BY l.vec_id""".stripMargin),

    // Contrastive triplet mining: nearest same-label positive +
    // hardest different-label negative per anchor over an LSH top-20
    // neighborhood; negative margins double as a label-noise audit.
    QueryDef("l46_triplet_mine", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val nb = Similarity.lshTopK(emb, "vec_id", "embedding",
        dim = 64, nPlanes = 6, k = 20, nTables = 4)
      graft.operators.Classify.tripletMine(nb,
          emb.select(col("vec_id"), col("label")), "vec_id", "label")
        .orderBy(col("vec_id"))
    },
      // l45's LSH neighborhood widened to k=20; positive = best
      // same-label neighbor, negative = best different-label neighbor.
      s"""WITH $lshMultiCtes,
        |nb AS (SELECT r.qid, r.cid, r.cos, la.label AS ql, lb.label AS cl
        |  FROM rk r JOIN embeddings la ON la.vec_id = r.qid
        |            JOIN embeddings lb ON lb.vec_id = r.cid
        |  WHERE r.rk <= 20),
        |pos AS (SELECT qid, cid AS pos_id, cos AS pos_cos FROM (
        |    SELECT qid, cid, cos,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pk
        |    FROM nb WHERE ql = cl) WHERE pk = 1),
        |neg AS (SELECT qid, cid AS neg_id, cos AS neg_cos FROM (
        |    SELECT qid, cid, cos,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS pk
        |    FROM nb WHERE ql <> cl) WHERE pk = 1)
        |SELECT l.vec_id, l.label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
        |  round(p.pos_cos - n.neg_cos, 6) AS margin
        |FROM embeddings l
        |LEFT JOIN pos p ON p.qid = l.vec_id
        |LEFT JOIN neg n ON n.qid = l.vec_id
        |ORDER BY l.vec_id""".stripMargin),

    // Product quantization codes: each vector as m=4 one-byte codes
    // against per-subspace prefix codebooks — the IVF-PQ memory layout
    // (m bytes/vector vs dim×4). Assignment is squared-L2 argmin per
    // subspace, ties on lower centroid id.
    QueryDef("l53_pq_codes", (s, dir) => {
      val (_, codes) = Ann.pq(Tables.load(s, dir, "embeddings"))
      codes.orderBy(col("vec_id"), col("sub"))
    },
      s"""WITH $pqScoredCtes
        |$pqCodesSql ORDER BY vec_id, sub""".stripMargin),

    // PQ asymmetric-distance search: one probe vector against the coded
    // corpus via the k×m lookup table — each corpus vector costs m
    // integer lookups + an exact integer-micro sum, never a float
    // vector op. The 100 TB ANN serving shape.
    QueryDef("l54_pq_adc", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (cb, codes) = Ann.pq(emb)
      Ann.adcTopK(codes, cb, Ann.probe(emb))
    },
      s"""WITH $pqScoredCtes,
        |codes AS ($pqCodesSql),
        |${adcTableCtes(batch = false)}
        |${adcTop10Sql("c")}""".stripMargin),

    // IVF-PQ: the full billion-vector serving stack — the coarse
    // quantizer routes the probe to nProbe inverted lists, and ADC
    // scores ONLY those lists' codes against the k×m lookup table.
    // Scan cost = nProbe/nCentroids of the corpus, each touched vector
    // costing m byte-lookups; no float vector leaves the codebooks.
    QueryDef("l55_ivf_pq", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (cb, codes) = Ann.pq(emb)
      Ann.adcTopK(codes.join(Ann.probeCandidates(emb), Seq("vec_id"), "left_semi"),
        cb, Ann.probe(emb))
    },
      ivfPqServeSql),

    // Batch-probe ADC serving: top-5 per probe for a frame of query
    // vectors in ONE pass — the (qid, sub, code) lookup table
    // broadcasts and each corpus code row costs m lookups regardless
    // of probe count.
    QueryDef("l56_pq_adc_batch", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val (cb, codes) = Ann.pq(emb)
      Ann.adcTopKAll(codes, cb, emb.filter(col("vec_id") < 5), topK = 5)
        .orderBy(col("qid"), col("rk"))
    },
      s"""WITH $pqScoredCtes,
        |codes AS ($pqCodesSql),
        |${adcTableCtes(batch = true)},
        |adc AS (SELECT d.qid, c2.vec_id,
        |    $adcDist
        |  FROM codes c2 JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
        |  WHERE c2.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |$adcTop5PerProbeSql""".stripMargin),

    // l55's IVF-PQ search SERVED FROM A PERSISTED INDEX: codebooks,
    // codes, coarse centroids and inverted lists are built once and
    // written to parquet (the per-ingest-cycle artifact), then the
    // query runs entirely off the loaded frames — its plan's only
    // corpus access is fetching the probe vector. Hash-graded against
    // l55's recompute oracle, proving serve-from-disk is bit-identical
    // to rebuild-per-query.
    QueryDef("l62_ann_index_serve", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix")
      Ann.build(emb, root)
      Ann.serve(s, root, Ann.probe(emb))
    },
      // l62 serves from the PERSISTED index; floats round-trip parquet
      // bit-exactly, so its contract is l55's recompute oracle verbatim
      ivfPqServeSql),

    // Batch IVF-PQ serving from the persisted index — the production
    // request shape: five probes, each routed to ITS OWN nProbe lists
    // via the persisted centroids, ADC restricted per probe to its
    // candidate pairs, top-5 per probe in one pass.
    QueryDef("l64_ivf_pq_batch", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix_b")
      Ann.build(emb, root)
      Ann.serveBatch(s, root, emb.filter(col("vec_id") < 5), topK = 5)
        .orderBy(col("qid"), col("rk"))
    },
      // Batch IVF-PQ: l55's coarse routing computed PER PROBE (vec_id <
      // 5), l56's batch ADC restricted to each probe's candidate pairs.
      s"""WITH $ivfRoutingCtes,
        |buckets AS (SELECT ci AS bucket, vid FROM ranked WHERE rnk = 1),
        |pb AS (SELECT vid AS qid, ci AS bucket FROM ranked WHERE vid < 5 AND rnk <= 4),
        |cand AS (SELECT pb.qid, b.vid AS vec_id FROM buckets b JOIN pb ON pb.bucket = b.bucket),
        |$pqScoredCtes,
        |codes AS ($pqCodesSql),
        |${adcTableCtes(batch = true)},
        |adc AS (SELECT d.qid, c2.vec_id,
        |    $adcDist
        |  FROM codes c2
        |  JOIN dtab d ON d.sub = c2.sub AND d.code = c2.code
        |  JOIN cand ON cand.qid = d.qid AND cand.vec_id = c2.vec_id
        |  WHERE c2.vec_id <> d.qid
        |  GROUP BY 1, 2)
        |$adcTop5PerProbeSql""".stripMargin),

    // Quantizer DRIFT AUDIT — the retrain trigger of the append cycle:
    // l62 keeps quantizers fixed between rebuilds but nothing measured
    // WHEN to retrain. A synthetic drifted ingest — every element
    // shifted +0.25f, a mean shift on the zero-centered corpus (single
    // IEEE float add; REAL arithmetic is bit-identical on both
    // engines) — is appended to the persisted index, then both ingests
    // are audited against the base build's codebooks/centroids: mean
    // PQ quantization residual (the error ADC serving commits to,
    // integer-micros arithmetic) and IVF list-occupancy skew (drift
    // piles into few lists and destroys the nProbe/nCentroids
    // scan-fraction guarantee).
    QueryDef("l65_quantizer_drift", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annix_d")
      Ann.build(emb, root)
      val drifted = emb.select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      Ann.append(s, root, drifted, "drift")
      val ix = AnnIndex.load(s, root)
      val tagged = emb.select(lit("base").as("ingest"), col("vec_id"), col("embedding"))
        .unionByName(drifted.select(lit("drift").as("ingest"), col("vec_id"),
          col("embedding")))
      Ann.driftAudit(ix, tagged, "ingest")
        .orderBy(col("ingest"))
    },
      // Mirrors AnnIndex.driftAudit exactly: per-sub MIN of the rounded
      // squared distance to the base codebooks (l53's scoring), summed as
      // integer micros per vector (l54's ADC discipline), averaged per
      // ingest; bucket assignment is l55's cosine rnk=1 routing. The
      // drifted ingest shifts every element +0.25f (one IEEE float add —
      // REAL stays single-precision in DuckDB, bit-identical to Spark's
      // float Add) under offset ids.
      s"""WITH u AS (
        |  SELECT 'base' AS ingest, vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT 'drift' AS ingest, vec_id + 1000000,
        |    list_transform(embedding, x -> x + CAST(0.25 AS FLOAT))
        |  FROM embeddings),
        |$pqCodebookCtes,
        |sv AS (${subVecs("ingest, vec_id, t.sub", "u", "svec")}),
        |best AS (SELECT sv.ingest, sv.vec_id, sv.sub,
        |    MIN(${sqDist("sv.svec", "cb.cvec")}) AS dist
        |  FROM sv JOIN cb ON cb.sub = sv.sub
        |  GROUP BY 1, 2, 3),
        |ru AS (SELECT ingest, vec_id,
        |    SUM(CAST(round(dist * 1000000) AS BIGINT)) AS ru
        |  FROM best GROUP BY 1, 2),
        |resid AS (SELECT ingest, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |    SUM(ru) AS rus
        |  FROM ru GROUP BY 1),
        |${normCte(src = "u", cols = "ingest, vec_id, embedding", withNr = true)},
        |${normCte("c", "(SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)", withNr = true)},
        |ac AS (SELECT v.ingest, v.vec_id AS vid, c.vec_id AS ci,
        |    ${guardedCos("v", "c", norms = true)} AS cos
        |  FROM e v, c),
        |buck AS (SELECT ingest, vid, ci AS bucket FROM (
        |    SELECT ingest, vid, ci,
        |      ROW_NUMBER() OVER (PARTITION BY ingest, vid ORDER BY cos DESC, ci) AS rnk
        |    FROM ac) WHERE rnk = 1),
        |bn AS (SELECT ingest, bucket, COUNT(*) AS bn FROM buck GROUP BY 1, 2),
        |occ AS (SELECT ingest, CAST(COUNT(*) AS BIGINT) AS buckets_used,
        |        CAST(MAX(bn) AS BIGINT) AS max_bucket_n FROM bn GROUP BY 1)
        |SELECT r.ingest, r.n_vecs,
        |  round(CAST(r.rus AS DOUBLE) / 1000000 / r.n_vecs, 6) AS mean_adc_residual,
        |  o.buckets_used, o.max_bucket_n,
        |  round(CAST(o.max_bucket_n AS DOUBLE) * 16 / r.n_vecs, 6) AS occ_skew
        |FROM resid r JOIN occ o USING (ingest) ORDER BY ingest""".stripMargin),

    // Tombstone deletion from the PERSISTED ANN index — the
    // right-to-erasure path: no rebuild, the dead ids are masked out of
    // codes and lists at load. The delete targets the probe's three
    // nearest non-self neighbors FROM THE PRE-DELETE SERVE (derived
    // identically in the oracle), so the grade can never be vacuous:
    // the post-delete top-10 must drop exactly those ids and surface
    // the next tier, with every survivor's ADC score bit-unchanged.
    QueryDef("l76_ann_tombstone", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annts")
      Ann.build(emb, root)
      def serve() = Ann.serve(s, root, Ann.probe(emb))
      val del = serve().filter(col("vec_id") =!= 0)
        .orderBy(col("adc_dist"), col("vec_id")).limit(3)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_1")
      serve()
    },
      annTombstoneSql),

    // The deletion loop CLOSED, rebuild direction (x25's shape for
    // tombstones): a bulk erasure tombstones ~1/3 of the index; the
    // tombstone-share probe crosses the 0.2 threshold, so
    // rebuildIfTombstoned fires — tombstones purged, dead space
    // reclaimed — and the post-rebuild serve is graded against a
    // DuckDB recompute of the WHOLE IVF-PQ pipeline over the
    // post-delete corpus: the green hash row IS the "rebuild equals a
    // fresh build on the live corpus" claim. In-query requires make
    // the decision non-vacuous (share measured above threshold,
    // rebuild fired, deletion state spent).
    QueryDef("l81_ann_auto_rebuild", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annar")
      Ann.build(emb, root)
      // bulk erasure: every third id (the probe, vec_id 0, survives)
      val del = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_bulk")
      val live = emb.filter(col("vec_id") % 3 =!= 0 || col("vec_id") === 0)
      val d = Ann.rebuildIfTombstoned(s, root, live)
      require(d.rebuilt && d.share > 0.2,
        s"l81 expects the probe to fire: share ${d.share} (${d.deadIds}/${d.totalIds})")
      require(AnnIndex.loadTombstones(s, root).isEmpty,
        "rebuild must purge the tombstone artifacts (deletion state is spent)")
      Ann.serve(s, root, Ann.probe(live))
    },
      // l76: l55's IVF-PQ replay with a delete-aware tail — the full
      // candidate ADC ranking once, the probe's top-3 non-self
      // neighbors as the tombstone set (the same derivation the Spark
      // query runs on its pre-delete serve), and the graded top-10
      // drawn from the survivors.
      // l81: the WHOLE IVF-PQ pipeline recomputed over the post-delete
      // corpus — centroids, codebooks, codes, routing and ADC all
      // re-derived from the live vectors only, exactly what
      // rebuildIfTombstoned's buildIvfPq does. The corpus substitution
      // is mechanical (every read of `embeddings` goes through the
      // filtered CTE), so the oracle IS l55's recompute on the live set.
      (ivfPqAdcCtes
        .replace("FROM embeddings", "FROM live_embeddings")
        .replaceFirst("WITH ",
          "WITH live_embeddings AS (SELECT * FROM embeddings " +
            "WHERE vec_id % 3 <> 0 OR vec_id = 0),\n") + "\n" + adcTop10Sql("c2"))),

    // The deletion loop's NEGATIVE direction (x26's shape): a 3-id
    // erasure is far below the threshold, so the probe REFUSES to
    // rebuild — masking is the right trade at this share, and the
    // index artifacts stay untouched (tombstones still standing,
    // asserted). The serve grades against l76's masked-serve oracle
    // verbatim: hold-and-mask must be value-identical to what the
    // eager path produced.
    QueryDef("l82_ann_auto_hold", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annah")
      Ann.build(emb, root)
      def serve() = Ann.serve(s, root, Ann.probe(emb))
      val del = serve().filter(col("vec_id") =!= 0)
        .orderBy(col("adc_dist"), col("vec_id")).limit(3)
        .select(col("vec_id"))
      AnnIndex.deleteVectors(s, root, del, "vec_id", ingestTag = "erasure_1")
      val d = Ann.rebuildIfTombstoned(s, root, emb)
      require(!d.rebuilt && d.share > 0 && d.share <= 0.2,
        s"l82 expects the probe to hold: share ${d.share} (${d.deadIds}/${d.totalIds})")
      require(AnnIndex.loadTombstones(s, root).exists(_.count() == 3),
        "hold must leave the standing tombstones untouched")
      serve()
    },
      // l82 holds-and-masks: the serve contract is l76's masked-serve
      // oracle verbatim (same 3-nearest-derived deletion, same mask)
      annTombstoneSql),

    // The fragmentation loop CLOSED, fold direction (the small-files
    // twin of l81's deletion rebuild): the index is BUILT on exactly
    // the 16 training vectors, then the whole rest of the corpus
    // arrives as four append drops — the crawl-ingest lifecycle — and
    // the probe finds three fold-eligible partitions standing (k <
    // upToBatch = 3; batch_3 is the replay-protected last drop) above
    // the maxIngests = 2 ceiling, so compactIfFragmented fires and
    // folds them into one. The post-fold serve grades against l55's
    // WHOLE-CORPUS recompute oracle verbatim: quantizers trained on
    // the 16 lowest vec_ids are exactly what the oracle derives, so a
    // green hash row proves build + 4 appends + fold is bit-identical
    // to a single-shot index of everything — the append/compact
    // lifecycle is loss-free end-to-end, with appended vectors LIVE in
    // the graded top-k (the probe's neighbors come from the appends).
    QueryDef("l83_ann_auto_compact", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annacp")
      Ann.buildThenAppend(s, emb, root)
      val d = AnnIndex.compactIfFragmented(s, root, maxIngests = 2, upToBatch = 3)
      require(d.compacted && d.standingBatches == 3 && d.folded == 3,
        s"l83 expects the probe to fire and fold 3 partitions: $d")
      require(AnnIndex.servableIngests(s, root) == Seq("base", "batch_2", "batch_3"),
        "fold must leave exactly base + the folded batch_2 + the excluded batch_3")
      Ann.serve(s, root, Ann.probe(emb))
    },
      // l83/l84 grow the index from the 16 training vectors by four
      // appends, then fold (l83) or hold (l84): the quantizers are the
      // 16 lowest vec_ids either way — exactly what l55's recompute
      // derives — so both directions' serve contract is l55's
      // whole-corpus oracle verbatim; the decisions are pinned by
      // in-query requires on the probe and the physical layout
      ivfPqServeSql),

    // The fragmentation loop's NEGATIVE direction (x26's shape): the
    // same build-plus-four-drops index, but the ceiling is 8 — three
    // standing fold-eligible partitions don't justify rewriting the
    // appended history, so the probe REFUSES to fold and every ingest
    // partition stays physically untouched (asserted). The serve
    // grades against the same whole-corpus oracle: hold must be
    // value-identical to fold, so the two rows differ ONLY in the
    // asserted decision and the physical layout it preserved.
    QueryDef("l84_ann_compact_hold", (s, dir) => {
      import graft.operators.AnnIndex
      val emb = Tables.load(s, dir, "embeddings")
      val root = graft.Scratch.dir("graft_annach")
      Ann.buildThenAppend(s, emb, root)
      val d = AnnIndex.compactIfFragmented(s, root, maxIngests = 8, upToBatch = 3)
      require(!d.compacted && d.standingBatches == 3 && d.folded == 0,
        s"l84 expects the probe to hold at 3 standing <= ceiling 8: $d")
      require(AnnIndex.servableIngests(s, root) ==
          Seq("base", "batch_0", "batch_1", "batch_2", "batch_3"),
        "hold must leave every ingest partition untouched")
      Ann.serve(s, root, Ann.probe(emb))
    },
      ivfPqServeSql)
  )
}
