package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal and blob-store queries: binary payload plumbing, byte-level
  * and perceptual near-dup over blobs with their keep-best actions, the
  * byte-LSH recall audit, snapshot diffs, and the content-addressed
  * blob store's pointer, append and vacuum paths. */
object BlobQueries {
  import LlmBlocks._

  /** The shared head of the perceptual queries (l116, l118, l119): the
    * `variant`-injected corpus, its perceptual pairs at Hamming <= 3 and
    * the injected (original, twin) pairs (the oracle's
    * `perceptualCtes`). The corpus is persisted: the swap-variant build
    * feeds the pair chain's two band-join sides and the probes, and
    * dropping the persist measured l116 5.3 → 12.8 s at 32 cores.
    * `persistPairs` stages the pairs for the queries that probe them
    * before returning them (l116, l118). */
  private def perceptualHead(docs: DataFrame, variant: PerceptualVariant,
                             persistPairs: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bin = perceptualCorpus(docs, variant).persist(lvl)
    val pairs = graft.operators.Multimodal.perceptualNearDupPairs(bin, "doc_id", "payload",
      maxHamming = 3)
    val injected = bin.filter(col("doc_id") >= 1000000L)
      .select((col("doc_id") - 1000000L).as("da"), col("doc_id").as("db"))
    (bin, if (persistPairs) pairs.persist(lvl) else pairs, injected)
  }

  /** The byte-LSH leg of the perceptual queries (l116, l118): the
    * recall-stratified banding at l113's tuning, uncapped (the probe
    * measures the plain universe), over the injected twins and their
    * originals — band signatures are per doc, so that subset proves
    * the full corpus's claim at a fraction of the cost. */
  private def stratifiedBytePairs(bin: DataFrame): DataFrame = {
    val sub = bin.filter(col("doc_id") >= 1000000L || col("doc_id") % 50 === 0)
    val (pairs, _) = Dedup.byteNearDupPairsStratified(sub, "doc_id", "payload",
      n = 8, numHashes = 16, rowsPerBand = 4, shortRowsPerBand = 2,
      shortMaxShingles = 121, threshold = 0.7, maxDf = Long.MaxValue)
    pairs
  }

  /** The blob near-dup spec of l106/l108/l114 (the oracle's
    * `blobNearDupCtes`): byte 8-shingles, 16 hashes in bands of
    * `rowsPerBand` (the tuner's 4 for the 0.7 threshold), verified
    * byte Jaccard > 0.7, shingles above `maxDf` capped. */
  private def blobNearDupPairs(bin: DataFrame, maxDf: Long, rowsPerBand: Int = 4) =
    Dedup.byteNearDupPairs(bin, "doc_id", "payload", n = 8, numHashes = 16,
      rowsPerBand = rowsPerBand, threshold = 0.7, maxDf = maxDf)

  /** The two corpus versions of the CDC queries (l75, l77, l78):
    * `prev` drops doc_id % 13 == 3; `cur` drops % 11 == 4 and revises
    * % 5 == 0, so added, removed and changed docs all occur. Each is
    * (doc_id, text) plus the `extra` columns. Returns (prev, cur). */
  private def cdcSnapshots(d: DataFrame, extra: Column*): (DataFrame, DataFrame) =
    (d.filter(col("doc_id") % 13 =!= 3).select(col("doc_id") +: col("text") +: extra: _*),
      d.filter(col("doc_id") % 11 =!= 4).select(col("doc_id") +:
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text") +: extra: _*))

  /** The graded tail of the blob-store queries (l72, l78, l79): the
    * docs `pointers` resolve to in `store`, restored to text, must pass
    * the Delta losslessness gate against `corpus` (doc_id, text,
    * source); graded is the restored corpus's per-source profile. */
  private def restoredProfile(store: String, pointers: DataFrame, corpus: DataFrame,
                              gate: String): DataFrame = {
    import graft.operators.{Delta, Multimodal}
    val restored = Multimodal.joinBlobs(corpus.sparkSession, store, pointers)
      .select(col("doc_id"), decode(col("content"), "UTF-8").as("text"))
    Delta.assertLossless(restored, corpus.select(col("doc_id"), col("text")), gate)
    restored.join(corpus.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_blobs"),
        sum(octet_length(col("text"))).cast("long").as("sum_bytes"))
      .orderBy(col("source"))
  }

  /** The keep-best non-vacuity probe of l114/l119 over `kept`: (docs
    * dropped, injected variants (id >= 1,000,000) kept, variants
    * dropped). */
  private def keepBestStats(kept: DataFrame): (Long, Long, Long) = {
    val r = kept.agg(
      sum(when(col("kept") === 0, 1L).otherwise(0L)).as("n_drop"),
      sum(when(col("kept") === 1 && col("doc_id") >= 1000000L, 1L)
        .otherwise(0L)).as("var_kept"),
      sum(when(col("kept") === 0 && col("doc_id") >= 1000000L, 1L)
        .otherwise(0L)).as("var_drop")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The perceptual chain's CTE body, parameterized by the variant
    * expression (the one moving part between fire and hold) — no
    * leading WITH, ends at `hd` (dHash Hamming per candidate pair);
    * shared by the pair oracles (l116/l118, which append the aHash leg
    * + final select) and the keep-best retention oracle (l119, which
    * prepends WITH RECURSIVE for its closure tail). ASCII makes `ord`
    * over char positions exactly the byte stream; the %128 truncation
    * makes the 64 cells equal-length, so the engine replays the
    * cross-multiplied mean comparisons as plain sum comparisons
    * (sum_b·len > tot·len_b reduces to 64·sum_b > tot at equal cell
    * lengths — value-identical, each form the one its engine runs
    * cheapest, the blobNearDupSql precedent). Hamming distances and
    * band words are folded from the same bit rows, so no engine ever
    * shifts a negative 64-bit hash. */
  private def perceptualCtes(variantExpr: String): String =
    s"""t0 AS (SELECT doc_id, substr(text, 1, (length(text)//128)*128) AS t
       |            FROM documents WHERE length(text) >= 128),
       |base AS (
       |  SELECT doc_id, t FROM t0
       |  UNION ALL
       |  SELECT doc_id + 1000000, $variantExpr AS t
       |  FROM t0 WHERE doc_id % 50 = 0),
       |chars AS (SELECT doc_id, (i-1)//(length(t)//64) AS b,
       |            ord(substr(t, i, 1)) AS v
       |          FROM base, UNNEST(generate_series(1, length(t))) s(i)),
       |bsum AS (SELECT doc_id, b, SUM(v) AS sb FROM chars GROUP BY 1, 2),
       |tot AS (SELECT doc_id, SUM(sb) AS tt FROM bsum GROUP BY 1),
       |abits AS (SELECT s.doc_id, s.b,
       |            CASE WHEN s.sb * 64 > t.tt THEN 1 ELSE 0 END AS bit
       |          FROM bsum s JOIN tot t USING (doc_id)),
       |dbits AS (SELECT a.doc_id, a.b,
       |            CASE WHEN a.sb > c.sb THEN 1 ELSE 0 END AS bit
       |          FROM bsum a JOIN bsum c ON c.doc_id = a.doc_id
       |           AND c.b = (a.b+1) % 64),
       |bands AS (SELECT doc_id, b//16 AS bno,
       |            CAST(SUM(bit << (b%16)) AS BIGINT) AS bval
       |          FROM dbits GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |         FROM bands x JOIN bands y
       |           ON x.bno = y.bno AND x.bval = y.bval AND x.doc_id < y.doc_id),
       |hd AS (SELECT c.da, c.db,
       |         SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hamming
       |       FROM cand c JOIN dbits p ON p.doc_id = c.da
       |       JOIN dbits q ON q.doc_id = c.db AND q.b = p.b GROUP BY 1, 2)""".stripMargin

  private def perceptualSql(variantExpr: String): String =
    "WITH " + perceptualCtes(variantExpr) + ",\n" +
    """ha AS (SELECT c.da, c.db,
      |         SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS hamming_a
      |       FROM cand c JOIN abits p ON p.doc_id = c.da
      |       JOIN abits q ON q.doc_id = c.db AND q.b = p.b GROUP BY 1, 2)
      |SELECT hd.da, hd.db, CAST(hd.hamming AS BIGINT) AS hamming,
      |  CAST(ha.hamming_a AS BIGINT) AS hamming_a
      |FROM hd JOIN ha USING (da, db) WHERE hd.hamming <= 3
      |ORDER BY 1, 2""".stripMargin

  /** l119: the fire-variant perceptual pair chain + the l17
    * recursive-CTE closure + the size/id argmax retention (the l114
    * tail, scored on the truncated payload's length — char == byte on
    * this ASCII corpus). */
  private def perceptualKeepBestSql(variantExpr: String): String =
    "WITH RECURSIVE " + perceptualCtes(variantExpr) + ",\n" +
    s"""pairs AS (SELECT da, db FROM hd WHERE hamming <= 3),
       |${closureCtes("da", "db")},
       |members AS (SELECT lbl.rep, lbl.id, length(b.t) AS nb
       |            FROM lbl JOIN base b ON b.doc_id = lbl.id),
       |$keepBestSql""".stripMargin

  /** The blob keep-best retention (l114/l119): per closure group of
    * `lbl` the keeper is the member of most bytes `nb` (id tiebreak);
    * every `base` blob maps to its group's keeper, singletons to
    * themselves. */
  private val keepBestSql: String =
    """best AS (SELECT rep, id AS keep_id FROM (
      |           SELECT rep, id, ROW_NUMBER() OVER (PARTITION BY rep
      |             ORDER BY nb DESC, id) AS rk FROM members) WHERE rk = 1)
      |SELECT b.doc_id, COALESCE(best.keep_id, b.doc_id) AS keep_id,
      |  CAST(b.doc_id = COALESCE(best.keep_id, b.doc_id) AS INT) AS kept
      |FROM base b LEFT JOIN lbl ON lbl.id = b.doc_id
      |            LEFT JOIN best ON best.rep = lbl.rep
      |ORDER BY b.doc_id""".stripMargin

  /** Injection shapes for the l116/l118 perceptual corpus. */
  private sealed trait PerceptualVariant

  /** Adjacent byte pairs swapped: zero shared byte 8-grams, every
    * 64-cell block sum preserved exactly (raster identical). */
  private case object SwapVariant extends PerceptualVariant

  /** l106's byte-near-dup shape re-truncated ("HDR|" prepended, tail
    * trimmed): byte-shingle Jaccard ~0.95, raster scrambled (the
    * 4-byte shift moves every cell's content — measured dHash Hamming
    * 27-44). */
  private case object HeaderShiftVariant extends PerceptualVariant

  /** The l116/l118 perceptual blob corpus: payloads are each doc's
    * UTF-8 bytes TRUNCATED to a multiple of 128 (so the 64-cell
    * downscale grid gets even-offset, even-length cells — what makes
    * the swap injection sum-preserving), docs under 128 bytes dropped;
    * every 50th doc injects a `variant` twin at id + 1,000,000. The
    * corpus is pure printable ASCII, so char positions ARE byte
    * positions on both engines. Must stay byte-identical to the SQL
    * replay in the l116/l118 oracles. */
  private def perceptualCorpus(docs: DataFrame,
                               variant: PerceptualVariant): DataFrame = {
    val trunc = docs
      .select(col("doc_id"),
        col("text").substr(lit(1),
          (floor(length(col("text")) / 128) * 128).cast("int")).as("t"))
      .filter(length(col("t")) >= 128)
    val vt = variant match {
      case SwapVariant =>
        array_join(transform(
          sequence(lit(0), (length(col("t")) / 2).cast("int") - 1),
          i => concat(col("t").substr(i * 2 + 2, lit(1)),
            col("t").substr(i * 2 + 1, lit(1)))), "")
      case HeaderShiftVariant =>
        concat(lit("HDR|"),
          col("t").substr(lit(1), length(col("t")) - 4))
    }
    trunc.select(col("doc_id"), col("t").cast("binary").as("payload"))
      .unionAll(trunc.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          vt.cast("binary").as("payload")))
  }

  /** The byte-shingle near-dup chain replayed in DuckDB: injected blob
    * corpus, hex byte 8-grams, optional hot-bucket erase (df over
    * ndocs/2 — the l106 FIRE universe; l108 replays the plain one),
    * the FULL 16-seed minhash family (the text oracles use its first
    * 8), 4 strided bands of 4 (seed % 4 — the tuner's r for target
    * 0.7), verified Jaccard > 0.7. DuckDB slices the whole-payload hex
    * string; Spark hexes an n-byte binary slice — value-identical
    * (hex(substring(p, i+1, n)) == substr(hex(p), 2i+1, 2n)), each
    * form the one its engine executes efficiently. */
  /** The byte-shingle chain's CTE body (no leading WITH, ends at
    * `inter`) — shared by the pair oracles (l106/l108) and the
    * keep-best retention oracle (l114, which prepends WITH RECURSIVE
    * for its closure tail). */
  private def blobNearDupCtes(capped: Boolean): String = {
    val universe =
      if (capped)
        """hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY 1)
          |        WHERE df > (SELECT COUNT(*)//2 FROM documents)),
          |sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),""".stripMargin
      else "sh AS (SELECT * FROM sh0),"
    s"""base AS (
       |  SELECT doc_id, encode(text) AS payload FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
       |  FROM documents WHERE doc_id % 50 = 0),
       |hx AS (SELECT doc_id, octet_length(payload) AS nb,
       |         upper(hex(payload)) AS h FROM base),
       |sh0 AS (SELECT DISTINCT doc_id, substr(h, i*2+1, 16) AS s
       |        FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
       |        WHERE nb >= 8),
       |$universe
       |${setSizeCte("sh")},
       |${minhashCtes("doc_id", numHashes = 16, rowsPerBand = 4)},
       |cand AS (${bandPairsSql()}),
       |${candInterCte("inter")}""".stripMargin
  }

  private def blobNearDupSql(capped: Boolean): String =
    "WITH " + blobNearDupCtes(capped) + "\n" + jaccardPairsSql("inter", 0.7)

  /** l114: l106's fire-universe pair chain + the l17 recursive-CTE
    * closure + the size/id argmax retention — every corpus blob with
    * its group's keeper (max payload bytes, id tiebreak), singletons
    * keeping themselves. */
  private def blobKeepBestSql: String =
    "WITH RECURSIVE " + blobNearDupCtes(capped = true) + ",\n" +
    s"""pairs AS (${jaccardAbove("inter", 0.7)}),
       |${closureCtes("da", "db")},
       |members AS (SELECT lbl.rep, lbl.id, hx.nb
       |            FROM lbl JOIN hx ON hx.doc_id = lbl.id),
       |$keepBestSql""".stripMargin

  /** The l116/l119 swap injection: adjacent chars swapped pairwise. */
  private val swapVariantSql: String =
    "list_aggregate(list_transform(range(0, length(t)//2), " +
      "i -> substr(t, i*2+2, 1) || substr(t, i*2+1, 1)), 'string_agg', '')"

  def defs: Seq[QueryDef] = Seq(
    // Multimodal binary metadata plumbing (payload byte length + hash).
    QueryDef("l10_mm_binary", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          md5(col("text")).as("content_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes, md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal decode + frame sampling end-to-end: binary payload →
    // partition-parallel (stub) decode → every-2nd-frame sampler →
    // per-doc sample stats joined back to decode metadata. The decode
    // is a deterministic byte-derived fake (no media libs in env), so
    // the WHOLE plumbing chain — binary column, mapPartitions decode,
    // typed meta, frame explosion, agg — is oracle-checkable.
    QueryDef("l19_mm_frames", (s, dir) => {
      val bin = graft.operators.Multimodal.asBinary(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val meta = graft.operators.Multimodal.decodeMeta(s, bin)
      val frames = graft.operators.Multimodal.sampleFrames(s, meta, everyK = 2)
      frames.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("last_frame"))
        .join(meta.toDF().select(col("doc_id"), col("format"), col("frames")), "doc_id")
        .select(col("doc_id"), col("format"), col("frames"),
          col("n_sampled"), col("last_frame"))
        .orderBy(col("doc_id"))
    },
      // Mirrors Multimodal.stubDecode byte-derived metadata + the every-
      // 2nd-frame sampler: frames ∈ 1..4 → n_sampled = ceil(frames/2),
      // last sampled index = 2·floor((frames-1)/2).
      """WITH m AS (SELECT doc_id,
        |    CASE WHEN strlen(text) % 3 = 0 THEN 'png'
        |         WHEN strlen(text) % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |    CAST(1 + strlen(text) % 4 AS INT) AS frames
        |  FROM documents)
        |SELECT doc_id, format, frames,
        |  CAST((frames + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(((frames - 1) // 2) * 2 AS INT) AS last_frame
        |FROM m ORDER BY doc_id""".stripMargin),

    // Pointer-column blob store under grading — the 100 TB media
    // layout (SURVEY §7.2 step 8): payloads move to a content-addressed
    // store (one row per DISTINCT content, sha-256 identity), the
    // relational row keeps a pointer, and FOUR executable claims run
    // inside the query: (a) the store dedups — its row count equals the
    // corpus's distinct payloads; (b) every pointer resolves back and
    // the restored corpus passes the Delta losslessness gate bit for
    // bit (a dangling pointer would raise, not shrink); (c) a 3-key
    // point fetch through the `_filebloom` sidecar reads FEWER files
    // than the store holds — serving never scans; (d) the graded
    // per-source profile is computed FROM THE RESTORED corpus, so the
    // green hash row certifies the whole round trip, not the write
    // path alone. */
    QueryDef("l72_blob_pointer_store", (s, dir) => {
      import graft.operators.Multimodal
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val bin = Multimodal.asBinary(d, "doc_id", "text")
      val root = graft.Scratch.dir("graft_blob")
      val store = s"$root/store"
      val pointers = Multimodal.writeBlobStore(s, bin, store, nFiles = 8)
      val distinctPayloads = d.select(countDistinct(col("text"))).head().getLong(0)
      val storeRows = s.read.parquet(store).count()
      require(storeRows == distinctPayloads,
        s"content addressing must dedup: store holds $storeRows, corpus has $distinctPayloads distinct payloads")
      val profile = restoredProfile(store, pointers, d, "blob-store")
      val probeKeys = pointers.orderBy(col("doc_id")).limit(3)
        .select(col("blob_key")).collect().map(_.getLong(0)).toSeq.distinct
      val scan = Multimodal.fetchBlobs(s, store, probeKeys)
      require(scan.filesRead < scan.filesTotal,
        s"blob point-fetch read ${scan.filesRead}/${scan.filesTotal} files — sidecar not pruning")
      require(scan.df.count() >= probeKeys.size, "point fetch lost blobs")
      profile
    },
      // l72: DuckDB profiles the ORIGINAL corpus — a green hash row
      // proves the store round-trip (write → pointer join → decode)
      // reproduced it exactly; the dedup/losslessness/pruning claims
      // fail the Spark side loudly before any row reaches grading.
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_blobs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // Snapshot diff (CDC) between two corpus versions — the delta
    // report an incremental pipeline runs between ingest cycles. The
    // snapshots derive deterministically from the corpus (prev drops
    // doc_id % 13 == 3; cur drops % 11 == 4 and revises % 5 == 0), so
    // all three verdicts — added, removed, changed — fire at every SF.
    // Each side shrinks to an (id, xxhash64) pointer frame BEFORE the
    // full-outer join, so the documents never ride the shuffle; DuckDB
    // grades by comparing the payloads THEMSELVES, so the green row
    // also certifies the fingerprint trade (equal text ⇒ unchanged,
    // differing text ⇒ changed) on this corpus.
    QueryDef("l75_snapshot_diff", (s, dir) => {
      val (prev, cur) = cdcSnapshots(Tables.load(s, dir, "documents"))
      graft.operators.Audit.snapshotDiff(prev, cur, "doc_id", col("text"))
        .orderBy(col("doc_id"))
    },
      // l75: DuckDB rebuilds both snapshots and compares the payloads
      // THEMSELVES — the Spark side diffs (id, xxhash64) pointer
      // frames, so the green row certifies the fingerprint trade on
      // this corpus (equal text ⇒ no row, differing text ⇒ 'changed').
      """WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 3),
        |b AS (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |      FROM documents WHERE doc_id % 11 <> 4)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.doc_id IS NULL THEN 'added'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text <> b.text
        |ORDER BY doc_id""".stripMargin),

    // Byte-level blob NEAR-dup — closes the multimodal dedup asymmetry
    // (the blob store's sha-256 identity collapses EXACT byte copies
    // only, while the text side has seven near-dup families): payloads
    // are the docs' UTF-8 bytes plus, for every 50th doc, an injected
    // re-encoded variant (4-byte header prepended, two trailing chars
    // trimmed — distinct sha-256, ~0.96+ byte-shingle Jaccard; the l68
    // injection precedent, identical on both engines). FIRE direction:
    // the corpus's common byte fragments are genuine byte boilerplate
    // — 8 shingles sit above the ndocs/2 ceiling at every shipped SF —
    // so the measured cap erases them from the universe and the
    // near-dup verdicts ride on doc-specific bytes. The oracle replays
    // shingling, cap, minhash family, banding, and verified Jaccard.
    QueryDef("l106_blob_neardup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bin = blobCorpus(docs)
      val nBase = docs.count()
      // 16 hashes, bands tuned to the 0.7 report threshold (the l74
      // tuner: (1/4)^(1/4) = 0.707 → r=4). Byte shingles of this
      // small-vocabulary corpus are far more cross-doc-similar than
      // word shingles, so band selectivity is the whole ballgame: 2
      // bands of 2 admitted 74,689 candidates at sf0.1 (every
      // mid-similarity pair) and the exact-verify join priced them;
      // 4 bands of 4 admit 741 for the same verified output.
      val r = Dedup.tuneRowsPerBand(numHashes = 16, targetJaccard = 0.7)
      require(r == 4, s"the S-curve tuner must land on r=4 for (16, 0.7), got $r")
      val (pairs, d) = blobNearDupPairs(bin, maxDf = nBase / 2, rowsPerBand = r)
      require(d.capped && d.hottestDf > nBase / 2,
        s"l106 expects natural byte boilerplate over the ndocs/2 ceiling: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      // l106/l108: the byte-shingle near-dup chain, capped and plain
      // universes (fire and hold directions of the same operator)
      blobNearDupSql(capped = true)),

    // HOLD direction: same corpus, ceiling at the total payload count —
    // a document frequency can never exceed it, so the probe measures,
    // decides NOT to cap, and the output must be bit-identical to the
    // uncapped chain (the oracle replays the PLAIN universe).
    QueryDef("l108_blob_neardup_hold", (s, dir) => {
      val bin = blobCorpus(Tables.load(s, dir, "documents"))
      val nAll = bin.count()
      val (pairs, d) = blobNearDupPairs(bin, maxDf = nAll)
      require(!d.capped && d.hottestDf <= nAll,
        s"l108 expects the corpus-size ceiling to HOLD by definition: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      blobNearDupSql(capped = false)),

    // The RETENTION ACTION over blob near-dup groups — what l106's
    // pairs exist for, completing the blob family's symmetry with text
    // (exact sha identity / batch near-dup / streaming ingest / and
    // now groups + keep-best): verified byte pairs at l106's exact
    // settings feed the same star-CC + argmax-retention composition
    // l44 grades on text, scored here by payload SIZE (most-complete-
    // copy wins, id tiebreak — the score is the caller's policy knob;
    // first-seen-wins is score -id). On the injected corpus the
    // header-carrying variants are 2 bytes LONGER than their trimmed
    // originals, so the argmax genuinely bites in both directions
    // (some variants win their group, some die to a longer chain
    // neighbor) — pinned in-query so the grade can't go vacuous. The
    // oracle replays the full byte chain + recursive closure + the
    // size/id argmax.
    QueryDef("l114_blob_neardup_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val nBase = docs.count()
      val bin = blobCorpus(docs)
      val (pairs, d) = blobNearDupPairs(bin, maxDf = nBase / 2)
      require(d.capped && d.hottestDf > nBase / 2,
        s"l114 runs l106's fire universe; expected the cap to fire: $d")
      // persisted: the retention frame feeds TWO actions (the argmax
      // non-vacuity probe and the returned ordered output) — without
      // the cache the window + remap joins re-run for each (the l119
      // discipline, backported; the CC labels inside are already
      // persisted RDDs either way)
      val kept = Dedup.keepBestPerGroup(bin, pairs, "doc_id",
          octet_length(col("payload")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // non-vacuity of the retention rule, both directions: some
      // variants win their group, some lose
      val (nDrop, varKept, varDrop) = keepBestStats(kept)
      require(nDrop > 0 && varKept > 0 && varDrop > 0,
        s"l114 expects a non-vacuous argmax (drops > 0, variants on both " +
          s"sides): dropped=$nDrop varKept=$varKept varDropped=$varDrop")
      kept.orderBy(col("doc_id"))
    },
      // l114: the same fire-universe chain, closed transitively and
      // folded through the size/id argmax — the retention action
      blobKeepBestSql),

    // PERCEPTUAL blob near-dup, FIRE direction — the duplicate class
    // byte-shingle LSH cannot see by construction: every 50th doc
    // injects a RE-ENCODED variant (adjacent byte pairs swapped — the
    // deterministic stand-in for a quality/format change) that shares
    // ZERO byte 8-grams with its original (byte-shingle Jaccard = 0,
    // unreachable by any threshold) while preserving every 64-cell
    // block sum exactly (pair-aligned swaps cancel inside the
    // even-length cells the %128 truncation guarantees), so the
    // decode-free raster hashes are IDENTICAL. Both blind-spot
    // directions are pinned executably (the l112 pattern): the
    // production byte-LSH operator finds NONE of the injected pairs;
    // the Hamming-banded perceptual key finds ALL of them at distance
    // 0. The corpus's own built-in near-dups (identical truncated
    // prefixes) surface too — genuine perceptual duplicates, replayed
    // by the oracle's identical bit-arithmetic chain.
    QueryDef("l116_blob_perceptual_neardup", (s, dir) => {
      val (bin, pairs, injected) = perceptualHead(Tables.load(s, dir, "documents"),
        SwapVariant, persistPairs = true)
      val missed = injected.join(pairs, Seq("da", "db"), "left_anti").count()
      require(missed == 0,
        s"l116 expects the perceptual key to pair every injected re-encode; $missed missed")
      // the blind spot, executable — and pinned against the STRONGEST
      // byte operator, not just the base form: even with the
      // short-payload recall loop closed, a re-encode pair is
      // unreachable because the exact verification reads byte Jaccard
      // ~0 (the swap kills every 8-gram) — the gap is the SIGNAL's,
      // not the banding's
      val byteHits = injected.join(stratifiedBytePairs(bin), Seq("da", "db"), "left_semi")
        .count()
      require(byteHits == 0,
        s"l116 expects byte-shingle LSH blind to every re-encode pair, found $byteHits")
      pairs.orderBy(col("da"), col("db"))
    },
      // l116/l118: the decode-free perceptual chain — block sums over
      // the 64-cell grid, gradient bits, 16-bit-band LSH, exact
      // Hamming — with the two injections that prove the byte and
      // perceptual keys' duplicate classes disjoint (swap preserves
      // the raster and kills every 8-gram; the 4-byte header shift
      // does the exact opposite)
      perceptualSql(
        swapVariantSql)),

    // PERCEPTUAL blob near-dup, HOLD direction — the exact inverse of
    // l116, proving the key measures the RASTER and not the bytes:
    // the injected variant here is l106's byte-near-dup shape (4-byte
    // header prepended, tail trimmed, re-truncated) — byte-shingle
    // Jaccard ~0.95 (the shifted content windows are shared), but the
    // 4-byte shift moves every cell boundary's content, scrambling the
    // decode-free raster (measured dHash Hamming 27-44 at every
    // shipped SF). Pinned both ways: byte-LSH pairs EVERY injected
    // variant, the perceptual key pairs NONE. Together with l116 the
    // two keys' duplicate classes are provably disjoint — each is the
    // other's blind spot, and a 100 TB multimodal pipeline needs both.
    QueryDef("l118_blob_perceptual_hold", (s, dir) => {
      val (bin, pairs, injected) = perceptualHead(Tables.load(s, dir, "documents"),
        HeaderShiftVariant, persistPairs = true)
      val phantom = injected.join(pairs, Seq("da", "db"), "left_semi").count()
      require(phantom == 0,
        s"l118 expects the perceptual key to hold on every byte-shifted " +
          s"variant (the raster moved), found $phantom pairs")
      // the byte leg's stratified banding matters here: the
      // shift-variant of a minimum-length (128-byte) payload sits
      // exactly on the base banding's S-curve flank — the one place
      // base recall is < 1 by measurement (l113's short stratum) — and
      // the fine 2-row bands are the operator-level answer to
      // precisely that, so "byte-LSH pairs every shifted variant" is
      // deterministic at every SF instead of riding the flank's luck
      val byteMissed = injected.join(stratifiedBytePairs(bin), Seq("da", "db"), "left_anti")
        .count()
      require(byteMissed == 0,
        s"l118 expects byte-shingle LSH to pair every header-shifted " +
          s"variant (byte Jaccard ~0.95), $byteMissed missed")
      pairs.orderBy(col("da"), col("db"))
    },
      perceptualSql(
        "'HDR|' || substr(t, 1, length(t)-4)")),

    // The RETENTION ACTION over perceptual near-dup groups — l114's
    // symmetry carried to the perceptual key, completing the family
    // (pairs fire/hold -> groups + keep-best): l116's fire-universe
    // pairs feed the same star-CC + argmax composition, scored by
    // payload size (most-complete-copy wins, id tiebreak). Two
    // non-vacuity pins, each grading a different leg of the policy:
    // every injected swap twin ties its original's size EXACTLY (the
    // swap preserves length by construction) and must lose to the
    // smaller id — the deterministic-tiebreak leg; and strictly more
    // docs drop than there are injected twins — natural perceptual
    // groups (identical truncated prefixes) also collapse, so the
    // closure leg isn't riding the injection alone. On this corpus the
    // size argmax coincides with first-seen (group keepers are also
    // min ids — measured, not required: the score is the caller's
    // policy knob, and the tie leg is what the grade pins).
    QueryDef("l119_blob_perceptual_dedup", (s, dir) => {
      val (bin, pairs, injected) = perceptualHead(Tables.load(s, dir, "documents"),
        SwapVariant, persistPairs = false)
      val kept = Dedup.keepBestPerGroup(bin, pairs.select(col("da"), col("db")),
          "doc_id", octet_length(col("payload")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nInjected = injected.count()
      val (nDrop, varKept, varDrop) = keepBestStats(kept)
      require(varKept == 0 && varDrop == nInjected,
        s"l119 expects every injected swap twin to lose the size tie to " +
          s"its smaller-id original: kept=$varKept dropped=$varDrop of $nInjected")
      require(nDrop > nInjected,
        s"l119 expects natural perceptual groups to collapse beyond the " +
          s"injection: dropped=$nDrop vs $nInjected injected")
      kept.orderBy(col("doc_id"))
    },
      // l119: the fire chain's pairs + recursive closure + size/id
      // argmax — the l114 retention tail on the perceptual key
      perceptualKeepBestSql(
        swapVariantSql)),

    // LENGTH-STRATIFIED byte-LSH recall audit — turns the byte
    // family's recall story (a README anecdote: "99/100, one short-doc
    // miss") into measured rows, run over the ACTUAL blob store's
    // payload column (l72's content-addressed store — the frame
    // byteNearDupPairs exists for, exact dups already collapsed by
    // sha addressing). Ground truth is exact byte-Jaccard with no
    // banding, priced by a deterministic 10 % doc sample (doc_id % 10
    // — contains every % 50 original, so the injected variants' true
    // partners are always in-universe; the l63 sampling discipline:
    // restriction never biases a per-pair verdict). The LSH leg is the
    // production operator at l106's tuning on the SAME uncapped
    // shingle universe, so its verified pairs are a subset of the
    // exact set by construction and recall per min-payload-length
    // stratum is the banding's whole trade. At sf0.1 the short-payload
    // stratum carries the known S-curve miss as a graded row
    // (20/21, recall ~0.952); every other stratum reads 1.0.
    QueryDef("l113_byte_lsh_recall", (s, dir) => {
      import graft.operators.Multimodal
      val sample = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0).select(col("doc_id"), col("text"))
      val bin = blobCorpus(sample)
      val root = graft.Scratch.dir("graft_blobrec")
      Multimodal.writeBlobStore(s,
        bin.select(col("doc_id"), col("payload").as("content")),
        s"$root/store", nFiles = 8)
      val store = s.read.parquet(s"$root/store")
      val nAll = store.count()
      val exact = Dedup.byteJaccardPairs(store, "blob_key", "content",
        n = 8, threshold = 0.7)
      // the CLOSED LOOP on the measured trade (round-15 directive):
      // the stratified leg re-bands the short stratum (shingle count
      // under ceil(121/0.7) = 173 — 121 = the most shingles a sub-128-
      // byte payload can carry, the audit's stratum-0 bound) at the
      // tuner's r for a 0.5 target: more, shorter bands, recall over
      // precision exactly where the S-curve flank was the miss. ONE
      // audit call yields BOTH legs off one shingle frame and one base
      // band aggregate (the fine leg is priced as its marginal delta),
      // and the exact leg's identical shingle plan reads the same
      // cache (CacheManager dedupes canonical plans).
      val rShort = Dedup.tuneRowsPerBand(numHashes = 16, targetJaccard = 0.5)
      require(rShort == 2, s"the S-curve tuner must land on r=2 for (16, 0.5), got $rShort")
      val (lshBase0, lshStrat0, d) = Dedup.byteNearDupPairsAudit(store, "blob_key",
        "content", n = 8, numHashes = 16, rowsPerBand = 4,
        shortRowsPerBand = rShort, shortMaxShingles = 121,
        threshold = 0.7, maxDf = nAll)
      // both pair frames feed the report AND the outside probe below —
      // persist the (tiny) verified sets so the probe's action reads
      // them instead of re-running the verify joins
      val lshBase = lshBase0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lshStrat = lshStrat0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(!d.capped && d.hottestDf <= nAll,
        s"l113 audits the UNCAPPED universe (exact and LSH legs must share " +
          s"one shingle set for recall to be the only difference): $d")
      val nb = store.select(col("blob_key"), col("n_bytes"))
      val rep = exact
        .join(nb.select(col("blob_key").as("da"), col("n_bytes").as("_na")), "da")
        .join(nb.select(col("blob_key").as("db"), col("n_bytes").as("_nb")), "db")
        .select(col("da"), col("db"),
          floor(least(col("_na"), col("_nb")) / 128).cast("long").as("stratum"))
        .join(lshBase.select(col("da"), col("db"), lit(1).as("hit_base")),
          Seq("da", "db"), "left")
        .join(lshStrat.select(col("da"), col("db"), lit(1).as("hit")),
          Seq("da", "db"), "left")
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_exact"), count(col("hit_base")).as("n_lsh_base"),
          count(col("hit")).as("n_lsh"))
        .select(col("stratum"), col("n_exact"), col("n_lsh_base"), col("n_lsh"),
          (col("n_exact") - col("n_lsh")).as("n_missed"),
          (col("n_lsh_base").cast("double") / col("n_exact")).as("recall_base"),
          (col("n_lsh").cast("double") / col("n_exact")).as("recall"))
        .orderBy(col("stratum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      require(rep.agg(sum(col("n_exact"))).head().getLong(0) > 0,
        "l113 expects a non-empty exact ground truth (the injected " +
          "variants guarantee near-dup pairs in the sampled universe)")
      // both directions of the stratified trade, executable: recall
      // never drops in any stratum, and every pair the fine banding
      // ADDS has both sides inside the short universe (extra recall
      // comes only from the stratum the cut targets — no global
      // candidate blowup).
      require(rep.filter(col("n_lsh") < col("n_lsh_base")).isEmpty,
        "l113 expects stratified banding to dominate base recall in every stratum")
      val nsh = Dedup.byteShingleSet(store, "blob_key", "content", n = 8)
        .groupBy(col("blob_key")).agg(count(lit(1)).as("_nsh"))
      val outside = lshStrat.join(lshBase, Seq("da", "db"), "left_anti")
        .join(nsh.select(col("blob_key").as("da"), col("_nsh").as("_sa")), "da")
        .join(nsh.select(col("blob_key").as("db"), col("_nsh").as("_sb")), "db")
        .filter(greatest(col("_sa"), col("_sb")) >= 173).count()
      require(outside == 0,
        s"l113 expects every stratified-only pair to have BOTH sides in " +
          s"the short universe (shingle count < 173), found $outside outside")
      rep
    },
      // l113: the recall audit replayed — sampled universe, content
      // addressing as DISTINCT payload, exact byte-Jaccard ground
      // truth, the full 16-seed/4-band LSH chain, per-stratum fold.
      // Pair identity rides the payload itself (the Spark side keys on
      // blob_key) — per-stratum COUNTS are identical either way.
      s"""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |base AS (
        |  SELECT doc_id, encode(text) AS payload FROM docs
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    encode('HDR|' || substr(text, 1, greatest(length(text)-2, 0)))
        |  FROM docs WHERE doc_id % 50 = 0),
        |dp AS (SELECT DISTINCT payload FROM base),
        |hx AS (SELECT payload, octet_length(payload) AS nb,
        |         upper(hex(payload)) AS h FROM dp),
        |sh AS (SELECT DISTINCT payload, substr(h, i*2+1, 16) AS s
        |       FROM hx, UNNEST(generate_series(0, nb - 8)) t(i)
        |       WHERE nb >= 8),
        |cnt AS (SELECT payload, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.payload AS pa, b.payload AS pb, COUNT(*) AS inter
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.payload < b.payload
        |          GROUP BY 1, 2),
        |exact AS (SELECT pa, pb FROM inter
        |          JOIN cnt ca ON ca.payload = pa
        |          JOIN cnt cb ON cb.payload = pb
        |          WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) > 0.7),
        |${minhashCtes("payload", numHashes = 16, rowsPerBand = 4)},
        |cand AS (${bandPairsSql("payload", "pa", "pb")}),
        |fids AS (SELECT payload FROM cnt WHERE n_sh < 173),
        |${bandsCte("fbands", "payload", 16, 2, from = "mh JOIN fids USING (payload)")},
        |fcand AS (${bandPairsSql("payload", "pa", "pb", bands = "fbands")}),
        |candall AS (SELECT pa, pb FROM cand UNION SELECT pa, pb FROM fcand),
        |lshv AS (SELECT c.pa, c.pb FROM cand c
        |         JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
        |         JOIN cnt ca ON ca.payload = c.pa
        |         JOIN cnt cb ON cb.payload = c.pb
        |         WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) > 0.7),
        |lshs AS (SELECT c.pa, c.pb FROM candall c
        |         JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
        |         JOIN cnt ca ON ca.payload = c.pa
        |         JOIN cnt cb ON cb.payload = c.pb
        |         WHERE CAST(i.inter AS DOUBLE) / (ca.n_sh + cb.n_sh - i.inter) > 0.7),
        |strat AS (SELECT e.pa, e.pb,
        |            CAST(least(ha.nb, hb.nb) // 128 AS BIGINT) AS stratum,
        |            CASE WHEN lb.pa IS NOT NULL THEN 1 END AS hit_base,
        |            CASE WHEN ls.pa IS NOT NULL THEN 1 END AS hit
        |          FROM exact e
        |          JOIN hx ha ON ha.payload = e.pa
        |          JOIN hx hb ON hb.payload = e.pb
        |          LEFT JOIN lshv lb ON lb.pa = e.pa AND lb.pb = e.pb
        |          LEFT JOIN lshs ls ON ls.pa = e.pa AND ls.pb = e.pb)
        |SELECT stratum, COUNT(*) AS n_exact, COUNT(hit_base) AS n_lsh_base,
        |  COUNT(hit) AS n_lsh, COUNT(*) - COUNT(hit) AS n_missed,
        |  CAST(COUNT(hit_base) AS DOUBLE) / COUNT(*) AS recall_base,
        |  CAST(COUNT(hit) AS DOUBLE) / COUNT(*) AS recall
        |FROM strat GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental artifact refresh — l75's snapshot diff DRIVING the
    // pipeline: the previous cycle's per-doc quality scores are a
    // persisted artifact; the new cycle recomputes ONLY added+changed
    // docs, drops removed ones, and splices unchanged state through
    // untouched. Graded against DuckDB's FULL recompute over the new
    // snapshot — the green hash row IS the incremental-view-
    // maintenance equivalence claim (at 100 TB with a 1 % delta, the
    // difference between reprocessing a terabyte and everything).
    // In-query requires pin the contract: all three verdicts present
    // (no vacuous grade) and the recompute leg touches EXACTLY
    // |added| + |changed| documents.
    QueryDef("l77_incremental_refresh", (s, dir) => {
      import graft.operators.Audit
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val (prev, cur) = cdcSnapshots(Tables.load(s, dir, "documents"))
      def score(c: org.apache.spark.sql.DataFrame) =
        c.select(col("doc_id"),
            TextFunctions.qualityScore(col("text")).as("q_score"))
          .withColumn("keep", col("q_score") >= 0.5)
      val root = graft.Scratch.dir("graft_incr")
      score(prev).write.parquet(s"$root/state") // the standing artifact
      val state = s.read.parquet(s"$root/state")
      val diff = Audit.snapshotDiff(prev, cur, "doc_id", col("text"))
        .persist(lvl)
      val counts = diff.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // <= 3 rows
      require(Seq("added", "removed", "changed")
          .forall(counts.getOrElse(_, 0L) > 0L),
        s"diff must exercise all three verdicts, got $counts")
      var recomputedRows = -1L
      val out = Audit.incrementalRefresh(state, cur, diff, "doc_id", todo => {
        val r = score(todo).persist(lvl)
        recomputedRows = r.count()
        r
      })
      require(recomputedRows == counts("added") + counts("changed"),
        s"delta recompute touched $recomputedRows docs, expected " +
          s"${counts("added") + counts("changed")} (added+changed only)")
      out.orderBy(col("doc_id"))
    },
      // l77: DuckDB recomputes the artifact over the WHOLE new
      // snapshot (l35's quality replay with documents -> snapshot b) —
      // the Spark side recomputes only the delta and splices standing
      // state through, so the green hash row proves incremental ==
      // full, the IVM equivalence claim.
      s"""WITH b AS (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |      FROM documents WHERE doc_id % 11 <> 4),
        |${qualityFeatsCte("doc_id", "b")},
        |$qualityLogitCte
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
        |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin),

    // Blob-store APPEND — stores accrete across ingest cycles: the
    // previous cycle's store plus the new snapshot's payloads, where
    // only shas the store doesn't already hold are written (content
    // addressing makes cross-ingest dedup one anti-join). In-query
    // requires pin the lifecycle claims: the grown store holds exactly
    // the UNION's distinct payloads, a replayed append writes nothing,
    // and the new cycle's pointers restore its corpus through the
    // Delta losslessness gate. Graded on the per-source profile of the
    // RESTORED new snapshot.
    QueryDef("l78_blob_append", (s, dir) => {
      import graft.operators.Multimodal
      val (prev, cur) = cdcSnapshots(Tables.load(s, dir, "documents"), col("source"))
      val root = graft.Scratch.dir("graft_blobapp")
      val store = s"$root/store"
      Multimodal.writeBlobStore(s,
        Multimodal.asBinary(prev, "doc_id", "text"), store, nFiles = 8)
      val pointers = Multimodal.appendBlobStore(s,
        Multimodal.asBinary(cur, "doc_id", "text"), store, nFiles = 4)
      val unionDistinct = prev.select(col("text"))
        .union(cur.select(col("text"))).distinct().count()
      val storeRows = s.read.parquet(store).count()
      require(storeRows == unionDistinct,
        s"append must dedup across ingests: store $storeRows vs union-distinct $unionDistinct")
      Multimodal.appendBlobStore(s,
        Multimodal.asBinary(cur, "doc_id", "text"), store, nFiles = 4)
      require(s.read.parquet(store).count() == storeRows,
        "a replayed append must write nothing")
      restoredProfile(store, pointers, cur, "blob-append")
    },
      // l78: DuckDB profiles the NEW snapshot directly — the Spark side
      // routes it through write → append (cross-ingest dedup) →
      // pointer join → decode, so the green row certifies the whole
      // grown-store round trip; the dedup/no-op-replay/losslessness
      // claims fail the Spark side loudly before grading.
      """WITH b AS (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text,
        |        source
        |      FROM documents WHERE doc_id % 11 <> 4)
        |SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_blobs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
        |FROM b GROUP BY source ORDER BY source""".stripMargin),

    // Blob-store VACUUM — the erasure pass for media: content
    // addressing stores bytes once, so a blob dies only when its LAST
    // referencing row is gone (refcount semantics via one semi-join
    // against the live pointers). The swap is two atomic directory
    // renames with state-derived crash recovery. In-query requires pin
    // that the vacuum kept EXACTLY the live snapshot's distinct
    // payloads and actually dropped the erased docs' blobs; the
    // surviving pointers restore their corpus through the Delta gate;
    // graded on the restored snapshot's per-source profile.
    QueryDef("l79_blob_vacuum", (s, dir) => {
      import graft.operators.Multimodal
      val d = Tables.load(s, dir, "documents")
      val all = d.select(col("doc_id"), col("text"), col("source"))
      val cur = all.filter(col("doc_id") % 11 =!= 4)
      val root = graft.Scratch.dir("graft_blobvac")
      val store = s"$root/store"
      val allPtr = Multimodal.writeBlobStore(s,
        Multimodal.asBinary(all, "doc_id", "text"), store, nFiles = 8)
      val livePtr = allPtr.join(cur.select(col("doc_id")), Seq("doc_id"))
      val (kept, dropped) = Multimodal.vacuumBlobStore(s, store, livePtr, nFiles = 8)
      val liveDistinct = cur.select(col("text")).distinct().count()
      require(kept == liveDistinct,
        s"vacuum must keep exactly the live payloads: kept $kept vs $liveDistinct")
      require(dropped > 0, "the erased docs' unreferenced blobs must drop")
      restoredProfile(store, livePtr, cur, "blob-vacuum")
    },
      // l79: DuckDB profiles the surviving snapshot — the Spark side
      // serves it from the VACUUMED store, so the green row certifies
      // erasure kept every live blob while the in-query requires pin
      // that the dead ones actually dropped.
      """SELECT source, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_blobs,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes
        |FROM documents WHERE doc_id % 11 <> 4
        |GROUP BY source ORDER BY source""".stripMargin)
  )
}
