package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch near-duplicate detection over text: exact, n-gram Jaccard,
  * MinHash-LSH, SimHash and winnowing pair generators, their groups and
  * keep-best actions, the hot-bucket df caps, the LSH recall audits,
  * URL dedup, and fuzzy entity resolution over part names. */
object NearDupQueries {
  import LlmBlocks._

  /** The fuzzy-ER blocking keys: a part name's last and first word. */
  private val lastWord: Column => Column = v => element_at(split(v, " "), -1)

  private val firstWord: Column => Column = v => element_at(split(v, " "), 1)

  /** The one-token vocabulary of the q-gram queries (l112, l115): the
    * distinct words of p_name, plus a last-char-dropped typo of every
    * word of >= 5 chars. Returns (words, words + typos). */
  private def typoWordCorpus(part: DataFrame): (DataFrame, DataFrame) = {
    val words = part.select(explode(split(col("p_name"), " ")).as("w")).distinct()
    (words, words.unionAll(words.filter(length(col("w")) >= 5)
      .select(col("w").substr(lit(1), length(col("w")) - 1).as("w"))))
  }

  /** The q-gram queries' keys: both word keys as one-element sets, then
    * the character 3-gram set. */
  private val qgramKeys: Seq[Column => Column] =
    Seq(v => array(lastWord(v)), v => array(firstWord(v)), v => Dedup.qgramSet(v, 3))

  /** Shared-shingle count `i` per pair: over every pair of `sh` with
    * ordered ids (`Dedup.ngramJaccardPairs`' bucket self-join). */
  private def allPairsInterCte(name: String, sh: String): String =
    s"""$name AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
       |          FROM $sh a JOIN $sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin

  /** The LSH recall audit's chain over `src` (l52/l63): exact Jaccard
    * > 0.8 over all pairs (`exact`) against the graded LSH spec's
    * verified pairs (`lsh`). */
  private def lshRecallCtes(src: String): String =
    s"""${shingleCtes("d", "sh", src, n = 3)},
       |${setSizeCte("sh")},
       |${allPairsInterCte("einter", "sh")},
       |exact AS (${jaccardAbove("einter", 0.8)}),
       |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)},
       |cand AS (${bandPairsSql()}),
       |${candInterCte("vinter")},
       |lsh AS (${jaccardAbove("vinter", 0.8)})""".stripMargin

  /** l88/l91: the positioned chain over the corpus, ending at `sels`. */
  private val winnowSpanCtes: String =
    s"""${winnowCtes("toks", "g", "wm", "documents", k = 5, w = 4, positioned = true)},
       |sels AS (${winnowSelect(spanCols, "wm", w = 4)})""".stripMargin

  /** Winnow containment (`Dedup.winnowContainmentPairs`): shared
    * fingerprints over the smaller side's fingerprint count. */
  private val containmentOf = "CAST(n_shared AS DOUBLE) / least(ca.n_fp, cb.n_fp)"

  /** l96/l97: the corpus fingerprints, per-doc counts `cnt` and shared
    * counts `pr`. */
  private val winnowContainmentCtes: String =
    s"""${winnowFpCtes("documents")},
       |${setSizeCte("fps", "n_fp")},
       |${sharedFpCte("pr", "fps")}""".stripMargin

  /** SimHash-32 (`Dedup.simhash32`): per token md5, per (hex
    * digit p, bit b) of its first 8 digits a +1/-1 vote summed per
    * doc in `s`; `simhashFold` packs the positive sums into the 32-bit
    * fingerprint. */
  private val simhashCtes: String =
    """tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS t FROM documents),
      |h AS (SELECT doc_id, md5(t) AS h FROM tok),
      |bits AS (SELECT doc_id, p, b,
      |    CASE WHEN ((instr('0123456789abcdef', substr(h, p, 1)) - 1) >> b) & 1 = 1
      |         THEN 1 ELSE -1 END AS c
      |  FROM h, UNNEST(generate_series(1, 8)) tp(p), UNNEST(generate_series(0, 3)) tb(b)),
      |s AS (SELECT doc_id, p, b, SUM(c) AS s FROM bits GROUP BY 1, 2, 3)""".stripMargin

  private val simhashFold: String =
    "CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << ((8 - p) * 4 + b)) ELSE 0 END) AS BIGINT)"

  /** The winnowing pair pipeline in DuckDB — shared verbatim by l85
    * (the uncapped generator) and l87 (the capped generator holding
    * below its df ceiling on the natural corpus: identical output by
    * the hold contract). */
  private val winnowPairsSql: String =
    s"""WITH ${winnowFpCtes("documents")},
       |${sharedFpCte("pairs", "fps")}
       |SELECT da, db, n_shared FROM pairs WHERE n_shared >= 2
       |ORDER BY da, db""".stripMargin

  /** The l103/l104 injected messy URLs: four doc_id-derived variants,
    * three of which canonicalize identically per doc_id-div-4 group.
    * Must stay byte-identical to the SQL replay in `urlCanonCtes`. */
  private def injectedUrl: org.apache.spark.sql.Column = {
    val base = expr("doc_id div 4").cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("HTTPS://WWW.Example.COM:443/site/"), base,
        lit("/page?utm_source=feed#top")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://example.com/site/"), base, lit("/page")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://example.com//site/"), base,
          lit("/page/?utm_campaign=x")))
      .otherwise(
        concat(lit("http://example.com:80/site/"), base, lit("/page?ref="),
          (col("doc_id") % 5).cast("string")))
  }

  /** The canonicalization chain replayed step for step in DuckDB (the
    * 'g' flags mirror Spark's replace-all semantics; no capture-group
    * backreferences, so the patterns are engine-portable). Ends at
    * `s5` with (doc_id, url, pfx, rest). */
  private val urlCanonCtes: String =
    """WITH u AS (SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page?utm_source=feed#top'
      |      WHEN 1 THEN 'https://example.com/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page'
      |      WHEN 2 THEN 'https://example.com//site/' || CAST(doc_id // 4 AS VARCHAR) || '/page/?utm_campaign=x'
      |      ELSE 'http://example.com:80/site/' || CAST(doc_id // 4 AS VARCHAR) || '/page?ref=' || CAST(doc_id % 5 AS VARCHAR)
      |    END AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '', 'g') AS nf
      |       FROM u),
      |s2 AS (SELECT *, lower(regexp_extract(nf, '^[A-Za-z]+://[^/?#]*', 0)) AS pfx0
      |       FROM s1),
      |s3 AS (SELECT *, substring(nf, length(pfx0)+1) AS rest0,
      |         regexp_replace(pfx0, '://www\.', '://', 'g') AS pfx1 FROM s2),
      |s4 AS (SELECT *, CASE WHEN pfx1 LIKE 'https://%'
      |                        THEN regexp_replace(pfx1, ':443$', '')
      |                      WHEN pfx1 LIKE 'http://%'
      |                        THEN regexp_replace(pfx1, ':80$', '')
      |                      ELSE pfx1 END AS pfx FROM s3),
      |sq AS (SELECT *, strpos(rest0, '?') AS qpos FROM s4),
      |sp AS (SELECT *,
      |         CASE WHEN qpos > 0 THEN substring(rest0, 1, qpos - 1)
      |              ELSE rest0 END AS path0,
      |         CASE WHEN qpos > 0 THEN substring(rest0, qpos)
      |              ELSE '' END AS qs0 FROM sq),
      |s5 AS (SELECT *,
      |         regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'),
      |           '/$', '', 'g')
      |         || regexp_replace(regexp_replace(regexp_replace(qs0,
      |              '&utm_[^&]*', '', 'g'), '^\?utm_[^&]*&', '?', 'g'),
      |              '^\?utm_[^&]*$', '', 'g') AS rest FROM sp)""".stripMargin

  /** l107/l109: the typo-injected vocabulary's multi-key blocked
    * candidates (last word, first word), length-prefiltered and
    * unioned before the DP. */
  private val multiBlockCandCtes: String =
    """p2 AS (SELECT p_name FROM part
      |            UNION ALL
      |            SELECT substr(p_name, 1, length(p_name)-1)
      |            FROM part WHERE p_partkey % 100 = 0),
      |v AS (SELECT DISTINCT p_name AS s FROM p2),
      |b1 AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v),
      |b2 AS (SELECT s, split_part(s, ' ', 1) AS blk FROM v),
      |cand AS (
      |  SELECT a.s AS va, b.s AS vb FROM b1 a
      |  JOIN b1 b ON a.blk = b.blk AND a.s < b.s
      |  WHERE abs(length(a.s) - length(b.s)) <= 2
      |  UNION
      |  SELECT a.s, b.s FROM b2 a
      |  JOIN b2 b ON a.blk = b.blk AND a.s < b.s
      |  WHERE abs(length(a.s) - length(b.s)) <= 2)""".stripMargin

  /** l112/l115: the q-gram blocked candidates over the one-token
    * vocabulary (+ truncation typos), the df > 16 cap replayed. */
  private val qgramCandCtes: String =
    """lw AS (SELECT DISTINCT UNNEST(string_split(p_name, ' ')) AS w
      |           FROM part),
      |v AS (SELECT w FROM lw
      |      UNION
      |      SELECT substr(w, 1, length(w)-1) FROM lw WHERE length(w) >= 5),
      |g AS (SELECT w, substr(w, i, 3) AS blk
      |      FROM v, UNNEST(generate_series(1, length(w)-2)) t(i)
      |      WHERE length(w) >= 3),
      |gb AS (SELECT DISTINCT w, blk FROM g),
      |hot AS (SELECT blk FROM gb GROUP BY blk HAVING COUNT(*) > 16),
      |kept AS (SELECT w, blk FROM gb
      |         WHERE blk NOT IN (SELECT blk FROM hot)),
      |cand AS (SELECT DISTINCT a.w AS va, b.w AS vb
      |         FROM kept a JOIN kept b ON a.blk = b.blk AND a.w < b.w
      |         WHERE abs(length(a.w) - length(b.w)) <= 2)""".stripMargin

  /** l16's verified LSH pairs, also l74's (its tuner picks l16's rows). */
  private val lshVerifiedSql: String =
    s"""WITH ${lshVerifyCtes("documents")}
      |${jaccardPairsSql("inter", 0.8)}""".stripMargin

  /** l5's exact 3-gram Jaccard pairs, also l90's (its df cap holds). */
  private val ngramJaccardSql: String =
    s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
      |${setSizeCte("sh")},
      |${allPairsInterCte("inter", "sh")}
      |${jaccardPairsSql("inter", 0.8)}""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    // Exact dedup by content hash.
    QueryDef("l4_dedup_exact", (s, dir) => {
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    },
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin),

    // Exact 3-gram Jaccard near-dup pairs (> 0.8).
    QueryDef("l5_dedup_ngram", (s, dir) => {
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy(col("da"), col("db"))
    },
      ngramJaccardSql),

    // MinHash-LSH candidate pairs (8 hashes, bands of 2).
    QueryDef("l6_dedup_minhash", (s, dir) => {
      Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = 2)
        .orderBy(col("da"), col("db"))
    },
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
        |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)}
        |${bandPairsSql()}
        |ORDER BY da, db""".stripMargin),

    // Production dedup composition: LSH candidates → exact verification.
    QueryDef("l16_dedup_lsh_verified", (s, dir) => {
      lshVerified(Tables.load(s, dir, "documents"))
        .orderBy(col("da"), col("db"))
    },
      lshVerifiedSql),

    // Dedup GROUPS: near-dup pairs (LSH-verified) collapsed into
    // connected components; every member labeled with its canonical
    // representative (min doc id). The pairs→clusters step of every
    // production dedup pipeline.
    QueryDef("l17_dedup_groups", (s, dir) => {
      Dedup.connectedComponents(lshVerified(Tables.load(s, dir, "documents")))
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE ${lshVerifyCtes("documents")},
        |pairs AS (${jaccardAbove("inter", 0.8)}),
        |${closureCtes("da", "db", label = None)}
        |SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // 32-bit SimHash fingerprints.
    QueryDef("l7_simhash", (s, dir) => {
      Dedup.simhash32(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      s"""WITH $simhashCtes
        |SELECT doc_id,
        |  $simhashFold AS simhash32
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Polynomial rolling-hash fingerprints (incremental-update capable).
    QueryDef("l14_rolling_hash", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // SimHash near-dup pairs via byte-band LSH + exact hamming filter.
    QueryDef("l13_simhash_pairs", (s, dir) => {
      Dedup.simhashPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          maxHamming = 1)
        .orderBy(col("da"), col("db"))
    },
      s"""WITH $simhashCtes,
        |sh AS (SELECT doc_id,
        |    $simhashFold AS f
        |  FROM s GROUP BY doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.f, b.f)) <= 1
        |ORDER BY da, db""".stripMargin),

    // Exact substring dedup at chunk granularity (Lee et al. 2022
    // shape): 16-token chunks, first (doc, idx) occurrence of each
    // chunk hash kept; per-doc retention stats. Catches duplicated
    // SPANS whole-document near-dup misses.
    QueryDef("l34_chunk_dedup", (s, dir) => {
      Dedup.chunkExactDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", chunkSize = 16)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(lit(0)).cast("long"))
            .as("tokens_kept"))
        .orderBy(col("doc_id"))
    },
      // Chunking mirrors the verified l25 contract at size 16; keeper =
      // first (doc_id, chunk_idx) per chunk-text md5.
      """WITH d AS (SELECT doc_id,
        |        COALESCE(regexp_extract_all(text, '\S+'), CAST([] AS VARCHAR[])) AS ws
        |      FROM documents),
        |c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |        md5(array_to_string(ws[i*16+1 : i*16+16], ' ')) AS h,
        |        CAST(LEAST(len(ws) - i*16, 16) AS INT) AS n_tokens
        |      FROM d, UNNEST(generate_series(0,
        |        GREATEST(CAST(ceil(len(ws) / 16.0) AS INT), 1) - 1)) t(i)),
        |flags AS (SELECT doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1 AS kept
        |  FROM c)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Incremental dedup: a NEW batch (doc_id % 10 >= 8) LSH-checked
    // against the SEEN corpus only — new×seen band joins, never
    // new×new/seen×seen. The rolling-crawl ingest shape.
    QueryDef("l36_incr_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val newBatch = docs.filter(col("doc_id") % 10 >= 8)
      val seen = docs.filter(col("doc_id") % 10 < 8)
      val pairs = Dedup.incrementalLshPairs(newBatch, seen, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2)
      newBatch.select(col("doc_id"))
        .join(pairs.groupBy(col("new_id"))
            .agg(min(col("seen_id")).as("first_match"),
              count(lit(1)).as("n_matches")),
          col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), col("first_match"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("first_match").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    },
      // Band signatures as in the verified l6 contract; the join is
      // restricted to new-side × seen-side.
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
        |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)},
        |${bandMatchCte("x.doc_id % 10 >= 8 AND y.doc_id % 10 < 8", counted = true)}
        |SELECT n.doc_id, m.first_match,
        |  CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  m.first_match IS NOT NULL AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) n
        |LEFT JOIN m ON m.did = n.doc_id
        |ORDER BY doc_id""".stripMargin),

    // Cluster retention policy: LSH-verified near-dup groups (same
    // pipeline as l17) keep their highest-QUALITY member rather than
    // the lowest id — the production "keep the best copy" rule.
    QueryDef("l44_dedup_keep_best", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.keepBestPerGroup(docs, lshVerified(docs), "doc_id",
        TextFunctions.qualityScore(col("text")))
        .orderBy(col("doc_id"))
    },
      // l17's min-label components + l41's quality logit; keeper =
      // quality argmax per component (doc-id tiebreak),
      // singletons keep themselves.
      qualityKeepBestSql),

    // Line-level boilerplate dedup (CCNet pass). The synthetic docs are
    // single-line, so the corpus is built in-query with deterministic
    // structure both engines reproduce exactly: a shared nav header on
    // every doc, a promo line on every 7th, and a unique trailer — the
    // shared lines must vanish (df > 3), the unique ones must survive.
    QueryDef("l48_line_dedup", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.select(col("doc_id"),
        concat(lit("NAV MENU HOME ABOUT\n"), col("text"), lit("\n"),
          when(col("doc_id") % 7 === 0, lit("SUBSCRIBE NOW\n")).otherwise(lit("")),
          lit("doc-"), col("doc_id").cast("string")).as("text"))
      Dedup.dedupLines(corpus, "doc_id", "text", maxDocs = 3)
        .select(col("doc_id"), col("n_lines").cast("long").as("n_lines"),
          col("n_kept"), md5(col("text_clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
      """WITH corpus AS (
        |  SELECT doc_id, 'NAV MENU HOME ABOUT' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN 'SUBSCRIBE NOW' || chr(10) ELSE '' END) ||
        |    'doc-' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM corpus),
        |freq AS (
        |  SELECT lower(trim(line)) AS l, COUNT(DISTINCT doc_id) AS df
        |  FROM lines WHERE length(trim(line)) > 0 GROUP BY 1),
        |boiler AS (SELECT l FROM freq WHERE df > 3),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE lower(trim(line)) NOT IN (SELECT l FROM boiler)),
        |reb AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT c.doc_id, len(string_split(c.text, chr(10))) AS n_lines,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  md5(COALESCE(r.text_clean, '')) AS clean_md5
        |FROM corpus c LEFT JOIN reb r ON r.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin),

    // LSH recall report: the production dedup path (l16) measured
    // in-engine against the exact n-gram Jaccard ground truth (l5) at
    // the same threshold. Verified pairs are a SUBSET of exact pairs by
    // construction (same jaccard > t filter), so precision is 1 and the
    // single number that matters is recall — the artifact a pipeline
    // publishes to justify its band/hash configuration.
    QueryDef("l52_lsh_recall", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8).select(col("da"), col("db"))
      val lsh = lshVerified(docs).select(col("da"), col("db"), lit(1).as("hit"))
      exact.join(lsh, Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"),
          (col("n_lsh").cast("double") / col("n_exact")).as("recall"))
    },
      s"""WITH ${lshRecallCtes("documents")}
        |SELECT COUNT(*) AS n_exact, COUNT(l.da) AS n_lsh,
        |  CAST(COUNT(l.da) AS DOUBLE) / COUNT(*) AS recall
        |FROM exact e LEFT JOIN lsh l ON l.da = e.da AND l.db = e.db""".stripMargin),

    // l52's recall audit made corpus-scale runnable: the exact-Jaccard
    // denominator is quadratic, so it runs on a DETERMINISTIC document
    // sample (the md5-coin — any engine/layout/rerun keeps the same
    // docs) and reports the estimate with its 95% normal half-width.
    // Restriction doesn't bias the per-pair verdict: a pair's LSH
    // outcome depends only on its own two signatures. Quadratic cost
    // shrinks by rate²; rate is the knob that keeps the audit runnable
    // at any corpus size.
    QueryDef("l63_lsh_recall_sampled", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sampled = graft.operators.Sampling.sample(docs, "doc_id", 0.5, "recall62")
      val exact = Dedup.ngramJaccardPairs(sampled, "doc_id", "text",
        n = 3, threshold = 0.8).select(col("da"), col("db"))
      val lsh = lshVerified(sampled).select(col("da"), col("db"), lit(1).as("hit"))
      // identical expression trees on both engines: p once per column,
      // (p*(1-p))/n under the sqrt, 6-d.p. rounds
      def p = col("n_lsh").cast("double") / col("n_exact")
      exact.join(lsh, Seq("da", "db"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_lsh"))
        .select(col("n_exact"), col("n_lsh"),
          when(col("n_exact") === 0, lit(null).cast("double"))
            .otherwise(round(p, 6)).as("recall_est"),
          when(col("n_exact") === 0, lit(null).cast("double"))
            .otherwise(round(lit(1.96) *
              sqrt(p * (lit(1.0) - p) / col("n_exact").cast("double")), 6))
            .as("recall_err95"))
    },
      // l52's chain over the md5-coin document sample, with the
      // normal-approximation half-width mirrored expression-for-expression.
      s"""WITH sdoc AS (SELECT doc_id, text FROM documents
        |  WHERE CAST('0x' || substr(md5('recall62|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |        / 4294967296.0 < 0.5),
        |${lshRecallCtes("sdoc")},
        |agg AS (SELECT COUNT(*) AS n_exact, COUNT(l.da) AS n_lsh
        |        FROM exact e LEFT JOIN lsh l ON l.da = e.da AND l.db = e.db)
        |SELECT n_exact, n_lsh,
        |  CASE WHEN n_exact = 0 THEN NULL
        |       ELSE round(CAST(n_lsh AS DOUBLE) / n_exact, 6) END AS recall_est,
        |  CASE WHEN n_exact = 0 THEN NULL
        |       ELSE round(1.96 * sqrt((CAST(n_lsh AS DOUBLE) / n_exact)
        |              * (1.0 - CAST(n_lsh AS DOUBLE) / n_exact)
        |              / CAST(n_exact AS DOUBLE)), 6) END AS recall_err95
        |FROM agg""".stripMargin),

    // The LSH S-curve tuner IN THE LOOP: (bands, rows) are not chosen
    // by hand but derived from the target Jaccard threshold — for an
    // 8-hash signature and t=0.5 the tuner must land on rows=2 (4 bands
    // of 2: threshold (1/4)^(1/2) = 0.5 exactly; rows=1 sits at 0.125,
    // rows=4 at 0.84), asserted in-query so a tuner regression fails
    // loudly. The tuned parameters then drive the production
    // composition (candidates → exact verification), and the green
    // hash row proves the tuned banding caught every true pair the
    // exact-Jaccard oracle finds — the closed loop from threshold
    // choice to verified output.
    QueryDef("l74_dedup_lsh_tuned", (s, dir) => {
      val rows = graft.operators.Dedup.tuneRowsPerBand(numHashes = 8, targetJaccard = 0.5)
      require(rows == 2, s"tuner must choose rows=2 for H=8, t=0.5; got $rows")
      Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleN = 3, numHashes = 8, rowsPerBand = rows,
          threshold = 0.8)
        .orderBy(col("da"), col("db"))
    },
      // l74 runs l16's exact composition with TUNER-chosen banding;
      // the tuner's in-query require pins rows=2 — the parameters l16
      // uses — so the verified-pairs contract is l16's oracle verbatim
      lshVerifiedSql),

    // Winnowing span detection (Schleimer et al., the MOSS algorithm):
    // the exact-substring complement of the shingle/minhash set family
    // — any shared token run of length >= k + w - 1 (here 8) lands at
    // least one identical fingerprint in both docs, while each doc
    // stores only ~1/w of its gram hashes. Pairs sharing >= 2
    // fingerprints, graded against a DuckDB replay of the identical
    // pipeline (same md5-derived 40-bit hash, same full-window min,
    // same distinct). At 100 TB the fingerprint index is the O(n/w)
    // artifact that makes cross-corpus span search tractable at all.
    QueryDef("l85_winnow_pairs", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.winnowedSpanPairs(docs, "doc_id", "text",
          k = 5, w = 4, minShared = 2)
        .orderBy(col("da"), col("db"))
    },
      // l85: the winnowing pipeline (`winnowCtes`) and its pair join
      winnowPairsSql),

    // Hot-bucket df-cap, FIRE direction: a third of the corpus gets a
    // shared boilerplate suffix (a 10-token license line — one
    // guaranteed common fingerprint per doc, df ≈ n/3 vs natural max 4)
    // and the measured cap drops every bucket with df > 8 BEFORE the
    // pair self-join — the MOSS "too common" move, without which that
    // one bucket's join is quadratic in n/3 at crawl scale. In-query
    // requires pin the decision; the oracle replays the identical
    // pipeline WITH the df cap in SQL, so the green hash row proves
    // the capped pair set, not just that something was dropped.
    QueryDef("l86_winnow_hot_cap", (s, dir) => {
      val docs = boilerplateCorpus(Tables.load(s, dir, "documents"))
      val (pairs, d) = Dedup.winnowedSpanPairsCapped(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 8)
      require(d.capped && d.dropped >= 1 && d.hottestDf > 8,
        s"l86 expects the injected boilerplate to FIRE the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      // l86: the same pipeline over the boilerplate-injected corpus,
      // WITH the df cap replayed in SQL (buckets with df > 8 erased
      // before the pair join) — the green hash row proves the capped
      // pair set matches, not merely that the cap fired
      s"""WITH $boilerplateDocs,
         |${winnowFpCtes("docs2")},
         |dfx AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1),
         |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfx USING (fp)
         |         WHERE df <= 8),
         |${sharedFpCte("pairs", "kept")}
         |SELECT da, db, n_shared FROM pairs WHERE n_shared >= 2
         |ORDER BY da, db""".stripMargin),

    // Hot-bucket df-cap, HOLD direction: the natural corpus's hottest
    // fingerprint (df <= 4 at every shipped SF) stays below the same
    // ceiling, the prune is a no-op by construction (no anti-join
    // stage is even planned), and the output is bit-identical to
    // l85's uncapped pairs — graded against l85's oracle verbatim.
    QueryDef("l87_winnow_cap_hold", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val (pairs, d) = Dedup.winnowedSpanPairsCapped(docs, "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxDf = 8)
      require(!d.capped && d.dropped == 0 && d.hottestDf <= 8,
        s"l87 expects the natural corpus to HOLD below the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      // l87 runs the CAPPED pair generator on the natural corpus: the
      // measured hottest fingerprint (df <= 4 at every shipped SF)
      // holds below the df-8 ceiling, the prune is a structural no-op
      // (no anti-join stage is planned), and the contract is l85's
      // uncapped oracle verbatim; the hold decision is pinned by the
      // in-query require
      winnowPairsSql),

    // The hot-bucket cap on the OTHER pair generator — ngram Jaccard,
    // both directions. FIRE: the injected license suffix puts ~n/3
    // documents into each of its shingle buckets (df far above the
    // natural max of 25); the cap erases those shingles from the
    // UNIVERSE (intersection evidence AND set sizes — boilerplate
    // carries no similarity signal), and the oracle replays the same
    // erasure. Without the cap each hot bucket's self-join is
    // quadratic in n/3.
    QueryDef("l89_jaccard_hot_cap", (s, dir) => {
      val docs = boilerplateCorpus(Tables.load(s, dir, "documents"))
      val (pairs, d) = Dedup.ngramJaccardPairsCapped(docs, "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 50)
      require(d.capped && d.dropped >= 1 && d.hottestDf > 50,
        s"l89 expects the injected boilerplate to FIRE the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      // l89: l5's pipeline over the boilerplate-injected corpus with
      // the df cap erasing hot shingles from the universe (both the
      // intersection and the per-doc set sizes) before the pair join
      s"""WITH $boilerplateDocs,
         |${shingleCtes("d", "sh", "docs2", n = 3)},
         |dfx AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
         |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfx USING (s)
         |         WHERE df <= 50),
         |${setSizeCte("kept")},
         |${allPairsInterCte("inter", "kept")}
         |${jaccardPairsSql("inter", 0.8)}""".stripMargin),

    // HOLD: the natural corpus's hottest shingle (df <= 25 at every
    // shipped SF) stays below the same ceiling; output is bit-identical
    // to l5's uncapped pairs and graded against l5's oracle verbatim.
    QueryDef("l90_jaccard_cap_hold", (s, dir) => {
      val (pairs, d) = Dedup.ngramJaccardPairsCapped(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 50)
      require(!d.capped && d.dropped == 0 && d.hottestDf <= 50,
        s"l90 expects the natural corpus to HOLD below the cap: $d")
      pairs.orderBy(col("da"), col("db"))
    },
      // l90 runs the capped Jaccard generator holding below its df-50
      // ceiling on the natural corpus (hottest shingle df 25): output
      // contract is l5's uncapped oracle verbatim, hold pinned in-query
      ngramJaccardSql),

    // Positioned winnowing spans — the MOSS report a reviewer reads:
    // not just WHO shares fingerprints (l85) but WHERE each shared
    // fingerprint sits in both documents (token offsets of the
    // selected grams, min-hash per window with the rightmost tie-break
    // so the selection is deterministic and SQL-replayable). Same
    // single doc-partitioned bounded window as l85; the struct min
    // carries the position along for free.
    QueryDef("l88_winnow_spans", (s, dir) => {
      Dedup.winnowedSpanOffsets(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4)
        .orderBy(col("da"), col("db"), col("fp"), col("pa"), col("pb"))
    },
      // l88: the positioned selections, offsets joined per shared
      // fingerprint
      s"""WITH $winnowSpanCtes
         |SELECT a.doc_id AS da, b.doc_id AS db, a.fp AS fp,
        |  a.spos AS pa, b.spos AS pb
        |FROM sels a JOIN sels b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY da, db, fp, pa, pb""".stripMargin),

    // Contiguous matched intervals — l88's raw matched positions
    // merged into the line a MOSS report draws ("tokens 2–41 of A
    // match tokens 2–41 of B"): an exactly copied region puts its
    // selected fingerprints on ONE dot-plot diagonal (pa − pb
    // constant), so islands of consecutive selections within 8 tokens
    // on a (pair, diagonal) merge into maximal spans; one-fingerprint
    // coincidences die at minFps=2. One pair-local window after the
    // bucketed offsets join — nothing funnels wider than a pair's
    // match list — graded against a DuckDB replay of the identical
    // diagonal/island pipeline.
    QueryDef("l91_winnow_intervals", (s, dir) => {
      Dedup.winnowMatchedIntervals(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, maxGap = 8, minFps = 2)
        .orderBy(col("da"), col("db"), col("a_start"), col("b_start"))
    },
      // l91: l88's positioned selections joined per fingerprint, then
      // the SAME diagonal/island merge replayed in SQL — constant
      // pa−pb groups, islands split where consecutive selections sit
      // more than 8 tokens apart, interval ends covering the full
      // 5-gram (+4)
      s"""WITH $winnowSpanCtes,
         |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.spos AS pa,
        |        b.spos AS pb, a.spos - b.spos AS diag
        |      FROM sels a JOIN sels b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |br AS (SELECT *, CASE WHEN pa - LAG(pa) OVER (PARTITION BY da, db, diag
        |                        ORDER BY pa) <= 8
        |                      THEN 0 ELSE 1 END AS brk FROM m),
        |isl AS (SELECT *, SUM(brk) OVER (PARTITION BY da, db, diag ORDER BY pa
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |        FROM br)
        |SELECT da, db, MIN(pa) AS a_start, MAX(pa)+4 AS a_end,
        |  MIN(pb) AS b_start, MAX(pb)+4 AS b_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_fps
        |FROM isl GROUP BY da, db, diag, isl HAVING COUNT(*) >= 2
        |ORDER BY da, db, a_start, b_start""".stripMargin),

    // Containment-scored span pairs — the asymmetric verdict the
    // symmetric scores miss: a short document copied whole into a long
    // one shares ALL its fingerprints (containment 1.0) while its
    // Jaccard dilutes toward |short|/|long|; crawl dedup kills such
    // subset-copies on containment, not Jaccard. n_shared over the
    // SMALLER doc's fingerprint count (Broder containment, oriented at
    // the likelier copy), one IEEE division on exact integer inputs.
    QueryDef("l96_winnow_containment", (s, dir) => {
      Dedup.winnowContainmentPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, minContainment = 0.8)
        .orderBy(col("da"), col("db"))
    },
      // l96: the winnow pair join with per-doc fingerprint counts and
      // the containment division replayed — exact BIGINT inputs, one
      // correctly-rounded division per pair on both engines
      s"""WITH $winnowContainmentCtes
         |SELECT da, db, n_shared,
         |  $containmentOf AS containment
         |FROM pr JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         |WHERE $containmentOf >= 0.8
         |ORDER BY da, db""".stripMargin),

    // Containment KEEP-BEST — l96's verdict turned into the action a
    // crawl pipeline takes: from every pair at containment >= 0.8 the
    // CONTAINED side dies (smaller fingerprint set = the likelier
    // copy; equal counts drop the larger id, keeping the earlier
    // crawl). Survivors keep their metadata via one anti-join on the
    // distinct contained-id set — text never moves until the write.
    QueryDef("l97_containment_dedup", (s, dir) => {
      Dedup.containmentDedup(Tables.load(s, dir, "documents"),
          "doc_id", "text", k = 5, w = 4, minContainment = 0.8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // l97: the l96 containment pipeline extended with the keep-best
      // action replayed — per pair at containment >= 0.8 the smaller
      // fingerprint set is the contained side (ties drop the larger
      // id), the distinct contained set anti-joins the corpus
      s"""WITH $winnowContainmentCtes,
         |contained AS (SELECT DISTINCT
         |    CASE WHEN ca.n_fp < cb.n_fp THEN da ELSE db END AS doc_id
         |  FROM pr JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         |  WHERE $containmentOf >= 0.8)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM contained)
         |ORDER BY doc_id""".stripMargin),

    // Blocked edit-distance matching over the part-name VOCABULARY —
    // the entity-resolution primitive the hash families can't see (a
    // one-character typo shifts every shingle containing it but moves
    // Levenshtein by exactly 1; "cold bolt"/"old bolt" pair at dist 1
    // while sharing zero 3-gram shingles). Values dedup first (the
    // vocabulary is orders smaller than the corpus at any SF), pairs
    // materialize only inside last-word blocks with the length-bound
    // prefilter, and the measured hot-block guard HOLDS on the natural
    // vocabulary (largest block 8 values <= ceiling 20, pinned).
    QueryDef("l102_fuzzy_pairs", (s, dir) => {
      val (pairs, d) = Dedup.fuzzyValuePairs(
        Tables.load(s, dir, "part"), "p_name",
        lastWord, maxDist = 2, maxBlock = 20)
      require(!d.capped && d.hottestDf <= 20,
        s"l102 expects the natural vocabulary to HOLD below the cap: $d")
      pairs.orderBy(col("va"), col("vb"))
    },
      // l102: the same vocabulary-level blocked pipeline — distinct
      // values, last-word block, length-bound prefilter, classic
      // Levenshtein (identical DP in both engines)
      """WITH v AS (SELECT DISTINCT p_name AS s FROM part),
        |b AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v)
        |SELECT a.s AS va, b2.s AS vb,
        |  CAST(levenshtein(a.s, b2.s) AS BIGINT) AS dist
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.s < b2.s
        |WHERE abs(length(a.s) - length(b2.s)) <= 2
        |  AND levenshtein(a.s, b2.s) <= 2
        |ORDER BY va, vb""".stripMargin),

    // Canonical-value mapping over the fuzzy graph — the action the
    // pairs exist for: each distinct part name maps to the
    // lexicographic min of its transitive fuzzy cluster (star-CC over
    // the l102 pairs; typo chains collapse past maxDist), singletons
    // to themselves; row counts ride along to show the corpus remap
    // is one equi-join. Oracle replays the closure as a recursive CTE
    // (the l17 pattern) over the identical pair SQL.
    QueryDef("l105_fuzzy_canonical", (s, dir) => {
      val part = Tables.load(s, dir, "part")
      val (m, d) = Dedup.fuzzyCanonicalize(part, "p_name",
        lastWord, maxDist = 2, maxBlock = 20)
      require(!d.capped && d.hottestDf <= 20,
        s"l105 expects the natural vocabulary to HOLD below the cap: $d")
      m.join(part.groupBy(col("p_name")).agg(count(lit(1)).as("n_rows")),
          Seq("p_name"))
        .orderBy(col("p_name"))
    },
      // l105: the l102 pair SQL + the min-label closure, singletons to
      // themselves, per-name row counts joined back
      s"""WITH RECURSIVE v AS (SELECT DISTINCT p_name AS s FROM part),
        |b AS (SELECT s, split_part(s, ' ', -1) AS blk FROM v),
        |pairs AS (SELECT a.s AS va, b2.s AS vb
        |          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.s < b2.s
        |          WHERE abs(length(a.s) - length(b2.s)) <= 2
        |            AND levenshtein(a.s, b2.s) <= 2),
        |${closureCtes("va", "vb")},
        |rc AS (SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY 1)
        |SELECT v.s AS p_name, COALESCE(lbl.rep, v.s) AS canonical, rc.n_rows
        |FROM v LEFT JOIN lbl ON lbl.id = v.s JOIN rc ON rc.p_name = v.s
        |ORDER BY p_name""".stripMargin),

    // Crawl-URL canonicalization. The synthetic corpus ships no URL
    // column, so (the l68 PII precedent) four messy doc_id-derived
    // variants are injected IDENTICALLY on both engines — shouting
    // host + default port + fragment + utm param, clean, doubled-slash
    // + trailing-slash + utm, and an http variant with a real query —
    // and the canonical form is hash-graded per doc. Pure codegen'd
    // regexp chain, no UDF, no shuffle beyond the output sort.
    QueryDef("l103_url_canonical", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .withColumn("canon_url",
          graft.functions.TextFunctions.canonicalizeUrl(col("url")))
        .orderBy(col("doc_id"))
    },
      // l103: the injected variants + canonicalization chain replayed
      (urlCanonCtes +
        """
          |SELECT doc_id, url, pfx || rest AS canon_url FROM s5
          |ORDER BY doc_id""".stripMargin)),

    // URL-level crawl dedup over the canonical form — the cheapest,
    // first dedup pass a crawl pipeline runs (before any content
    // fingerprinting): group by canonical URL, keep the earliest
    // doc_id. The three messy variants of each injected group collapse
    // to ONE canonical; the http variant keeps its distinct scheme and
    // real query param (canonicalization must not unify those). One
    // shuffle on the canonical string.
    QueryDef("l104_url_dedup", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .groupBy(graft.functions.TextFunctions.canonicalizeUrl(col("url"))
          .as("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("canon_url"))
    },
      // l104: URL-level dedup over the canonical form — groups of >= 2,
      // earliest doc_id kept
      (urlCanonCtes +
        """
          |SELECT pfx || rest AS canon_url, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS keep_id
          |FROM s5 GROUP BY 1 HAVING COUNT(*) >= 2
          |ORDER BY canon_url""".stripMargin)),

    // MULTI-PASS blocking for fuzzy ER — closes l102's stated recall
    // gap (a typo IN the last word hides the pair from the last-word
    // key forever): every 100th part injects a variant with its LAST
    // character dropped (a last-word typo at distance 1 — found ONLY
    // by the first-word key), candidates union across both keys and
    // dedup before the DP. Both keys' measured hot-block caps HOLD on
    // this vocabulary at every shipped SF (hottest 16 <= 20), pinned.
    QueryDef("l107_fuzzy_multiblock", (s, dir) => {
      val part = Tables.load(s, dir, "part")
      val corpus = part.select(col("p_name"))
        .unionAll(part.filter(col("p_partkey") % 100 === 0)
          .select(col("p_name").substr(lit(1), length(col("p_name")) - 1)
            .as("p_name")))
      val (pairs, ds) = Dedup.fuzzyValuePairsMultiBlock(corpus, "p_name",
        Seq(lastWord, firstWord), maxDist = 2, maxBlock = 20)
      require(ds.forall(d => !d.capped && d.hottestDf <= 20),
        s"l107 expects BOTH keys' blocks under the cap: $ds")
      pairs.orderBy(col("va"), col("vb"))
    },
      // l107: multi-pass blocked fuzzy ER — per-key candidates
      // unioned, dedup'd before the DP, over the typo-injected corpus
      s"""WITH $multiBlockCandCtes
        |SELECT va, vb, CAST(levenshtein(va, vb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(va, vb) <= 2
        |ORDER BY va, vb""".stripMargin),

    // The canonical mapping over MULTI-PASS pairs — what l107's recall
    // buys downstream: a last-word typo pulls into its original's
    // cluster through the first-word key's pair, so it no longer forks
    // a spurious new entity (under single-key last-word blocking every
    // injected typo would canonicalize to itself). That exact claim is
    // pinned executably: zero (original, typo) pairs may disagree on
    // their canonical. Same star-CC closure and one-equi-join remap as
    // l105; oracle replays the l107 candidate union + the l17
    // recursive-CTE closure.
    QueryDef("l109_fuzzy_multiblock_canonical", (s, dir) => {
      val part = Tables.load(s, dir, "part")
      val origs = part.filter(col("p_partkey") % 100 === 0)
        .select(col("p_name").as("orig")).distinct()
      val corpus = part.select(col("p_name"))
        .unionAll(origs.select(col("orig")
          .substr(lit(1), length(col("orig")) - 1).as("p_name")))
      val (m, ds) = Dedup.fuzzyCanonicalizeMultiBlock(corpus, "p_name",
        Seq(lastWord, firstWord), maxDist = 2, maxBlock = 20)
      require(ds.forall(d => !d.capped && d.hottestDf <= 20),
        s"l109 expects BOTH keys' blocks under the cap: $ds")
      val forks = origs
        .select(col("orig"),
          col("orig").substr(lit(1), length(col("orig")) - 1).as("typo"))
        .join(m.select(col("p_name").as("orig"),
          col("canonical").as("c_orig")), Seq("orig"))
        .join(m.select(col("p_name").as("typo"),
          col("canonical").as("c_typo")), Seq("typo"))
        .filter(col("c_orig") =!= col("c_typo")).count()
      require(forks == 0,
        s"l109 expects every injected typo to share its original's canonical; $forks forked")
      m.orderBy(col("p_name"))
    },
      // l109: the multiblock pair union + the min-label closure,
      // singletons self-map
      s"""WITH RECURSIVE $multiBlockCandCtes,
        |pairs AS (SELECT va, vb FROM cand WHERE levenshtein(va, vb) <= 2),
        |${closureCtes("va", "vb")}
        |SELECT v.s AS p_name, COALESCE(lbl.rep, v.s) AS canonical
        |FROM v LEFT JOIN lbl ON lbl.id = v.s
        |ORDER BY p_name""".stripMargin),

    // Q-GRAM blocking for fuzzy ER — closes the SINGLE-TOKEN blind
    // spot l107 left stated: on a one-token vocabulary (hostnames,
    // SKUs, bare surnames — here the distinct words of p_name), BOTH
    // word-split keys degenerate to whole-value identity blocking, so
    // no typo can ever pair. The set-valued character-3-gram key has a
    // different failure mode (a typo leaves most grams intact), its
    // own measured hot-block cap over the exploded (value, gram) rows,
    // and the same union-dedup-then-DP pipeline. Every length>=5 word
    // gets a last-char-dropped typo injected; the in-query requires
    // pin the inversion of l107's precedent — the word keys alone find
    // NOTHING (executably, not by prose) and the q-gram key finds
    // every injected pair. The oracle replays gram explosion, df cap,
    // block join and DP; word keys contribute zero by construction so
    // the SQL replays only the q-gram leg.
    QueryDef("l112_fuzzy_qgram_block", (s, dir) => {
      val (words, corpus) = typoWordCorpus(Tables.load(s, dir, "part"))
      val (pairs, ds) = Dedup.fuzzyValuePairsMultiBlockSets(corpus, "w",
        qgramKeys, maxDist = 2, maxBlock = 16)
      require(ds.forall(d => !d.capped && d.hottestDf <= 16),
        s"l112 expects every key's blocks under the cap on this vocabulary: $ds")
      // the blind spot, executable: the word keys ALONE pair nothing
      // on one-token values (identity blocks never hold two distinct
      // values) — the q-gram key is the only source of recall here
      val (wordOnly, _) = Dedup.fuzzyValuePairsMultiBlockSets(corpus, "w",
        qgramKeys.take(2), maxDist = 2, maxBlock = 16)
      require(wordOnly.isEmpty,
        "l112 expects word-split keys to degenerate to identity blocking " +
          "on a one-token vocabulary and pair nothing")
      // ...and it recovers EVERY injected typo pair (typo is a strict
      // prefix of its original, so it sorts first: va = typo)
      val injected = words.filter(length(col("w")) >= 5)
        .select(col("w").substr(lit(1), length(col("w")) - 1).as("va"),
          col("w").as("vb"))
      val missed = injected.join(pairs, Seq("va", "vb"), "left_anti").count()
      require(missed == 0,
        s"l112 expects the q-gram key to recover every injected typo pair; $missed missed")
      pairs.orderBy(col("va"), col("vb"))
    },
      // l112: the q-gram ER leg replayed — gram explosion, the df>16
      // cap (vacuous on this vocabulary, replayed anyway so the SQL
      // states the full operator), block join, length prefilter, DP.
      // The two word-split keys contribute zero candidates on a
      // one-token vocabulary by construction, so they have no SQL leg.
      s"""WITH $qgramCandCtes
        |SELECT va, vb, CAST(levenshtein(va, vb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(va, vb) <= 2
        |ORDER BY va, vb""".stripMargin),

    // The CANONICAL action over the q-gram pairs — l109's claim
    // carried to the single-token vocabulary: a one-token typo pulls
    // into its original's cluster through the q-gram key's pair, so it
    // no longer forks a spurious entity (under word-split blocking
    // EVERY value self-maps on this corpus — the word keys pair
    // nothing, pinned in l112). Same star-CC closure + equi-join
    // remap; the in-query require pins zero forks across all injected
    // (original, typo) pairs. Oracle: l112's candidate chain + the
    // l17 recursive-CTE closure.
    QueryDef("l115_fuzzy_qgram_canonical", (s, dir) => {
      val (words, corpus) = typoWordCorpus(Tables.load(s, dir, "part"))
      val (m, ds) = Dedup.fuzzyCanonicalizeMultiBlockSets(corpus, "w",
        qgramKeys, maxDist = 2, maxBlock = 16)
      require(ds.forall(d => !d.capped && d.hottestDf <= 16),
        s"l115 expects every key's blocks under the cap: $ds")
      val forks = words.filter(length(col("w")) >= 5)
        .select(col("w").as("orig"),
          col("w").substr(lit(1), length(col("w")) - 1).as("typo"))
        .join(m.select(col("w").as("orig"), col("canonical").as("c_orig")), Seq("orig"))
        .join(m.select(col("w").as("typo"), col("canonical").as("c_typo")), Seq("typo"))
        .filter(col("c_orig") =!= col("c_typo")).count()
      require(forks == 0,
        s"l115 expects every injected typo to share its original's canonical; $forks forked")
      m.orderBy(col("w"))
    },
      // l115: l112's candidate chain + the min-label closure — the
      // canonical action over the q-gram recall
      s"""WITH RECURSIVE $qgramCandCtes,
        |pairs AS (SELECT va, vb FROM cand WHERE levenshtein(va, vb) <= 2),
        |${closureCtes("va", "vb")}
        |SELECT v.w, COALESCE(lbl.rep, v.w) AS canonical
        |FROM v LEFT JOIN lbl ON lbl.id = v.w
        |ORDER BY v.w""".stripMargin)
  )
}
