package graft.queries

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis, quality and tokenizer queries of the LLM data pipeline:
  * quality features and language ID, splits and sampling, cleaning and
  * PII scrubbing, packing and chunking, the heuristic and trained
  * quality classifiers, BPE training and encoding, LM scoring and the
  * corpus card. */
object TextQueries {
  import LlmBlocks._

  /** The quality classifier of l58/l59 (the oracle's
    * `logRegOracleWith`): over the docs with text and tokens, features
    * x1 (stopword share of the tokens) and x2 (punctuation per char),
    * label y (lang = en), `keep` columns alongside; persisted, since
    * every one of the 10 fixed GD steps (lr 1.0) re-reads it. Returns
    * the feature frame, the weights and the predicted keep flag. */
  private def trainQualityModel(docs: DataFrame,
                                keep: Column*): (DataFrame, Array[Double], Column) = {
    val feats = docs
      .filter(length(col("text")) > 0 && TextFunctions.tokenCount(col("text")) > 0)
      .select(keep ++ Seq(
        (TextFunctions.stopwordCount(col("text")).cast("double") /
          TextFunctions.tokenCount(col("text"))).as("x1"),
        (TextFunctions.punctCount(col("text")).cast("double") /
          length(col("text"))).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = graft.operators.Classify.trainLogReg(
      feats, Seq("x1", "x2"), "y", iters = 10, lr = 1.0)
    (feats, w, graft.operators.Classify.predictLogReg(Seq("x1", "x2"), w))
  }

  /** The learned BPE merge list of l60/l67/l69 (the oracle's
    * `bpeChainCtes`): 10 merges trained over the corpus's word
    * frequencies, persisted since every merge re-aggregates them. */
  private def bpeMerges(docs: DataFrame): Seq[(Long, String, String, Long)] =
    graft.operators.Bpe.trainMerges(graft.operators.Bpe.wordFreqs(docs, "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), iters = 10)

  /** The l58 training replay: an UNROLLED 10-iteration GD chain. Each
    * step is two CTEs — exact-decimal gradient sums under the previous
    * weights, then the weight update — generated mechanically so the
    * oracle provably runs the same recurrence as Classify.trainLogReg
    * (same per-row 9-d.p. round, same decimal sums, same operation
    * order in z and the update). */
  private def logRegOracle: String = logRegOracleWith(
    """SELECT i.w1 AS w_stop, i.w2 AS w_punct, i.w0 AS w_bias,
      |  CAST(SUM(CASE WHEN ((i.w1*f.x1 + i.w2*f.x2 + i.w0) >= 0) = (f.y = 1.0)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  COUNT(*) AS n_rows
      |FROM feats f, i10 i GROUP BY 1, 2, 3""".stripMargin)

  /** The shared l58/l59 training replay (unrolled GD chain); callers
    * supply the final SELECT over `feats` × `i10`. */
  private def logRegOracleWith(finalSelect: String): String = {
    val z = "(i.w1*f.x1 + i.w2*f.x2 + i.w0)"
    val p = s"1.0/(1.0 + exp(-$z))"
    def grad(t: String) =
      s"SUM(CAST(round(($p - f.y)$t, 9) AS DECIMAL(28,9)))"
    val steps = (1 to 10).map { k =>
      s"""g$k AS (SELECT ${grad(" * f.x1")} AS g1, ${grad(" * f.x2")} AS g2,
         |    ${grad("")} AS g0 FROM feats f, i${k - 1} i),
         |i$k AS (SELECT i.w1 - CAST(g.g1 AS DOUBLE)/nn.n AS w1,
         |    i.w2 - CAST(g.g2 AS DOUBLE)/nn.n AS w2,
         |    i.w0 - CAST(g.g0 AS DOUBLE)/nn.n AS w0
         |  FROM i${k - 1} i, g$k g, nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH feats AS (SELECT doc_id,
       |    CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
       |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
       |      / len(regexp_extract_all(text, '\\S+')) AS x1,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |      / length(text) AS x2,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents
       |  WHERE length(text) > 0 AND len(regexp_extract_all(text, '\\S+')) > 0),
       |nn AS (SELECT COUNT(*) AS n FROM feats),
       |i0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w0),
       |$steps
       |$finalSelect""".stripMargin
  }

  /** The stopword langid (`TextFunctions.langScores` / `langId`): per
    * language the count of its stopword tokens; argmax with priority
    * en > de > fr > es, 'und' when no stopword hits. */
  private val langStops = scala.collection.immutable.ListMap(
    "en" -> "'the','a','and','of','is'", "de" -> "'der','die','das','und','ist'",
    "fr" -> "'le','la','et','les','est'", "es" -> "'el','los','y','las','es'")

  private def langScore(lang: String): String =
    s"len(list_filter(regexp_extract_all(text,'\\S+'), x -> list_contains([${langStops(lang)}], x)))"

  /** The four score columns, named by language. */
  private val langScoreCols: String =
    langStops.keys.map(l => s"${langScore(l)} AS $l").mkString(",\n")

  /** The argmax CASE over scores `sc(lang)`; `enOnly` stops after the
    * 'en' arm (everything else 'other') for an English filter. */
  private def langIdCase(sc: String => String = identity, enOnly: Boolean = false): String = {
    val Seq(en, de, fr, es) = langStops.keys.toSeq.map(sc)
    val rest =
      if (enOnly) "ELSE 'other'"
      else s"WHEN $de >= $fr AND $de >= $es THEN 'de'\n     WHEN $fr >= $es THEN 'fr' ELSE 'es'"
    s"""CASE WHEN $en + $de + $fr + $es = 0 THEN 'und'
       |     WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
       |     $rest END""".stripMargin
  }

  /** The corpus's quality features and logit (l35/l51). */
  private val qualityLogitCtes: String =
    s"""${qualityFeatsCte("doc_id", "documents")},
       |$qualityLogitCte""".stripMargin

  /** The l68 replay: the same doc_id-derived injection, the same three
    * redaction passes in the same order, counts on each stage's input
    * text — expression-for-expression with the Spark query (the
    * patterns live in the Java∩RE2 subset, so the placeholder bytes
    * and therefore the hash must agree). */
  private def piiOracle: String =
    """WITH dirty AS (SELECT doc_id,
      |    text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail' ||
      |    CAST(doc_id % 7 AS VARCHAR) || '.example.com or call +1 (415) 555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.' ||
      |    CAST(doc_id % 256 AS VARCHAR) || '.' ||
      |    CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
      |    CAST((doc_id * 13) % 256 AS VARCHAR) || ' done.' AS t
      |  FROM documents),
      |st AS (SELECT doc_id, t,
      |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |                   '<EMAIL>', 'g') AS t1
      |  FROM dirty),
      |st2 AS (SELECT doc_id, t, t1,
      |    regexp_replace(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t2
      |  FROM st)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t1, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
      |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9() -]{5,14}[0-9]')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(t2, '\+?[0-9][0-9() -]{5,14}[0-9]', '<PHONE>', 'g')) AS redacted_h
      |FROM st2 ORDER BY doc_id""".stripMargin

  /** The shared UNROLLED merge-chain CTEs (w, r0..r{iters} with p_k,
    * m_k per step): step k counts adjacent symbol pairs of the
    * post-(k-1)-merges reprs, takes the (freq desc, pair lexicographic)
    * arg-max, and applies it with the same literal sentinel replace the
    * engine uses — generated mechanically so the oracles provably run
    * Bpe.trainMerges' recurrence. `word` rides through every r_k so the
    * encode oracle can map words to their final reprs; the training
    * oracle simply ignores it. */
  private def bpeChainCtes(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    val steps = (1 to iters).map { k =>
      s"""p$k AS (SELECT sy[i] AS l, sy[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS s
         |  FROM (SELECT freq, x[2:len(x)-1] AS sy
         |        FROM (SELECT freq, string_split(repr, '$sep$sep') AS x FROM r${k - 1})),
         |       UNNEST(generate_series(1, greatest(len(sy)-1, 0))) g(i)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT $k AS step, l, r, s FROM p$k ORDER BY s DESC, l, r LIMIT 1),
         |r$k AS (SELECT word, replace(repr, '$sep' || m.l || '$sep$sep' || m.r || '$sep',
         |                       '$sep' || m.l || m.r || '$sep') AS repr, freq
         |        FROM r${k - 1}, m$k m)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT UNNEST(regexp_extract_all(text, '\\S+')) AS word FROM documents)
       |  GROUP BY 1),
       |r0 AS (SELECT word,
       |         '$sep' || regexp_replace(word, '(.)', '$sep\\1$sep', 'g') || '$sep' AS repr,
       |         freq FROM w),
       |$steps""".stripMargin
  }

  /** The l60 training replay: the merge chain's arg-max rows. */
  private def bpeOracle(iters: Int): String =
    s"""WITH ${bpeChainCtes(iters)}
       |SELECT CAST(step AS BIGINT) AS step, l AS l_sym, r AS r_sym, s AS pair_freq
       |FROM (${(1 to iters).map(k => s"SELECT * FROM m$k").mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin

  /** The encode-side CTEs shared by the l67 and l69 replays: the
    * chain's FINAL reprs split into symbol arrays per word (`enc`) and
    * every token occurrence of every document (`tok`) — mechanically
    * the same vocabulary-then-join plan Bpe.encode runs. */
  private def bpeEncCtes(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    s"""${bpeChainCtes(iters)},
       |enc AS (SELECT word, x[2:len(x)-1] AS sy
       |        FROM (SELECT word, string_split(repr, '$sep$sep') AS x FROM r$iters)),
       |tok AS (SELECT doc_id, g.i AS pos, ws[g.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
       |             UNNEST(generate_series(1, len(ws))) g(i))""".stripMargin
  }

  /** The l67 encode replay: per doc the pieces reassembled in token
    * order and hash-graded. */
  private def bpeEncodeOracle(iters: Int): String = {
    val sep = graft.operators.Bpe.Sep
    s"""WITH ${bpeEncCtes(iters)},
       |flat AS (SELECT t.doc_id, flatten(list(e.sy ORDER BY t.pos)) AS pieces
       |         FROM tok t JOIN enc e USING (word) GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(len(f.pieces), 0) AS BIGINT) AS n_pieces,
       |  md5(COALESCE(array_to_string(f.pieces, '$sep'), '')) AS pieces_h
       |FROM documents d LEFT JOIN flat f USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The l69 fertility replay: per-doc piece counts from the encode
    * CTEs (a COUNT is token-order-invariant, so the flatten step
    * reduces to a sum of per-word symbol counts), joined to the l2
    * langid CASE chain per document, aggregated per language. */
  private def bpeFertilityOracle(iters: Int): String =
    s"""WITH ${bpeEncCtes(iters)},
       |pieces AS (SELECT t.doc_id, CAST(SUM(len(e.sy)) AS BIGINT) AS n_pieces
       |           FROM tok t JOIN enc e USING (word) GROUP BY t.doc_id),
       |lang AS (SELECT doc_id,
       |    ${langIdCase()} AS lang_detected,
       |    n_words
       |  FROM (SELECT doc_id,
       |      CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
       |$langScoreCols
       |    FROM documents))
       |SELECT l.lang_detected, COUNT(*) AS n_docs,
       |  CAST(SUM(l.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_pieces) AS BIGINT) AS n_pieces,
       |  CAST(SUM(p.n_pieces) AS DOUBLE) / SUM(l.n_words) AS fertility
       |FROM lang l JOIN pieces p USING (doc_id)
       |WHERE l.n_words > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    // Text quality features (all codegen'd built-ins, no UDFs).
    QueryDef("l1_text_stats", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id") +: TextFunctions.qualityColumns(col("text")): _*)
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
        |  CAST(len(list_filter(regexp_extract_all(text, '\S+'), x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
        |    / len(regexp_extract_all(text, '\S+')) AS stop_ratio,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS upper_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic (stopword scoring, fixed-priority argmax).
    QueryDef("l2_text_langid", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(TextFunctions.langId(col("text")).as("lang_detected"))
        .groupBy(col("lang_detected")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_detected"))
    },
      s"""WITH sc AS (SELECT
        |$langScoreCols
        |FROM documents)
        |SELECT ${langIdCase()} AS lang_detected,
        |  COUNT(*) AS n
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),

    // Content fingerprint per document.
    QueryDef("l3_fingerprint", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    },
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"),

    // Deterministic dataset splitting: md5-range assignment gives every
    // engine (and every rerun, at any parallelism) the same train/val/
    // test membership — `sample()` is engine/partitioning-dependent and
    // can't be used for reproducible holdout splits.
    QueryDef("l15_data_split", (s, dir) => {
      Tables.load(s, dir, "documents")
        .withColumn("split", holdoutSplit)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("split"))
    },
      """SELECT CASE WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |            WHEN substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),

    // Deterministic stratified sampling: downsample the over-represented
    // language (en → 30%), keep the rest — membership is a pure function
    // of (salt, doc_id), so any engine/parallelism/rerun keeps the same
    // rows (df.sample() keeps different ones per layout).
    QueryDef("l23_stratified_sample", (s, dir) => {
      graft.operators.Sampling.stratified(
          Tables.load(s, dir, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.3), salt = "curate42")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    },
      """SELECT lang, COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM documents
        |WHERE CAST('0x' || substr(md5('curate42|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Corpus vocabulary: term + document frequency, top 20 by tf
    // (tokenizer-stats step — the shape behind BPE corpus prep and
    // stopword discovery). One explode + one shuffle on the token;
    // tf/df are both exact ints from a single aggregate.
    QueryDef("l32_vocab_topk", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token"))
        .limit(20)
    },
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token FROM documents)
        |GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin),

    // Domain-mix resampling: the corpus re-weighted to a target language
    // mix (40% en, 15% each otherwise), downsample-only with rates
    // derived from actual counts — the data-mixing step before training.
    QueryDef("l29_domain_mix", (s, dir) => {
      graft.operators.Sampling.toTargetMix(
          Tables.load(s, dir, "documents"), "lang", "doc_id",
          targets = Map("en" -> 0.4, "de" -> 0.15, "fr" -> 0.15,
            "es" -> 0.15, "zh" -> 0.15),
          salt = "mix7")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"))
    },
      // w is CAST to DOUBLE (DuckDB VALUES 0.15 would be DECIMAL(3,2) and
      // change every downstream arithmetic type); operation order mirrors
      // Sampling.toTargetMix exactly for bit-identical rates
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |t(lang, w) AS (VALUES ('de', CAST(0.15 AS DOUBLE)), ('en', CAST(0.4 AS DOUBLE)),
        |               ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |               ('zh', CAST(0.15 AS DOUBLE))),
        |j AS (SELECT n.lang, n.n, t.w FROM n JOIN t USING (lang)),
        |sc AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS scale FROM j),
        |rates AS (SELECT j.lang, LEAST(CAST(1.0 AS DOUBLE), sc.scale * j.w / j.n) AS rate FROM j, sc)
        |SELECT d.lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
        |FROM documents d JOIN rates r ON r.lang = d.lang
        |WHERE CAST('0x' || substr(md5('mix7|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      / 4294967296.0 < r.rate
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Sequence packing: documents concatenated into 256-token training
    // sequences, greedy reset-on-overflow per md5-bucket (8 parallel
    // streams — the dataloader-prep step of every LLM pipeline).
    QueryDef("l24_seq_packing", (s, dir) => {
      graft.operators.Packing.packSequences(s,
          Tables.load(s, dir, "documents"), "doc_id", "text",
          tokenBudget = 256, nBuckets = 8)
        .orderBy(col("doc_id"))
    },
      // Mirrors Packing.packSequences: md5-range buckets, then the greedy
      // reset-on-overflow fold replayed as a recursive CTE stepping one
      // row per bucket per level.
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8 AS INT) AS bucket,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, bucket, n_tokens,
        |        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
        |      FROM d),
        |rec AS (
        |  SELECT doc_id, bucket, n_tokens, rn,
        |         CAST(0 AS BIGINT) AS seq, n_tokens AS fill, 0 AS pos
        |  FROM o WHERE rn = 1
        |  UNION ALL
  -- every recursive row has a non-empty current sequence (its
        |  -- predecessor is in it), so the new-sequence guard is just the
        |  -- budget test — mirroring the fold's pos > 0 guard exactly
        |  SELECT o.doc_id, o.bucket, o.n_tokens, o.rn,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN rec.seq + 1 ELSE rec.seq END,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN o.n_tokens ELSE rec.fill + o.n_tokens END,
        |    CASE WHEN rec.fill + o.n_tokens > 256 THEN 0 ELSE rec.pos + 1 END
        |  FROM o JOIN rec ON o.bucket = rec.bucket AND o.rn = rec.rn + 1)
        |SELECT doc_id, bucket, n_tokens, seq AS seq_id, CAST(pos AS INT) AS seq_pos
        |FROM rec ORDER BY doc_id""".stripMargin),

    // Context-window chunking: long documents split into 32-token
    // chunks (map-only explode — no shuffle), the other half of the
    // dataloader-prep pair with l24.
    QueryDef("l25_token_chunks", (s, dir) => {
      graft.operators.Packing.chunkTokens(
          Tables.load(s, dir, "documents"), "doc_id", "text", chunkSize = 32)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      // COALESCE to an empty list mirrors chunkTokens' null-text contract
      // (one empty chunk, n_tokens 0) — raw NULL would null out the
      // generate_series bound and drop the row entirely.
      """WITH d AS (SELECT doc_id,
        |        COALESCE(regexp_extract_all(text, '\S+'), CAST([] AS VARCHAR[])) AS ws
        |      FROM documents),
        |c AS (SELECT doc_id, ws, CAST(i AS INT) AS chunk_idx
        |      FROM d, UNNEST(generate_series(0,
        |        GREATEST(CAST(ceil(len(ws) / 32.0) AS INT), 1) - 1)) t(i))
        |SELECT doc_id, chunk_idx,
        |  array_to_string(ws[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk_text,
        |  CAST(LEAST(len(ws) - chunk_idx*32, 32) AS INT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // Text cleaning / PII redaction: URL stripping, email redaction,
    // whitespace normalization — hash-verified per doc so the Spark and
    // DuckDB regex engines must agree byte-for-byte on the cleaned text.
    QueryDef("l26_text_clean", (s, dir) => {
      val cleaned = TextFunctions.cleanText(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit(TextFunctions.urlPattern)).cast("int").as("n_urls"),
          regexp_count(col("text"), lit(TextFunctions.emailPattern)).cast("int").as("n_emails"),
          length(cleaned).cast("int").as("n_chars_clean"),
          md5(cleaned).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
      // explicit whitespace classes (not \s/\S): Java includes \x0B in
      // \s, RE2 does not — the classes pin the identical byte set
      """WITH c AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^ \t\n\x0B\f\r]+', ' ', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS cleaned
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n\x0B\f\r]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(length(cleaned) AS INT) AS n_chars_clean,
        |  md5(cleaned) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin),

    // Typed PII scrub (emails → <EMAIL>, IPv4 → <IP>, phones →
    // <PHONE>) with per-stage counts — the audit a curation pipeline
    // reports per domain before release. The synthetic corpus carries
    // no PII at all (verified: zero matches for any pattern), so a
    // query over raw `text` would grade on all-zeros and prove
    // nothing; instead both engines deterministically INJECT
    // doc_id-derived PII into each document and the redaction is
    // hash-graded on the result — every regex provably fires on every
    // row. Counts are taken on the text as it ENTERS each stage
    // (email on dirty, IP after email, phone after IP), i.e. exactly
    // what that stage redacted.
    QueryDef("l68_pii_redact", (s, dir) => {
      import TextFunctions._
      val id = col("doc_id").cast("string")
      val dirty = concat(col("text"),
        lit(" Contact user"), id, lit("@mail"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com or call +1 (415) 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"),
        lit("."), ((col("doc_id") * 13) % 256).cast("string"), lit(" done."))
      Tables.load(s, dir, "documents")
        .withColumn("dirty", dirty)
        .withColumn("no_email", redactEmails(col("dirty")))
        .withColumn("no_ip", redactIps(col("no_email")))
        .select(col("doc_id"),
          regexp_count(col("dirty"), lit(emailPattern)).cast("long").as("n_emails"),
          regexp_count(col("no_email"), lit(ipv4Pattern)).cast("long").as("n_ips"),
          regexp_count(col("no_ip"), lit(phonePattern)).cast("long").as("n_phones"),
          md5(redactPhones(col("no_ip"))).as("redacted_h"))
        .orderBy(col("doc_id"))
    },
      piiOracle),

    // Repetition ratio (Gopher-style quality filter): the fraction of
    // 2-gram occurrences that are repeats of an earlier 2-gram in the
    // same doc — boilerplate and degenerate generations score high.
    // Shuffle on (doc, shingle) like the dedup family; counts are a
    // two-phase aggregate.
    QueryDef("l27_repetition", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          explode(TextFunctions.gramArray(col("text"), 2)).as("s"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_2grams"),
          countDistinct(col("s")).as("n_distinct"))
        .select(col("doc_id"), col("n_2grams"), col("n_distinct"),
          // raw IEEE division of exact ints: bit-identical across
          // engines (rounding would reintroduce HALF_UP/HALF_EVEN skew)
          (lit(1.0) - col("n_distinct").cast("double") / col("n_2grams"))
            .as("rep_ratio"))
        .orderBy(col("doc_id"))
    },
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 2, distinct = false)}
        |SELECT doc_id, COUNT(*) AS n_2grams, COUNT(DISTINCT s) AS n_distinct,
        |  1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) AS rep_ratio
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // End-to-end training-data filter: quality gate → language gate →
    // near-dup removal → surviving corpus. The composition every LLM
    // data pipeline runs, as one declarative plan. Dedup goes through
    // the LSH-candidates→exact-verify composition (the plan that runs
    // at 100 TB — never materializes the quadratic pair space).
    QueryDef("l12_data_pipeline", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // persisted: the regex-heavy quality/langid gate feeds BOTH the
      // dedup branch (shingles, counts, intersections) and the final
      // anti-join left side — without the cache each branch re-runs the
      // regexes over the full scan. CacheManager dedupes by canonical
      // plan, so repeated invocations share one entry.
      val filtered = docs
        .filter(TextFunctions.tokenCount(col("text")) >= 20 &&
          TextFunctions.punctCount(col("text")).cast("double") / length(col("text")) < lit(0.1) &&
          TextFunctions.langId(col("text")) === "en")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dupVictims = lshVerified(filtered).select(col("db").as("doc_id")).distinct()
      filtered.join(dupVictims, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      s"""WITH f AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE len(regexp_extract_all(text, '\\S+')) >= 20
        |    AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) < 0.1
        |    AND (${langIdCase(langScore, enOnly = true)}) = 'en'),
        |${lshVerifyCtes("f")},
        |victims AS (${jaccardAbove("inter", 0.8, "DISTINCT db")})
        |SELECT doc_id, n_chars FROM f
        |WHERE doc_id NOT IN (SELECT db FROM victims)
        |ORDER BY doc_id""".stripMargin),

    // BM25 retrieval scoring: top-50 documents for a term query — the
    // query-based corpus-subset-selection step (targeted evals, RAG
    // corpus curation). Shuffles carry only matching (doc, term) rows;
    // df and corpus stats broadcast back.
    QueryDef("l33_bm25", (s, dir) => {
      graft.operators.Ranking.bm25(Tables.load(s, dir, "documents"),
          "doc_id", "text", terms = Seq("spark", "query", "window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
    },
      // Mirrors Ranking.bm25's exact operation order: idf * (tf * 2.2)
      // / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)); dl sums are exact
      // integers so avgdl is bit-identical; final round(6).
      """WITH dl AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS dl
        |            FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, t AS term, count(*) AS tf
        |       FROM (SELECT doc_id, UNNEST(regexp_extract_all(text, '\S+')) AS t FROM documents)
        |       WHERE t IN ('spark', 'query', 'window') GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
        |      (CAST(tf.tf AS DOUBLE) * 2.2) /
        |      (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + (0.75 * dl.dl) / s.avgdl)) AS sco
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |  JOIN dft d ON d.term = tf.term CROSS JOIN stats s)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_matched, round(sum(sco), 6) AS bm25
        |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin),

    // Linear quality classifier with sigmoid link (fastText-shaped
    // scoring, fixed stand-in weights) — one codegen'd map-side pass.
    QueryDef("l35_quality_score", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("q_score"))
        .withColumn("keep", col("q_score") >= 0.5)
        .orderBy(col("doc_id"))
    },
      // score = round(sigmoid(z), 6) over `qualityLogitCte`'s z.
      s"""WITH $qualityLogitCtes
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
        |  round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin),

    // BPE first-merge statistics: adjacent character-pair counts over
    // all tokens, top 20 — the inner loop of byte-pair-encoding
    // tokenizer training as one explode + one shuffle.
    QueryDef("l37_bpe_pairs", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("t"))
        .filter(length(col("t")) >= 2)
        .select(col("t"),
          explode(sequence(lit(1), length(col("t")) - 1)).as("i"))
        .select(expr("substr(t, i, 2)").as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },
      """WITH t AS (SELECT UNNEST(regexp_extract_all(text, '\S+')) AS t FROM documents),
        |p AS (SELECT substr(t, CAST(i AS INT), 2) AS pair
        |      FROM t, UNNEST(generate_series(1, length(t) - 1)) g(i)
        |      WHERE length(t) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    // Quality-based selection per domain: the best 10 documents per
    // language by classifier score — the "keep the best N per stratum"
    // curation step (a per-group top-k: one window shuffle on the
    // stratum; at scale a pre-aggregated per-partition top-k feeds the
    // same window with AQE handling stratum skew).
    QueryDef("l41_quality_topk_domain", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("q_score").desc, col("doc_id"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("q_score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .orderBy(col("lang"), col("rk"))
    },
      // Spark desc = NULLS LAST; pinned explicitly for the oracle.
      s"""WITH ${qualityFeatsCte("doc_id, lang", "documents")},
        |q AS (SELECT doc_id, lang,
        |    round(1.0 / (1.0 + exp(-(-1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio
        |      - 2.0 * upper_ratio + 0.35 * ln(1.0 + n_tokens)))), 6) AS q_score
        |  FROM f),
        |r AS (SELECT doc_id, lang, q_score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY q_score DESC NULLS LAST, doc_id) AS INT) AS rk
        |  FROM q)
        |SELECT doc_id, lang, q_score, rk FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin),

    // Unigram-LM cross-entropy scoring (CCNet-style perplexity
    // quality filter): train an add-one-smoothed unigram LM on the
    // corpus itself, score every document's mean -ln p(token).
    QueryDef("l42_lm_xentropy", (s, dir) => {
      graft.operators.LanguageModel
        .selfCrossEntropy(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Mirrors LanguageModel.selfCrossEntropy: add-one unigram LM,
      // per-token round(-ln p, 6), DECIMAL-exact sum over the rounded
      // values (order-free), token-free docs kept with xent NULL. The
      // mean is the UNROUNDED double quotient: a mean of scale-6
      // decimals lands exactly on a scale-6 midpoint for real data
      // (sf0.1 doc 1498: 210.926201/62 = 3.4020355), where each engine's
      // round() tie-breaks independently — the raw IEEE quotient of the
      // correctly-rounded sum-double and the exact count is bit-identical.
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |lm AS (SELECT token, count(*) AS c FROM t GROUP BY token),
        |tot AS (SELECT sum(c) AS n, count(*) AS v FROM lm),
        |lp AS (SELECT t.doc_id,
        |    round(-ln(CAST(lm.c + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)), 6) AS lp
        |  FROM t JOIN lm USING (token) CROSS JOIN tot),
        |s AS (SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(CAST(lp AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS xent
        |  FROM lp GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.xent
        |FROM documents d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""".stripMargin),

    // Unicode NFC canonicalization (native codegen'd expression) ahead
    // of fingerprinting — composed/decomposed encodings of the same
    // text must hash identically before any dedup. Verified via the
    // post-normalization fingerprint (DuckDB nfc_normalize = same
    // UAX #15 transform); the unicode-specific cases live in
    // NormalizeSpec (the test corpus is ASCII).
    QueryDef("l43_text_nfc", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.functions.NormalizeFunctions.nfcNormalize(col("text"))).as("h"),
          length(graft.functions.NormalizeFunctions.nfcNormalize(col("text")))
            .as("n_chars"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, md5(nfc_normalize(text)) AS h,
        |  length(nfc_normalize(text)) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Per-source corpus datasheet ("corpus card"): the publication row a
    // curation run emits per source — counts, sizes, short-doc and
    // exact-dup tallies, detected-language composition.
    QueryDef("l50_corpus_card", (s, dir) => {
      graft.operators.Audit.corpusCard(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", TextFunctions.langId(col("text")))
        .orderBy(col("source"))
    },
      s"""WITH f AS (
        |  SELECT source, doc_id, length(text) AS chars,
        |    len(regexp_extract_all(text, '\\S+')) AS toks,
        |    md5(text) AS chash,
        |    ${langIdCase()} AS lang
        |  FROM (SELECT source, doc_id, text,
        |$langScoreCols
        |  FROM documents))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS avg_tokens,
        |  CAST(SUM(CASE WHEN toks < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  COUNT(*) - COUNT(DISTINCT chash) AS n_exact_dupes,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |  MIN(doc_id) AS sample_id
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),

    // HTML → text extraction (web-corpus ingest). The synthetic docs
    // are plain text, so the corpus is wrapped in deterministic HTML
    // in-query — style/script blocks, attributes, entities — which both
    // engines construct identically; the md5 of the extracted text
    // forces byte-exact agreement on the whole strip/decode pipeline.
    QueryDef("l57_html_strip", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val html = concat(
        lit("<html><head><style>body{color:red}</style>" +
          "<script>var x=1;</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p class=\"main\">"), col("text"),
        lit("</p><div>&amp; &lt;tags&gt; &quot;quoted&quot; " +
          "&#39;q&#39;&nbsp;end</div></body></html>"))
      docs.select(col("doc_id"),
          TextFunctions.stripHtml(html).as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("n_chars_clean"))
        .orderBy(col("doc_id"))
    },
      // DuckDB regexp_replace is single-match by default — the 'g' flag is
      // load-bearing on every rule; entity decode runs AFTER tag removal
      """WITH h AS (SELECT doc_id,
        |    '<html><head><style>body{color:red}</style><script>var x=1;</script></head><body><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p class="main">' || text ||
        |    '</p><div>&amp; &lt;tags&gt; &quot;quoted&quot; &#39;q&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(html,
        |    '(?is)<(script|style)(>|[ \t\n\x0B\f\r][^>]*>).*?</(script|style)[ \t\n\x0B\f\r]*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '</?[A-Za-z][^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s2),
        |s4 AS (SELECT doc_id,
        |    trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean FROM s3)
        |SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS n_chars_clean
        |FROM s4 ORDER BY doc_id""".stripMargin),

    // Trained quality classifier (FineWeb-Edu shape): logistic
    // regression on heuristic features fit with 10 fixed GD iterations,
    // decimal-exact gradient sums (layout-invariant weights), then the
    // corpus scored with the learned boundary. The oracle REPLAYS
    // training: an unrolled 10-step CTE chain carrying the weight
    // vector, generated mechanically (see logRegOracle).
    QueryDef("l58_logreg_quality", (s, dir) => {
      import s.implicits._
      val (feats, w, pred) = trainQualityModel(Tables.load(s, dir, "documents"))
      val Row2 = feats.agg(
        sum((pred === (col("y") === 1.0)).cast("long")).as("n_correct"),
        count(lit(1)).as("n_rows")).head()
      Seq((w(0), w(1), w(2), Row2.getLong(0), Row2.getLong(1)))
        .toDF("w_stop", "w_punct", "w_bias", "n_correct", "n_rows")
    },
      logRegOracle),

    // The trained classifier APPLIED: per-document keep/drop decisions
    // from the l58 model — the FineWeb-Edu loop closed (train on
    // features, score the corpus map-side). Training reruns here so
    // the query is self-contained; a pipeline would load saved weights.
    QueryDef("l59_classifier_filter", (s, dir) => {
      val (feats, _, pred) = trainQualityModel(Tables.load(s, dir, "documents"),
        col("doc_id"))
      feats.select(col("doc_id"), pred.as("keep"), (col("y") === 1.0).as("label_en"))
        .orderBy(col("doc_id"))
    },
      logRegOracleWith(
        """SELECT f.doc_id, ((i.w1*f.x1 + i.w2*f.x2 + i.w0) >= 0) AS keep,
          |  (f.y = 1.0) AS label_en
          |FROM feats f, i10 i ORDER BY f.doc_id""".stripMargin)),

    // Curriculum difficulty binning: fixed-width score bins (NOT a
    // global ntile — a single-partition window is the 100 TB
    // anti-pattern; width-0.1 bins are map-side and layout-invariant,
    // and a curriculum sampler composes them with l23's rate machinery).
    QueryDef("l51_difficulty_bins", (s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
        .withColumn("bin", least(lit(9L), floor(col("q") * 10).cast("long")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("q")).as("q_min"), max(col("q")).as("q_max"))
        .orderBy(col("bin"))
    },
      s"""WITH $qualityLogitCtes,
        |q AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q FROM z)
        |SELECT least(9, CAST(floor(q * 10) AS BIGINT)) AS bin, COUNT(*) AS n,
        |  MIN(q) AS q_min, MAX(q) AS q_max
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin),

    // BPE tokenizer TRAINING (l37 computed only the first merge's
    // statistics): 10 actual merges learned iteratively — one
    // pair-count aggregation job per merge over the |vocab|-row
    // word-frequency frame, driver state = the merge list. The oracle
    // REPLAYS all 10 merges as a mechanical CTE chain, so the learned
    // sequence (not just one step) is hash-graded.
    QueryDef("l60_bpe_train", (s, dir) => {
      import s.implicits._
      bpeMerges(Tables.load(s, dir, "documents"))
        .toDF("step", "l_sym", "r_sym", "pair_freq")
        .orderBy(col("step"))
    },
      bpeOracle(10)),

    // Learned-tokenizer ENCODE — l60 trains the merge list; this
    // applies it to the corpus (the step that turns raw tokens into
    // learned-vocab pieces for l24/l25's packing/chunking). The merges
    // replay over the DISTINCT word vocabulary once and join back to
    // the token stream; per doc the piece sequence is hash-graded in
    // token order, so the whole train→encode composition is end-to-end
    // against the oracle's CTE replay.
    QueryDef("l67_bpe_encode", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = bpeMerges(docs).map { case (_, l, r, _) => (l, r) }
      graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_pieces"),
          md5(concat_ws(graft.operators.Bpe.Sep, col("pieces"))).as("pieces_h"))
        .orderBy(col("doc_id"))
    },
      bpeEncodeOracle(10)),

    // Tokenizer fertility per language — pieces-per-word of the
    // LEARNED tokenizer (l60's merges) broken out by detected
    // language: the standard multilingual-tokenizer health metric (a
    // language with high fertility is under-served by the vocabulary
    // and will eat its context window). Composes train → encode →
    // langid; the sums are exact BIGINTs so the one double division is
    // bit-deterministic on both engines.
    QueryDef("l69_token_fertility", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val merges = bpeMerges(docs).map { case (_, l, r, _) => (l, r) }
      val enc = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_pieces"))
      docs.select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_detected"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_words"))
        .where(col("n_words") > 0)
        .join(enc, Seq("doc_id"))
        .groupBy(col("lang_detected"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .withColumn("fertility", col("n_pieces").cast("double") / col("n_words"))
        .orderBy(col("lang_detected"))
    },
      bpeFertilityOracle(10)),

    // N-gram novelty — fraction of each document's distinct 3-shingles
    // occurring in no other document (boilerplate/syndication scores
    // near 0, original prose near 1). One doc-frequency aggregation
    // over the shared shingle frame; no pairwise work.
    QueryDef("l70_ngram_novelty", (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      // stage the one expensive pass (tokenize→explode→distinct) and
      // share it across the two aggregations — the l60/l67 persist
      // discipline; Verify/Bench release leaked persists between runs
      val sh = graft.operators.Dedup.shingleSet(docs, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.operators.Ranking.ngramNoveltyFromShingles(docs, sh, "doc_id")
        .orderBy(col("doc_id"))
    },
      s"""WITH ${shingleCtes("d", "sh", "documents", n = 3)},
        |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
        |        FROM sh JOIN df USING (s) GROUP BY 1)
        |SELECT d2.doc_id,
        |  COALESCE(a.n_shingles, 0) AS n_shingles,
        |  COALESCE(a.n_unique, 0) AS n_unique,
        |  CASE WHEN COALESCE(a.n_shingles, 0) = 0 THEN 0.0
        |       ELSE CAST(a.n_unique AS DOUBLE) / a.n_shingles END AS novelty
        |FROM documents d2 LEFT JOIN agg a USING (doc_id)
        |ORDER BY d2.doc_id""".stripMargin),

    // Per-source token-length quartiles — the corpus-card distribution
    // stat, as exact rank-position quantiles (ceil(p*n), ties by id)
    // rather than an engine-specific percentile sketch.
    QueryDef("l71_source_len_quartiles", (s, dir) => {
      graft.operators.Audit.groupQuartiles(
          Tables.load(s, dir, "documents"), "source", "doc_id",
          TextFunctions.tokenCount(col("text")))
        .orderBy(col("source"))
    },
      """WITH v AS (SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS v
        |  FROM documents),
        |r AS (SELECT source, v,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY v, doc_id) AS rk,
        |        COUNT(*) OVER (PARTITION BY source) AS n_docs
        |      FROM v)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rk = ceil(n_docs * 0.25) THEN v END) AS p25,
        |  MAX(CASE WHEN rk = ceil(n_docs * 0.5) THEN v END) AS p50,
        |  MAX(CASE WHEN rk = ceil(n_docs * 0.75) THEN v END) AS p75
        |FROM r GROUP BY 1, 2 ORDER BY 1""".stripMargin)
  )
}
