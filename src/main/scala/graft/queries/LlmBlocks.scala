package graft.queries

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM training-data pipeline queries (the north star beyond the
  * reference: dedup family, similarity search, text analysis,
  * multimodal plumbing) live one family per file — `TextQueries`,
  * `NearDupQueries`, `AnnQueries`, `DeconQueries`, `BlobQueries`,
  * `DropLoopQueries` — each query one `QueryDef` that wraps a reusable
  * operator from graft.operators / functions next to a DuckDB oracle
  * that reproduces the algorithm exactly (md5 as the only hash, so
  * engine-portable). The spec decisions that more than one family
  * shares are written once here: the engine-side helpers first, then
  * the oracle's building blocks.
  */
private[queries] object LlmBlocks {
  /** The benchmark split of the decontamination queries: doc_id % 50 ==
    * 0 stands in for the held-out benchmark, the rest is train — the
    * split of the oracle's `shingleDecontamSql` and
    * `spanDecontamCtesFrom`. Returns (train, eval). */
  def benchmarkSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0))

  /** Verified near-dup pairs at the graded text dedup spec: word
    * 3-shingles, 8 hashes in bands of 2, Jaccard > 0.8 (the oracle's
    * `lshVerifyCtes`). */
  def lshVerified(docs: DataFrame): DataFrame =
    Dedup.lshVerifiedPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.8)

  /** The license-boilerplate corpus of the df-cap queries (l86, l89,
    * l94): every third doc carries the same crawler license line — the
    * engine side of the oracle's `boilerplateDocs`. */
  def boilerplateCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" standard license header text " +
          "appended by the crawler pipeline every run")))
        .otherwise(col("text")).as("text"))

  /** The deterministic holdout split of l15/l49: an md5-range bucket
    * of (salt, doc_id), the same at any parallelism and on any engine —
    * 0x00-0xcb train (≈ 80 %), 0xcc-0xe5 val (≈ 10 %), the rest test. */
  def holdoutSplit: Column = {
    val bucket = substring(md5(concat(lit("split42|"), col("doc_id").cast("string"))), 1, 2)
    when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
  }

  /** The graded ANN spec: `vec_id`/`embedding` vectors of dim 64 in
    * m = 4 PQ subspaces of k = 16 codes, 16 IVF lists, probes routed to
    * their 4 nearest lists, top 10 — the engine side of the oracle's
    * `ivfPqAdcCtes`. One method per `Quantize`/`AnnIndex` call of the
    * ANN queries. */
  object Ann {
    import graft.operators.{AnnIndex, Quantize}
    private val (id, vec, dim, m, k, nLists, nProbe) =
      ("vec_id", "embedding", 64, 4, 16, 16, 4)

    /** The probe vector of the single-probe serves: vec_id 0. */
    def probe(emb: DataFrame): DataFrame = emb.filter(col(id) === 0)

    /** PQ codebooks and the corpus's codes against them. */
    def pq(emb: DataFrame): (DataFrame, DataFrame) = {
      val cb = Quantize.pqCodebooks(emb, id, vec, dim, m, k)
      (cb, Quantize.pqEncode(emb, cb, id, vec, dim, m))
    }

    def adcTopK(codes: DataFrame, cb: DataFrame, probe: DataFrame): DataFrame =
      Quantize.pqAdcTopK(codes, cb, probe, id, vec, dim, m, topK = 10)

    def adcTopKAll(codes: DataFrame, cb: DataFrame, probes: DataFrame,
                   topK: Int): DataFrame =
      Quantize.pqAdcTopKAll(codes, cb, probes, id, vec, dim, m, topK)

    /** The ids in the IVF lists vec_id 0 probes. */
    def probeCandidates(emb: DataFrame): DataFrame = {
      val lists = Similarity.ivfLists(emb, id, vec, nCentroids = nLists)
      val probeB = Similarity.ivfProbeLists(emb, id, vec,
        nCentroids = nLists, nProbe = nProbe, probeId = 0)
      lists.join(broadcast(probeB), Seq("bucket")).select(col(id))
    }

    def build(emb: DataFrame, dir: String): Unit =
      AnnIndex.buildIvfPq(emb, id, vec, dim, m, k, nCentroids = nLists, dir = dir)

    def serve(s: SparkSession, dir: String, probe: DataFrame): DataFrame =
      AnnIndex.serveIvfPq(AnnIndex.load(s, dir), probe, id, vec, dim, m, nProbe, topK = 10)

    def serveBatch(s: SparkSession, dir: String, probes: DataFrame, topK: Int): DataFrame =
      AnnIndex.serveIvfPqBatch(AnnIndex.load(s, dir), probes, id, vec, dim, m, nProbe, topK)

    def append(s: SparkSession, dir: String, emb: DataFrame, tag: String): Unit =
      AnnIndex.appendVectors(s, dir, emb, id, vec, dim, m, ingestTag = tag)

    def driftAudit(ix: AnnIndex.IvfPq, emb: DataFrame, ingest: String): DataFrame =
      AnnIndex.driftAudit(ix, emb, ingest, id, vec, dim, m)

    def rebuildIfTombstoned(s: SparkSession, dir: String, live: DataFrame) =
      AnnIndex.rebuildIfTombstoned(s, dir, live, id, vec, dim, m, k, nLists, threshold = 0.2)

    def runIngest(src: DataFrame, dir: String, checkpointDir: String, compactEvery: Int) =
      AnnIndex.runIngest(src, dir, id, vec, dim, m, checkpointDir = checkpointDir,
        compactEvery = compactEvery)

    /** The append lifecycle's corpus (l83, l84, l93): the index is
      * built on the 16 training vectors — the quantizers the oracle
      * derives from the 16 lowest vec_ids — and the rest of the corpus
      * arrives as four drops (vec_id % 4). */
    def trainingVecs(emb: DataFrame): DataFrame = emb.filter(col(id) < 16)
    def drops(emb: DataFrame): Seq[DataFrame] =
      (0 until 4).map(b => emb.filter(col(id) >= 16 && col(id) % 4 === b))

    /** Build on the training vectors, then append the four drops as
      * ingests batch_0 .. batch_3 (l83, l84). */
    def buildThenAppend(s: SparkSession, emb: DataFrame, dir: String): Unit = {
      build(trainingVecs(emb), dir)
      drops(emb).zipWithIndex.foreach { case (d, b) => append(s, dir, d, s"batch_$b") }
    }
  }

  // ---- Oracle building blocks. Each spec decision that oracles of
  // several families share has ONE home here (one that a single family
  // uses sits in that family's file); an oracle restating a decision
  // calls its helper. Helpers return comma-separated CTEs (no leading
  // WITH) or a SELECT, and take the CTE names, the source relation and
  // the spec's own constants.

  def keyCols(key: String): String = if (key.isEmpty) "" else s"$key, "

  /** Whitespace tokenization (`\S+` runs, the engine's token split):
    * `name` = `src`'s `key` column (none when "") and its token array
    * `ws`. */
  def tokensCte(name: String, src: String, key: String = "doc_id"): String =
    s"$name AS (SELECT ${keyCols(key)}regexp_extract_all(text, '\\S+') AS ws FROM $src)"

  /** Word n-shingles (`Dedup.shingleSet`): `toks` tokenizes `src`, `sh`
    * holds every run of n adjacent tokens joined by single spaces —
    * docs under n tokens emit none. `distinct` makes `sh` the per-doc
    * shingle SET; `key` as in `tokensCte`. */
  def shingleCtes(toks: String, sh: String, src: String, n: Int,
                                   key: String = "doc_id",
                                   distinct: Boolean = true): String = {
    val gram = (0 until n).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]")
      .mkString(" || ' ' || ")
    s"""${tokensCte(toks, src, key)},
       |$sh AS (SELECT ${if (distinct) "DISTINCT " else ""}${keyCols(key)}$gram AS s
       |       FROM $toks, UNNEST(generate_series(1, greatest(len(ws)-${n - 1}, 0))) t(i)
       |       WHERE len(ws) >= $n)""".stripMargin
  }

  /** Per-doc set size (`as`) of `src` — the Jaccard/containment
    * denominators' input. */
  def setSizeCte(src: String, as: String = "n_sh"): String =
    s"cnt AS (SELECT doc_id, COUNT(*) AS $as FROM $src GROUP BY 1)"

  /** Shared-shingle count `i` per LSH candidate pair of `cand`
    * (the count form of `Dedup.verifySets`' array intersection). */
  def candInterCte(name: String): String =
    s"""$name AS (SELECT c.da, c.db, COUNT(*) AS i
       |          FROM cand c
       |          JOIN sh a ON a.doc_id = c.da
       |          JOIN sh b ON b.doc_id = c.db AND b.s = a.s
       |          GROUP BY 1, 2)""".stripMargin

  val jaccardOf = "CAST(i AS DOUBLE)/(ca.n_sh + cb.n_sh - i)"

  /** Verified Jaccard (`Dedup.exactJaccard`): the pairs of `inter`
    * whose |A∩B| / (|A| + |B| - |A∩B|) over the `cnt` set sizes
    * STRICTLY exceeds `threshold`. */
  def jaccardAbove(inter: String, threshold: Double,
                           cols: String = "da, db"): String =
    s"""SELECT $cols FROM $inter JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
       |WHERE $jaccardOf > $threshold""".stripMargin

  /** The graded Jaccard pair output: `jaccardAbove` with the score. */
  def jaccardPairsSql(inter: String, threshold: Double): String =
    jaccardAbove(inter, threshold, s"da, db, $jaccardOf AS jaccard") +
      "\nORDER BY da, db"

  /** The minhash seed family and banding (`Dedup.minhashBands`), restated
    * here independently of the engine's constant arrays: hash_i =
    * (A_i·h1 + B_i·h2) mod p over the two 40-bit md5 halves of each
    * shingle `s` of `sh`, p = the first prime past 2^40; `mh` keeps the
    * per-(key, seed) min, `bands` as in `bandsCte`. */
  def minhashCtes(key: String, numHashes: Int, rowsPerBand: Int): String = {
    val a = Seq(40503, 34283, 49843, 10193, 5717, 9539, 62989, 55021,
      14939, 58057, 23371, 60943, 3571, 38833, 50993, 17389)
    val b = Seq(27179, 43691, 20117, 51347, 7129, 63577, 31769, 44201,
      29527, 12641, 54679, 8363, 47507, 64151, 21841, 36653)
    def coef(cs: Seq[Int]) = cs.take(numHashes).mkString("[", ",", "]")
    s"""mh AS (SELECT $key, seed,
       |         MIN((${coef(a)}[seed+1] * CAST('0x' || substr(md5(s), 1, 10) AS BIGINT) +
       |              ${coef(b)}[seed+1] * CAST('0x' || substr(md5(s), 11, 10) AS BIGINT))
       |             % 1099511627791) AS mh
       |       FROM sh, UNNEST(generate_series(0, ${numHashes - 1})) t(seed) GROUP BY 1, 2),
       |${bandsCte("bands", key, numHashes, rowsPerBand)}""".stripMargin
  }

  /** Strided banding: numHashes / rowsPerBand bands (band = seed %
    * bands), each signed by its sorted minhash values. */
  def bandsCte(name: String, key: String, numHashes: Int, rowsPerBand: Int,
                       from: String = "mh"): String =
    s"""$name AS (SELECT $key, seed % ${numHashes / rowsPerBand} AS band,
       |            array_to_string(list_sort(list(mh)), '|') AS bsig
       |          FROM $from GROUP BY 1, 2)""".stripMargin

  /** Band-bucket collision (`Dedup.bandPairJoin`): two rows of `bands`
    * collide when any band's signature matches. */
  def bandJoin(bands: String): String =
    s"FROM $bands x JOIN $bands y ON x.band = y.band AND x.bsig = y.bsig"

  /** LSH candidate pairs: distinct colliding pairs, ordered `key`s. */
  def bandPairsSql(key: String = "doc_id", a: String = "da", b: String = "db",
                           bands: String = "bands"): String =
    s"SELECT DISTINCT x.$key AS $a, y.$key AS $b\n${bandJoin(bands)} AND x.$key < y.$key"

  /** New-vs-seen band probe (`IncrementalDedup`): per doc `x`, its
    * first band match and (when `counted`) match count among the docs
    * `y` that `where` admits as already seen. */
  def bandMatchCte(where: String, counted: Boolean): String = {
    val n = if (counted) ",\n        COUNT(DISTINCT y.doc_id) AS n_matches" else ""
    s"""m AS (SELECT x.doc_id AS did, MIN(y.doc_id) AS first_match$n
       |      ${bandJoin("bands")}
       |      WHERE $where
       |      GROUP BY 1)""".stripMargin
  }

  /** `Dedup.lshVerifiedPairs` at the graded spec (3-shingles, 8
    * hashes in bands of 2) over `src`: shingle sets `sh`, set sizes
    * `cnt`, band candidates `cand` and their intersections `inter`. */
  def lshVerifyCtes(src: String): String =
    s"""${shingleCtes("d", "sh", src, n = 3)},
       |${setSizeCte("sh")},
       |${minhashCtes("doc_id", numHashes = 8, rowsPerBand = 2)},
       |cand AS (${bandPairsSql()}),
       |${candInterCte("inter")}""".stripMargin

  /** Min-label connected components (the labels of
    * `Dedup.connectedComponents`) as a recursive CTE (the enclosing WITH must be RECURSIVE): the
    * (a, b) columns of `pairs` as undirected `edges`, `reach` every
    * node's transitive closure, and `label` (when given) each node's
    * min reachable id `rep`. */
  def closureCtes(a: String, b: String,
                          label: Option[String] = Some("lbl")): String =
    s"""edges AS (SELECT $a AS x, $b AS y FROM pairs
       |          UNION SELECT $b, $a FROM pairs),
       |nodes AS (SELECT DISTINCT x AS id FROM edges),
       |reach AS (SELECT id, id AS r FROM nodes
       |          UNION
       |          SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y)""".stripMargin +
      label.fold("")(l => s",\n$l AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)")

  /** Winnowing (`Dedup.winnowFingerprints` / `winnowSpans`): `toks`
    * tokenizes `src`; `g` hashes every k-token gram at its 0-based
    * `pos` with the minhash family's 40-bit md5 prefix of the
    * space-joined tokens (docs under k tokens have none), `ng` the
    * doc's gram count; `wm` takes the min over each window of w grams —
    * the value `fp`, or with `positioned` the struct min {h, -pos} as
    * `sel` (argmin by hash, rightmost position on ties). */
  def winnowCtes(toks: String, g: String, wm: String, src: String,
                         k: Int, w: Int, positioned: Boolean = false): String = {
    val (pick, as) = if (positioned) ("MIN({'h': h, 'np': -pos})", "sel") else ("MIN(h)", "fp")
    s"""${tokensCte(toks, src)},
       |$g AS (SELECT doc_id, i-1 AS pos,
       |        CAST('0x' || substr(md5(array_to_string(ws[i:i+${k - 1}], ' ')), 1, 10)
       |          AS BIGINT) AS h,
       |        len(ws)-${k - 1} AS ng
       |      FROM $toks, UNNEST(generate_series(1, len(ws)-${k - 1})) t(i)
       |      WHERE len(ws) >= $k),
       |$wm AS (SELECT doc_id, pos, ng,
       |        $pick OVER (PARTITION BY doc_id ORDER BY pos
       |                     ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS $as
       |       FROM $g)""".stripMargin
  }

  /** The winnow gate (`Dedup.winnowWindow`): only windows starting at
    * pos <= ng - w are full; a doc with fewer than w grams keeps its
    * one truncated window at pos 0. Distinct `cols` of the kept rows. */
  def winnowSelect(cols: String, wm: String, w: Int): String =
    s"SELECT DISTINCT $cols FROM $wm\n        WHERE pos <= greatest(ng-$w, 0)"

  /** A positioned selection's columns: offset `spos` and hash `fp`. */
  val spanCols = "doc_id, CAST(-(sel.np) AS BIGINT) AS spos, sel.h AS fp"

  /** Pairs sharing fingerprints of `fps`, with the shared count
    * (`Dedup.sharedFpPairs`). */
  def sharedFpCte(name: String, fps: String): String =
    s"""$name AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
       |          FROM $fps a JOIN $fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  /** The l85-family winnow chain over `src` at k = 5, w = 4, ending at
    * `fps` (doc_id, fp). */
  def winnowFpCtes(src: String): String =
    s"""${winnowCtes("toks", "g", "wm", src, k = 5, w = 4)},
       |fps AS (${winnowSelect("doc_id, fp", "wm", w = 4)})""".stripMargin

  /** The boilerplate-injected corpus of the df-cap oracles (l86, l89,
    * l94): every third doc carries the same crawler license header. */
  val boilerplateDocs: String =
    """docs2 AS (SELECT doc_id,
      |        CASE WHEN doc_id % 3 = 0
      |             THEN text || ' standard license header text appended by the crawler pipeline every run'
      |             ELSE text END AS text
      |      FROM documents)""".stripMargin

  /** The quality classifier's features (`TextFunctions.qualityScore`):
    * stopword, punctuation and uppercase ratios and the token count
    * per doc of `src` (ratios NULL on empty text), `cols` carried. */
  def qualityFeatsCte(cols: String, src: String): String =
    s"""f AS (SELECT $cols,
       |    CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
       |        x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
       |      / NULLIF(len(regexp_extract_all(text, '\\S+')), 0) AS stop_ratio,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |      / NULLIF(length(text), 0) AS punct_ratio,
       |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
       |      / NULLIF(length(text), 0) AS upper_ratio,
       |    len(regexp_extract_all(text, '\\S+')) AS n_tokens
       |  FROM $src)""".stripMargin

  /** The quality logit `z` over the features `f` (`qualityScore`). */
  val qualityLogitCte: String =
    """z AS (SELECT doc_id,
      |    -1.5 + 3.0 * stop_ratio - 8.0 * punct_ratio - 2.0 * upper_ratio
      |      + 0.35 * ln(1.0 + n_tokens) AS z
      |  FROM f)""".stripMargin

  /** The exact squared L2 norm of `embedding` as a double sum. */
  val sqNorm: String =
    "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"

  /** `name` = `src`'s `cols` with the squared norm (as `n2`) and, with
    * `withNr`, the norm itself as `nr`. */
  def normCte(name: String = "e", src: String = "embeddings",
                      cols: String = "vec_id, embedding", n2: String = "n2",
                      withNr: Boolean = false): String = {
    val nr = if (withNr) s",\n    sqrt($sqNorm) AS nr" else ""
    s"$name AS (SELECT $cols,\n    $sqNorm AS $n2$nr\n  FROM $src)"
  }

  /** The zero-norm-guarded cosine (`Similarity.guardedCos`): a zero
    * vector scores 0.0 against everything (raw 0/0 is NaN, which Spark
    * orders above every value); otherwise the dot product over
    * sqrt(n2a·n2b), rounded to 6 d.p. `a`/`b` alias rows carrying
    * `embedding` and the squared norm `n2`. `norms` divides by the
    * per-vector norms (nr_a·nr_b) instead — `ivfLists`' centroid
    * assignment. `times` is the dot product's multiply as the l8 family
    * spells it. */
  def guardedCos(a: String, b: String, n2: String = "n2", norms: Boolean = false,
                         times: String = "*"): String = {
    val den = if (norms) s"($a.nr * $b.nr)" else s"sqrt($a.$n2 * $b.$n2)"
    s"""CASE WHEN $a.$n2 = 0 OR $b.$n2 = 0 THEN 0.0
       |      ELSE round(list_sum(list_transform(list_zip($a.embedding, $b.embedding),
       |        z -> CAST(z[1] AS DOUBLE)${times}CAST(z[2] AS DOUBLE))) / $den, 6) END""".stripMargin
  }

  /** Coarse IVF routing (`Similarity.ivfLists`, kmeansIters = 0): `c`
    * = the 16 lowest vec_ids as centroids, `ac` every vector's guarded
    * cosine to each (per-vector norms), `ranked` a vector's centroids
    * by cosine desc, centroid id asc. */
  val ivfRoutingCtes: String =
    s"""${normCte(withNr = true)},
       |c AS (SELECT * FROM e ORDER BY vec_id LIMIT 16),
       |ac AS (SELECT v.vec_id AS vid, c.vec_id AS ci,
       |    ${guardedCos("v", "c", norms = true)} AS cos
       |  FROM e v, c),
       |ranked AS (SELECT vid, ci,
       |    ROW_NUMBER() OVER (PARTITION BY vid ORDER BY cos DESC, ci) AS rnk FROM ac)""".stripMargin

  /** PQ sub-vectors (`Quantize.pqCodebooks` / `pqEncode`): the 4
    * consecutive 16-dim slices of each `src` row, 0-based `sub`. */
  def subVecs(cols: String, src: String, as: String): String =
    s"SELECT $cols, embedding[sub*16+1 : sub*16+16] AS $as\n       FROM $src, UNNEST(generate_series(0, 3)) t(sub)"

  /** The squared L2 distance of two sub-vectors, rounded to 6 d.p. */
  def sqDist(a: String, b: String): String =
    s"""round(list_sum(list_transform(list_zip($a, $b),
       |      z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
       |         * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), 6)""".stripMargin

  /** The PQ codebook: the 16 lowest vec_ids (`cid` 0-based), sliced
    * into sub-vector codewords `cb`. */
  val pqCodebookCtes: String =
    s"""idx AS (SELECT vec_id, embedding,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |cb AS (${subVecs("t.sub, cid", "idx", "cvec")})""".stripMargin

  /** The codebook, every vector's sub-vectors `sv`, and each
    * (sub-vector, codeword) distance `scored`. */
  val pqScoredCtes: String =
    s"""$pqCodebookCtes,
       |sv AS (${subVecs("vec_id, t.sub", "embeddings", "svec")}),
       |scored AS (SELECT sv.vec_id, sv.sub, cb.cid,
       |    ${sqDist("sv.svec", "cb.cvec")} AS dist
       |  FROM sv JOIN cb ON cb.sub = sv.sub)""".stripMargin

  /** PQ encoding: per (vec_id, sub) the nearest codeword, id tiebreak. */
  val pqCodesSql: String =
    """SELECT vec_id, sub, code FROM (
      |  SELECT vec_id, sub, cid AS code,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rk
      |  FROM scored) WHERE rk = 1""".stripMargin

  /** The ADC lookup table `dtab`: per (sub, code) the probe's squared
    * distance to the codeword — one probe (vec_id 0) or, with `batch`,
    * the probes vec_id < 5 keyed by `qid`. */
  def adcTableCtes(batch: Boolean): String = {
    val qs =
      if (batch) subVecs("vec_id AS qid, t.sub", "embeddings", "qvec") + "\n       WHERE vec_id < 5"
      else subVecs("t.sub", "(SELECT embedding FROM embeddings WHERE vec_id = 0)", "qvec")
    s"""qs AS ($qs),
       |dtab AS (SELECT ${if (batch) "qs.qid, " else ""}cb.sub, cb.cid AS code,
       |    ${sqDist("qs.qvec", "cb.cvec")} AS dsub
       |  FROM cb JOIN qs ON qs.sub = cb.sub)""".stripMargin
  }

  /** ADC distance: the per-sub lookups summed as exact integer micros. */
  val adcDist =
    "CAST(SUM(CAST(round(d.dsub * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS adc_dist"

  /** The single probe's ADC top-10 over `codes` (aliased `c`). */
  def adcTop10Sql(c: String): String =
    s"""SELECT $c.vec_id,
       |  $adcDist
       |FROM codes $c JOIN dtab d ON d.sub = $c.sub AND d.code = $c.code
       |GROUP BY 1 ORDER BY adc_dist, $c.vec_id LIMIT 10""".stripMargin

  /** Shared train/eval winnow CTE chain for the span-decontamination
    * family (l98 stats / l99 filter / l111 streaming guard): the l85
    * winnowing replay run on BOTH sides of the doc_id % 50 benchmark
    * split, ending in `tfp` (train (doc_id, fp)), `efp` (the eval
    * corpus's distinct fingerprints) and `hits` (per-train-doc overlap
    * counts). The train definition is a parameter so l111's
    * leak-injected corpus reuses the chain verbatim. */
  def spanDecontamCtesFrom(trSql: String): String =
    s"""WITH tr AS ($trSql),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |${winnowCtes("ttk", "tg", "twm", "tr", k = 5, w = 4)},
       |tfp AS (${winnowSelect("doc_id, fp", "twm", w = 4)}),
       |${winnowCtes("etk", "eg", "ewm", "ev", k = 5, w = 4)},
       |efp AS (${winnowSelect("fp", "ewm", w = 4)}),
       |hits AS (SELECT t.doc_id, COUNT(*) AS n_overlap
       |         FROM tfp t JOIN efp e USING (fp) GROUP BY 1)""".stripMargin

  /** The span-decontamination verdict per train doc (l98; l111 adds
    * the crawl-drop column): fingerprint count, eval overlap, and the
    * absolute evidence flag (overlap >= 2). */
  def spanVerdictSql(ctes: String, withDrop: Boolean): String = {
    val drop = if (withDrop) ",\n  CAST(tr.doc_id % 4 AS BIGINT) AS ingest_batch" else ""
    s"""$ctes,
       |${setSizeCte("tfp", "n_fp")}
       |SELECT tr.doc_id,
       |  COALESCE(cnt.n_fp, 0) AS n_fp,
       |  COALESCE(hits.n_overlap, 0) AS n_overlap,
       |  COALESCE(hits.n_overlap, 0) >= 2 AS contaminated$drop
       |FROM tr LEFT JOIN cnt ON cnt.doc_id = tr.doc_id
       |        LEFT JOIN hits ON hits.doc_id = tr.doc_id
       |ORDER BY tr.doc_id""".stripMargin
  }

  /** The l106/l108 injected blob corpus: every doc's UTF-8 bytes as a
    * BINARY payload plus, for every 50th doc, a re-encoded variant
    * (id + 1,000,000) with a 4-byte header prepended and two trailing
    * chars trimmed — a distinct sha-256 that exact blob dedup can
    * never collapse, at ~0.96+ byte-shingle Jaccard. Must stay
    * byte-identical to the SQL replay in `blobNearDupSql`. */
  /** `idOffset` defaults to the l106/l108 batch corpus; l110's
    * streaming corpus uses 1000001 so every variant's doc_id % 4 drop
    * lands one drop AFTER its original (doc_id % 50 == 0 puts
    * originals in drops {0, 2}, +1 shifts variants to {1, 3}) — the
    * new-vs-seen loop only ever probes later-against-earlier. */
  def blobCorpus(docs: DataFrame,
                         idOffset: Long = 1000000L): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .unionAll(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + idOffset).as("doc_id"),
          concat(lit("HDR|"), col("text").substr(lit(1),
            greatest(length(col("text")) - 2, lit(0))))
            .cast("binary").as("payload")))

  /** The single-probe IVF-PQ replay shared by l55 (recompute), l62
    * (persisted-index serve, reused verbatim) and l76 (tombstone
    * delete, which appends a delete-aware ranking): coarse centroids =
    * the 16 lowest vec_ids (kmeansIters = 0), probe = vec_id 0 routed
    * to its nProbe = 4 nearest lists, PQ codes for the candidate set,
    * and the probe's per-(sub, code) ADC lookup table. Ends at the
    * `dtab` CTE — callers append their own final ranking. */
  def ivfPqAdcCtes: String =
    s"""WITH $ivfRoutingCtes,
       |buckets AS (SELECT ci AS bucket, vid FROM ranked WHERE rnk = 1),
       |pb AS (SELECT ci AS bucket FROM ranked WHERE vid = 0 AND rnk <= 4),
       |cand AS (SELECT b.vid AS vec_id FROM buckets b JOIN pb ON pb.bucket = b.bucket),
       |$pqScoredCtes,
       |codes AS ($pqCodesSql
       |  AND vec_id IN (SELECT vec_id FROM cand)),
       |${adcTableCtes(batch = false)}""".stripMargin

  /** l55's single-probe IVF-PQ top 10: the recompute oracle, and the
    * serve contract of every index built on the same 16 training
    * quantizers (l62, l83, l84, l93). */
  val ivfPqServeSql: String =
    (ivfPqAdcCtes + "\n" + adcTop10Sql("c2"))

  /** l44's quality keep-best over the verified near-dup groups, also
    * l66's contract over the loop's union corpus. */
  val qualityKeepBestSql: String =
    s"""WITH RECURSIVE ${lshVerifyCtes("documents")},
      |pairs AS (${jaccardAbove("inter", 0.8)}),
      |${closureCtes("da", "db", label = Some("comp"))},
      |q AS (SELECT doc_id,
      |    round(1.0 / (1.0 + exp(-(-1.5
      |      + 3.0 * (CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
      |          x -> list_contains(['the','a','and','of','to','in'], x))) AS DOUBLE)
      |        / NULLIF(len(regexp_extract_all(text, '\\S+')), 0))
      |      - 8.0 * (CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
      |        / NULLIF(length(text), 0))
      |      - 2.0 * (CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
      |        / NULLIF(length(text), 0))
      |      + 0.35 * ln(1.0 + len(regexp_extract_all(text, '\\S+')))))), 6) AS q_score
      |  FROM documents),
      |best AS (SELECT rep, doc_id AS keep_id FROM (
      |    SELECT c.rep, q.doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.rep
      |        ORDER BY q.q_score DESC NULLS LAST, q.doc_id) AS rk
      |    FROM comp c JOIN q ON q.doc_id = c.id) WHERE rk = 1)
      |SELECT dd.doc_id, COALESCE(b.keep_id, dd.doc_id) AS keep_id,
      |  CAST(dd.doc_id = COALESCE(b.keep_id, dd.doc_id) AS INT) AS kept
      |FROM documents dd
      |LEFT JOIN comp ON comp.id = dd.doc_id
      |LEFT JOIN best b ON b.rep = comp.rep
      |ORDER BY dd.doc_id""".stripMargin
}
