package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Numeric determinism: elements are cast to double BEFORE multiplying
  * (float→double is exact, double ops are IEEE-identical everywhere);
  * `aggregate` folds sequentially so Spark's result is order-stable.
  * A DuckDB oracle sums in its own order — both are rounded to 6 d.p.,
  * where a ~1e-15 cross-order discrepancy cannot flip the digit.
  *
  * Scale design: brute-force is the correctness baseline (fine when the
  * query side is small and broadcast). The LSH-bucketed variant
  * (`lshTopK`) is the 100 TB path: random-hyperplane signatures put
  * near vectors in shared buckets, so the candidate join shuffles on the
  * bucket key instead of crossing query × corpus.
  */
object Similarity extends Serializable {

  /** Dot product of two Array[Float] columns in double: a native
    * codegen'd Catalyst expression (graft.functions.FloatVecDot) —
    * semantically identical to the sequential
    * aggregate(zip_with(cast-to-double multiply)) fold, ~20× faster. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  /** Corpus with precomputed squared norms (computed once, reused by
    * every probe — at scale this is a materialized column). */
  def withNorm(df: DataFrame, vec: String): DataFrame =
    df.withColumn("nrm", norm2(col(vec)))

  /** Brute-force cosine top-k: each query row against the full corpus.
    * `queries` is expected to be small → broadcast, so the plan is one
    * corpus scan with no shuffle until the per-query top-k aggregation. */
  /** Cosine of two pre-normed sides, with the zero-norm guard the whole
    * scoring family shares: a zero vector (failed-encoder sentinel)
    * defines cosine 0 to everything. Raw 0/0 would be NaN, and Spark
    * orders NaN ABOVE every value — unguarded, a zero vector becomes
    * the rank-1 "neighbor" of every bucket-mate and passes every
    * threshold. Same discipline as nearestCentroidIds/semDedup. */
  private[operators] def guardedCos(va: Column, vb: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(round(dot(va, vb) / sqrt(na * nb), 6))

  def cosineTopK(queries: DataFrame, corpus: DataFrame, id: String, vec: String,
                 k: Int): DataFrame = {
    val q = withNorm(queries, vec)
      .select(col(id).as("qid"), col(vec).as("qv"), col("nrm").as("qn"))
    val c = withNorm(corpus, vec)
      .select(col(id).as("cid"), col(vec).as("cv"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        guardedCos(col("qv"), col("cv"), col("qn"), col("cn")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rk"))
  }

  /** All pairs with cosine above `threshold` (embedding near-dup dedup):
    * an engine-managed broadcast self-join — no driver collect in the
    * data path (the old hand-rolled collect-and-broadcast made DRIVER
    * memory the scaling bound; here the driver only coordinates). Note
    * the explicit broadcast() hint bypasses autoBroadcastJoinThreshold:
    * the enforced ceiling is Spark's hard broadcast cap (8 GB /
    * executor memory), so the applicable regime is "one side fits an
    * executor", same as any broadcast build side. The da<db inequality
    * + codegen'd FloatVecDot scoring + threshold filter run inside one
    * whole-stage-codegen loop, emitting only passing pairs. Beyond the
    * broadcast regime, lshTopK buckets are the scale path.
    *
    * The raw pre-filter at threshold - 1e-6 (one rounding ulp at scale
    * 6) keeps Round's BigDecimal allocation off the all-pairs hot path;
    * survivors are then rounded and exactly compared, so the output is
    * identical to filtering on the rounded value directly. */
  def cosinePairs(df: DataFrame, id: String, vec: String, threshold: Double): DataFrame = {
    val e = withNorm(df, vec)
    // small corpora arrive in 1-2 parquet partitions; the stream side of
    // the broadcast join carries the O(n²/2) scoring loop, so spread it
    // across the cluster before the join or one task does all the work
    val a = e.select(col(id).as("da"), col(vec).as("va"), col("nrm").as("na"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val b = e.select(col(id).as("db"), col(vec).as("vb"), col("nrm").as("nb"))
    // zero-norm guard INSIDE the prefilter too: raw NaN > threshold is
    // true in Spark, so an unguarded zero vector would pair with every
    // row of the broadcast side
    val raw = when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
      .otherwise(dot(col("va"), col("vb")) / sqrt(col("na") * col("nb")))
    a.join(broadcast(b), col("da") < col("db") && raw > threshold - 1e-6)
      .select(col("da"), col("db"), round(raw, 6).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** LSH-bucketed cosine pairs above `threshold` — the 100 TB form of
    * `cosinePairs` (which needs one side broadcastable): candidates come
    * from the multi-table (table, sig) bucket equi-join, scoring touches
    * bucket-mates only, and the da<db inequality + threshold filter run
    * inside the joined stage. Precision is exact (survivors are exactly
    * scored); recall < 1 by construction, raised by nTables / lowered
    * nPlanes — same knobs as lshTopK, pinned by the recall spec. */
  def lshCosinePairs(df: DataFrame, id: String, vec: String, dim: Int,
                     nPlanes: Int, nTables: Int, threshold: Double): DataFrame = {
    val e = withNorm(df, vec)
    val sigs = array((0 until nTables).map(t =>
      graft.functions.LshFunctions.lshSignature(col(vec), dim, nPlanes, t)): _*)
    // the bucket self-join carries IDs ONLY: a true near-dup pair
    // collides in most of the nTables tables, so deduping to distinct
    // (da, db) BEFORE scoring runs FloatVecDot once per pair instead of
    // up to nTables times — and the 64-float vectors never ride the
    // (tbl, sig) shuffle at all (they join back by id afterwards)
    val sig = df.select(col(id), posexplode(sigs).as(Seq("tbl", "sig")))
    val cand = sig.select(col(id).as("da"), col("tbl"), col("sig"))
      .join(sig.select(col(id).as("db"), col("tbl"), col("sig")), Seq("tbl", "sig"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
      .dropDuplicates("da", "db")
    cand
      .join(e.select(col(id).as("da"), col(vec).as("va"), col("nrm").as("na")), "da")
      .join(e.select(col(id).as("db"), col(vec).as("vb"), col("nrm").as("nb")), "db")
      .select(col("da"), col("db"),
        guardedCos(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Element-wise L2 normalization of an Array[Float] column (unit
    * vectors make cosine a plain dot product — normalize once at
    * ingest, save the per-pair sqrt at query time). Zero-norm vectors
    * pass through unchanged (no NaN poisoning downstream). */
  def l2Normalize(vec: Column): Column = {
    val nrm = sqrt(norm2(vec))
    when(nrm === 0.0, vec).otherwise(
      transform(vec, x => (x.cast("double") / nrm).cast("float")))
  }

  /** Per-group mean embedding (pooling — e.g. chunk embeddings → one
    * document vector, or per-label prototypes). Per-dimension sums run
    * in DECIMAL (exact, associative), so the pooled vectors are
    * IDENTICAL under any partitioning/layout — a double sum would
    * drift with partial-agg order, making pooled corpora
    * non-reproducible across cluster layouts. One posexplode +
    * groupBy(group, dim) shuffle, |groups| × dim aggregate rows out. */
  def meanPool(df: DataFrame, group: String, vec: String): DataFrame = {
    val decSum = org.apache.spark.sql.types.DecimalType(38, 20)
    // float → DOUBLE → decimal: a direct float→decimal cast goes
    // through Float.toString's SHORTEST representation (0.1f becomes
    // decimal 0.1 exactly — off by ~1.5e-9 relative from the float's
    // true binary value), which no other engine reproduces; the double
    // hop yields the double's shortest-roundtrip decimal (BigDecimal
    // .valueOf), which uniquely identifies the binary value. Cross-
    // engine contract: an oracle must convert through the SAME
    // shortest-roundtrip string (l39's CAST(double AS VARCHAR) hop) —
    // a direct double→decimal cast in another engine runs double
    // arithmetic whose scale-20 tail differs ~1e-18/element, enough to
    // flip a mean that lands on a float rounding midpoint.
    df.select(col(group).as("grp"), posexplode(col(vec)).as(Seq("d", "x")))
      .groupBy(col("grp"), col("d"))
      .agg(sum(col("x").cast("double").cast(decSum)).as("s"), count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("d"),
            (col("s").cast("double") / col("n")).as("m")))),
          e => e.getField("m").cast("float")).as("centroid"),
        max(col("n")).as("n_vecs"))
  }

  /** Per-dimension corpus statistics of an embedding column — the
    * embedding-drift / normalization-audit probe (mean far from 0 or
    * per-dim std collapsing are the standard symptoms of a broken
    * encoder run). One posexplode + one groupBy(dim) shuffle; the
    * aggregate output is |dim| rows no matter the corpus size. Mean and
    * std round to 6 d.p. — float→double casts are exact and x*x of a
    * 24-bit-mantissa float is exactly representable in double, so the
    * only cross-engine noise is double-sum ordering (~1e-13 relative),
    * which the rounding absorbs (cosine-family discipline). */
  def dimStats(df: DataFrame, vec: String): DataFrame =
    df.select(posexplode(col(vec)).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("mn"),
        max(col("x")).as("mx"),
        sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("s2"))
      .select(col("dim"), col("n"), col("mn"), col("mx"),
        round(col("s") / col("n"), 6).as("mean"),
        round(sqrt(greatest(
          col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n")),
          lit(0.0))), 6).as("std"))

  /** Sequential double fold — bit-identical to FloatVecDot's loop. */
  private def dotOf(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  private def normOf(a: Array[Float]): Double = dotOf(a, a)

  /** Spark's Round(double, 6) semantics: BigDecimal.valueOf + HALF_UP. */
  private def roundHalfUp6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Deterministic Lloyd k-means over an embedding column — the real
    * coarse quantizer for IVF (ivfTopK's default prefix-of-ids init is
    * the reproducibility baseline; this trains actual centroids).
    *
    * Engine-determinism at every step:
    *  - init: the `k` lowest-id vectors (no RNG);
    *  - assignment: cosines rounded to 6 d.p. before the argmax (ties →
    *    lower centroid index), so a ~1e-15 summation-order difference
    *    can never flip an assignment;
    *  - update: per-dimension sums in DECIMAL (exact, associative —
    *    layout-independent under any partial-agg order), mean divided
    *    driver-side. The per-iteration collect is k × dim decimal sums
    *    (bounded, ~KBs), never the corpus.
    * Each iteration is one posexplode + groupBy(centroid, dim) shuffle
    * over |corpus| × dim rows — the same shape at any scale.
    *
    * Returns the trained centroids (k × dim floats). */
  def kmeans(df: DataFrame, id: String, vec: String, k: Int, iters: Int): Array[Array[Float]] = {
    val spark = df.sparkSession
    import spark.implicits._
    // scale 20 leaves 18 integer digits of headroom (|sum| < 1e18) —
    // scale 28's 10 digits could overflow-to-null on huge clusters of
    // large-magnitude embeddings; 20 decimal places still dominate
    // float's ~9 significant digits, so means stay exact-enough AND
    // layout-independent (the property that matters)
    val decSum = org.apache.spark.sql.types.DecimalType(38, 20)
    val ds = df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    var cents: Array[Array[Float]] =
      ds.sort(ds.columns.head).limit(k).collect().map(_._2)
    require(cents.nonEmpty, "kmeans requires a non-empty corpus")
    var it = 0
    while (it < iters) {
      val assignment = nearestCentroidCol(col(vec), cents)
      val sums = df.select(assignment.as("c"),
          posexplode(col(vec)).as(Seq("d", "x")))
        .groupBy(col("c"), col("d"))
        .agg(sum(col("x").cast(decSum)).as("s"), count(lit(1)).as("n"))
        .as[(Int, Int, java.math.BigDecimal, Long)]
        .collect()
      val next = cents.map(_.clone())
      sums.groupBy(_._1).foreach { case (c, dims) =>
        dims.foreach { case (_, d, s, n) =>
          // s is null only on decimal overflow (non-ANSI mode) — keep
          // the previous component rather than NPE mid-iteration
          if (s != null)
            next(c)(d) = s.divide(java.math.BigDecimal.valueOf(n),
              java.math.MathContext.DECIMAL64).floatValue()
        }
      } // clusters with no members keep their previous centroid
      cents = next
      it += 1
    }
    cents
  }

  /** Nearest-centroid index of a vector column against literal centroids
    * (codegen'd: one FloatVecDot per centroid, 6-d.p.-rounded cosines,
    * argmax with lower-index tie-break via lexicographic struct min). */
  private def nearestCentroidCol(vec: Column, cents: Array[Array[Float]]): Column = {
    val vn = sqrt(norm2(vec))
    val scored = cents.zipWithIndex.map { case (cv, i) =>
      val cl = typedLit(cv)
      val cn = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      struct((-round(dot(vec, cl) / (vn * lit(cn)), 6)).as("neg"), lit(i).as("ci"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("ci")
  }

  /** IVF-style ANN: coarse quantizer + inverted lists.
    *
    * Centroids are a deterministic subset (the `nCentroids` lowest ids —
    * the reproducibility baseline; pass `kmeansIters > 0` to train the
    * quantizer with the deterministic Lloyd iterations above, same
    * downstream plan). Every vector is assigned to its nearest centroid
    * (one broadcast argmax pass — no shuffle); queries probe the
    * `nProbe` nearest centroid lists and score only those buckets via an
    * equi-join on the centroid id. Recall < 1 by construction; raise
    * nProbe to trade compute for recall. This is the second scale path
    * next to lshTopK: probe cost ~ nProbe/nCentroids of the corpus. */
  /** The coarse quantizer shared by ivfTopK and semDedup: centroids are
    * the `n` lowest-id vectors (reproducibility baseline) or trained by
    * the deterministic Lloyd iterations. Returns (id, vector, norm). */
  private def coarseCentroids(df: DataFrame, id: String, vec: String,
                              n: Int, kmeansIters: Int): Array[(Long, Array[Float], Double)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    val cents =
      if (kmeansIters > 0)
        kmeans(df, id, vec, n, kmeansIters).zipWithIndex
          .map { case (v, i) => (i.toLong, v, math.sqrt(normOf(v))) }
      else ds.sort(ds.columns.head).limit(n).collect()
        .map { case (i, v) => (i, v, math.sqrt(normOf(v))) }
    require(cents.nonEmpty, "coarse quantizer requires a non-empty corpus")
    cents
  }

  /** Ids of the `n` nearest centroids. Assignment cosines round to 6
    * d.p. BEFORE the argmax (ties → lower centroid id): raw doubles
    * would let a ~1e-15 summation-order difference flip an assignment
    * between engines, making the whole query unverifiable. Zero-norm
    * vectors (padding/missing-embedding sentinels) define cosine 0 to
    * every centroid — raw NaN would throw in the BigDecimal rounding
    * and kill the job on one degenerate row. */
  private def nearestCentroidIds(cents: Array[(Long, Array[Float], Double)],
                                 v: Array[Float], n: Int): Seq[Long] = {
    val nv = math.sqrt(normOf(v))
    cents.map { case (ci, cv, cn) =>
      val cos = if (nv == 0.0 || cn == 0.0) 0.0 else roundHalfUp6(dotOf(v, cv) / (nv * cn))
      (ci, cos)
    }
      .sortBy { case (ci, cos) => (-cos, ci) }.take(n).map(_._1).toSeq
  }

  def ivfTopK(df: DataFrame, id: String, vec: String,
              nCentroids: Int, nProbe: Int, k: Int,
              kmeansIters: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(
      coarseCentroids(df, id, vec, nCentroids, kmeansIters))

    def nearestCentroids(v: Array[Float], n: Int): Seq[Long] =
      nearestCentroidIds(bc.value, v, n)

    // inverted lists: every vector under its single nearest centroid
    val buckets = ds.map { case (i, v) => (nearestCentroids(v, 1).head, i, v) }
      .toDF("bucket", "cid", "cv")
    // probes: every vector fans out to its nProbe nearest lists
    val probes = ds.flatMap { case (i, v) => nearestCentroids(v, nProbe).map(b => (b, i, v)) }
      .toDF("bucket", "qid", "qv")

    val scored = probes.join(buckets, "bucket")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        guardedCos(col("qv"), col("cv"), norm2(col("qv")), norm2(col("cv"))).as("cos"))
      .dropDuplicates("qid", "cid") // a pair may meet in several probed lists
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF building blocks exposed for composition (IVF-PQ: route with
    * the coarse quantizer, score with `Quantize.pqAdcTopK`): every
    * vector under its single nearest centroid — same assignment
    * discipline as `ivfTopK` (6-d.p. cosine, ties to lower cid,
    * zero-norm guarded). */
  def ivfLists(df: DataFrame, id: String, vec: String, nCentroids: Int,
               kmeansIters: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(
      coarseCentroids(df, id, vec, nCentroids, kmeansIters))
    ds.map { case (i, v) => (i, nearestCentroidIds(bc.value, v, 1).head) }
      .toDF(id, "bucket")
  }

  /** The `nProbe` nearest list ids of ONE probe vector — a 1-column
    * broadcast-sized routing frame for IVF-composed scorers. */
  def ivfProbeLists(df: DataFrame, id: String, vec: String, nCentroids: Int,
                    nProbe: Int, probeId: Long, kmeansIters: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probe = df.filter(col(id) === probeId)
      .select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(
      coarseCentroids(df, id, vec, nCentroids, kmeansIters))
    probe.flatMap { case (_, v) => nearestCentroidIds(bc.value, v, nProbe) }
      .toDF("bucket")
  }

  /** The coarse quantizer's centroids as a PERSISTABLE frame (cid,
    * cvec) — what an ingest cycle writes next to the inverted lists so
    * serve-time routing never touches the corpus again. Float arrays
    * round-trip parquet bit-exactly, so routing from the loaded frame
    * is identical to routing from a rebuild. */
  def coarseCentroidFrame(df: DataFrame, id: String, vec: String,
                          nCentroids: Int, kmeansIters: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    coarseCentroids(df, id, vec, nCentroids, kmeansIters)
      .map { case (ci, v, _) => (ci, v) }.toSeq
      .toDF("cid", "cvec")
  }

  /** A persisted (cid, cvec) centroid frame collected back to the
    * driver with norms recomputed — nCentroids×dim floats, bounded. */
  private def centroidArray(centroids: DataFrame): Array[(Long, Array[Float], Double)] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    val cents = centroids.select(col("cid").cast("long"), col("cvec"))
      .as[(Long, Array[Float])].collect()
      .map { case (c, v) => (c, v, math.sqrt(normOf(v))) }
    require(cents.nonEmpty, "empty centroid frame")
    cents
  }

  /** Serve-time twin of `ivfProbeLists`: the `nProbe` nearest list ids
    * per probe row, routed against a LOADED centroid frame. Same
    * 6-d.p. cosine / lower-cid tie discipline as assignment. */
  def ivfProbeListsFrom(centroids: DataFrame, probes: DataFrame,
                        id: String, vec: String, nProbe: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroidArray(centroids))
    probes.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .flatMap { case (_, v) => nearestCentroidIds(bc.value, v, nProbe) }
      .toDF("bucket")
  }

  /** Per-probe routing for BATCH serving: (qid, bucket) rows — each
    * probe's `nProbe` nearest lists, against a LOADED centroid frame.
    * |probes|×nProbe rows: broadcast-sized for any sane request batch. */
  def ivfProbeBucketsFrom(centroids: DataFrame, probes: DataFrame,
                          id: String, vec: String, nProbe: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroidArray(centroids))
    probes.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
      .flatMap { case (q, v) => nearestCentroidIds(bc.value, v, nProbe).map(b => (q, b)) }
      .toDF("qid", "bucket")
  }

  /** `ivfListsFrom` with a group label threaded through the typed map —
    * the audit shape: per-ingest list occupancy without re-joining the
    * corpus on the id afterwards (at scale that join is a shuffle the
    * tag column avoids for free). */
  def ivfListsFromTagged(centroids: DataFrame, df: DataFrame, tag: String,
                         id: String, vec: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroidArray(centroids))
    df.select(col(tag), col(id).cast("long"), col(vec))
      .as[(String, Long, Array[Float])]
      .map { case (t, i, v) => (t, i, nearestCentroidIds(bc.value, v, 1).head) }
      .toDF(tag, id, "bucket")
  }

  /** Ingest-time twin of `ivfLists` for index APPENDS: assign vectors
    * to their nearest list against a LOADED centroid frame — identical
    * assignment to a rebuild as long as the centroids are held fixed
    * (the per-ingest-cycle contract). Delegates to the tagged form so
    * the assignment discipline (cast, tie rules, 6-d.p. cosine) has
    * exactly one copy. */
  def ivfListsFrom(centroids: DataFrame, df: DataFrame,
                   id: String, vec: String): DataFrame =
    ivfListsFromTagged(centroids, df.withColumn("_tag", lit("")), "_tag", id, vec)
      .drop("_tag")

  /** SemDedup (semantic dedup over embeddings): cluster with the coarse
    * quantizer, then inside each cluster drop every vector that has a
    * LOWER-ID neighbor with cosine >= threshold — the keep-the-first
    * representative rule, deterministic and order-free (no sequential
    * greedy scan, so it parallelizes; it drops slightly more than a
    * greedy chain would when A~B, B~C but A!~C, which is the
    * conservative direction for dedup). Returns per-vector
    * (id, cluster, max_lower_cos, dropped) — callers filter !dropped.
    *
    * Scale shape: assignment is one broadcast argmax pass (no shuffle);
    * the pairwise scoring is confined to cluster-mates via the cluster
    * equi-join, so the quadratic term is per-cluster, controlled by
    * nCentroids (~sqrt(N) centroids keeps clusters bounded). This is
    * exactly the published SemDedup cost model — cosine work shrinks by
    * the cluster count vs. all-pairs. */
  def semDedup(df: DataFrame, id: String, vec: String, nCentroids: Int,
               threshold: Double, kmeansIters: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
    val bc = spark.sparkContext.broadcast(
      coarseCentroids(df, id, vec, nCentroids, kmeansIters))
    val assigned = ds.map { case (i, v) =>
      (nearestCentroidIds(bc.value, v, 1).head, i, v)
    }.toDF("cluster", "vid", "v")
      .withColumn("nrm", norm2(col("v")))
    val a = assigned.select(col("cluster"), col("vid").as("da"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cluster"), col("vid").as("db"),
      col("v").as("vb"), col("nrm").as("nb"))
    // guardedCos: an unguarded zero-norm row would score NaN, and
    // NaN >= threshold is true in Spark — sentinel rows would silently
    // drop whenever any lower-id cluster-mate exists
    val mx = a.join(b, Seq("cluster")).filter(col("da") < col("db"))
      .select(col("db"), guardedCos(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
      .groupBy(col("db")).agg(max(col("cos")).as("max_lower_cos"))
    assigned.join(mx, assigned("vid") === mx("db"), "left")
      .select(col("vid").as(id), col("cluster"), col("max_lower_cos"),
        coalesce(col("max_lower_cos") >= threshold, lit(false)).as("dropped"))
  }

  /** Random-hyperplane LSH bucket key: sign bits of dot(v, h_i) for
    * deterministic pseudo-hyperplanes derived from md5(i || dim) — no
    * RNG, so signatures are reproducible across runs and engines. The
    * projection is rounded to 6 d.p. before the sign test, so the
    * BUCKETING itself is engine-reproducible (a ~1e-15 summation-order
    * difference cannot flip a bit) — same discipline as ivfTopK's
    * assignment argmax.
    *
    * The plane values depend only on (plane, dim) indices, so they are
    * constant-folded driver-side and the signature evaluates as ONE
    * codegen'd primitive loop (graft.functions.LshSignature), pinned
    * bit-for-bit in DedupSimilaritySpec against the column-level HOF
    * formulation it replaced. */
  def lshSignature(vec: Column, dim: Int, nPlanes: Int): Column =
    graft.functions.LshFunctions.lshSignature(vec, dim, nPlanes)

  /** ANN via LSH buckets: candidates share a signature; score only within
    * bucket. Recall < 1 by construction; the knobs (pinned by the
    * recall-floor spec in DedupSimilaritySpec) are `nPlanes` (fewer
    * planes → bigger buckets → more recall, more scoring) and `nTables`
    * (independent plane sets whose candidate union raises recall
    * multiplicatively at linear cost). Every table is still a bucket
    * equi-join — the multi-table union stays the 100 TB shape. nTables=1
    * keeps the exact single-table plan the l20 oracle verifies. */
  def lshTopK(df: DataFrame, id: String, vec: String, dim: Int,
              nPlanes: Int, k: Int, nTables: Int = 1): DataFrame = {
    require(nTables >= 1, "lshTopK requires at least one signature table")
    val e = withNorm(df, vec)
    val scored =
      if (nTables == 1) {
        val sig = e.withColumn("sig", graft.functions.LshFunctions.lshSignature(col(vec), dim, nPlanes, 0))
        val a = sig.select(col(id).as("qid"), col(vec).as("va"), col("nrm").as("na"), col("sig"))
        val b = sig.select(col(id).as("cid"), col(vec).as("vb"), col("nrm").as("nb"), col("sig"))
        a.join(b, Seq("sig")).filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            guardedCos(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
      } else {
        // all tables in ONE bucket join: posexplode the per-table
        // signatures so (table, sig) is the bucket key — one shuffle
        // for every table instead of nTables separate self-joins. The
        // bucket join carries IDs only; a pair meeting in several
        // tables reduces to ONE candidate row BEFORE the scoring pass
        // (same dedup-then-score discipline as lshCosinePairs — near
        // pairs collide in most tables, so scoring pre-dedup would
        // repeat FloatVecDot and shuffle the vectors up to nTables×).
        val sigs = array((0 until nTables).map(t =>
          graft.functions.LshFunctions.lshSignature(col(vec), dim, nPlanes, t)): _*)
        val sig = df.select(col(id), posexplode(sigs).as(Seq("tbl", "sig")))
        val cand = sig.select(col(id).as("qid"), col("tbl"), col("sig"))
          .join(sig.select(col(id).as("cid"), col("tbl"), col("sig")), Seq("tbl", "sig"))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"))
          .dropDuplicates("qid", "cid")
        cand
          .join(e.select(col(id).as("qid"), col(vec).as("va"), col("nrm").as("na")), "qid")
          .join(e.select(col(id).as("cid"), col(vec).as("vb"), col("nrm").as("nb")), "cid")
          .select(col("qid"), col("cid"),
            guardedCos(col("va"), col("vb"), col("na"), col("nb")).as("cos"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
