package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistics document ranking: TF-IDF and BM25 (Robertson/
  * Spärck Jones) over the tokenized documents table — the retrieval
  * primitive behind RAG corpus curation, query-based subset selection
  * ("give me the docs about X for targeted eval"), and classic search.
  *
  * Scale design: term frequencies for the QUERY TERMS ONLY are computed
  * by one explode + filter + groupBy(doc, term) — the filter on the
  * (tiny) term set prunes the exploded stream before the shuffle, so
  * the shuffle carries O(matching tokens), not the corpus token count.
  * Document frequency and corpus stats (N, avgdl) are |terms|-row and
  * 1-row aggregates that broadcast back; the corpus is never joined
  * against itself.
  *
  * Cross-engine determinism: tf/df/dl are exact integers; avgdl is an
  * exact integer sum over a double division (identical IEEE result in
  * any engine); ln/pow are libm calls that agree to <=1 ulp and every
  * final score is rounded to 6 d.p. — the same discipline as the
  * cosine family (a 1-ulp input wiggle cannot flip the 6th decimal
  * except on a measure-zero boundary).
  */
object Ranking {

  /** Per-document n-gram NOVELTY: the fraction of a document's
    * DISTINCT n-shingles that occur in no other document — the inverse
    * boilerplate/memorization signal (template pages and syndicated
    * text score near 0, original prose near 1), a standard curation
    * feature next to the quality ratios.
    *
    * Scale shape — built for the skew this metric is ABOUT: hot
    * boilerplate shingles (the thing novelty detects) would pile onto
    * one reducer under any partition-by-shingle window, so nothing
    * here windows or joins on the raw shingle. Only df == 1 matters,
    * and both sides of that are skew-robust: per-shingle doc counts
    * are a groupBy with map-side combine (a billion-doc shingle
    * arrives at its reducer as a handful of partial counts), and the
    * df == 1 survivors carry each shingle's single owning doc id, so
    * the per-doc count over them is another map-side-combined
    * aggregate whose reducer load is bounded by a document's own
    * unique-shingle count (its length), never by corpus-wide fan-in.
    * The shingle frame feeds BOTH aggregations: stage it via the
    * `FromShingles` form (persist, or reuse the dedup pipeline's
    * frame) so the explode+distinct pass runs once. No pairwise work;
    * exact integer counts; one final double division. Shingle-free
    * documents (< n tokens) surface with zero shingles and novelty 0,
    * not dropped rows. */
  def ngramNovelty(docs: DataFrame, id: String, text: String,
                   n: Int): DataFrame =
    ngramNoveltyFromShingles(docs, Dedup.shingleSet(docs, id, text, n), id)

  /** `ngramNovelty` over an ALREADY-PREPARED distinct shingle frame
    * (id, s) — the form callers use to stage the tokenize→explode→
    * distinct pass ONCE (persist it, or reuse the dedup pipeline's
    * existing shingle frame) instead of recomputing it under each of
    * the two aggregations. */
  def ngramNoveltyFromShingles(docs: DataFrame, sh: DataFrame,
                               id: String): DataFrame = {
    val totals = sh.groupBy(col(id)).agg(count(lit(1)).as("n_shingles"))
    val uniq = sh.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), min(col(id)).as(id))
      .filter(col("df") === 1)
      .groupBy(col(id)).agg(count(lit(1)).as("n_unique"))
    // both left-join null paths (no unique shingles; no shingles at
    // all) resolve in the ONE outer coalesce below
    val agg = totals.join(uniq, Seq(id), "left")
    docs.select(col(id))
      .join(agg, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(col("n_unique").cast("double") / col("n_shingles")))
  }

  /** Per-(doc, term) TF-IDF scores for `terms`, with
    * idf = ln((N+1)/(df+1)) + 1 (smoothed, always positive).
    * Returns (id, term, tf, df, tfidf). */
  def tfIdf(docs: DataFrame, id: String, text: String,
            terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "tfIdf requires at least one term")
    val tf = termFrequencies(docs, id, text, terms)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(n))
      .select(col(id), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6)
          .as("tfidf"))
  }

  /** BM25 document scores against `terms` (k1, b are the standard
    * Okapi knobs). Only documents matching at least one term appear;
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (always-positive variant).
    * Returns (id, n_matched, bm25). */
  def bm25(docs: DataFrame, id: String, text: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 requires at least one term")
    val tf = termFrequencies(docs, id, text, terms)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // dl sums exactly (integer-valued doubles are associative), so
    // avgdl is bit-identical under any partial-agg order
    val dl = docs.select(col(id),
      TextFunctions.tokenCount(col(text)).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfD = col("tf").cast("double")
    // operation order is the oracle contract:
    // idf * (tf * (k1+1)) / (tf + k1 * ((1-b) + (b*dl)/avgdl))
    val score = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(dl, id)
      .join(broadcast(dfT), "term")
      .crossJoin(broadcast(stats))
      .select(col(id), score.as("s"))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_matched"),
        round(sum(col("s")), 6).as("bm25"))
  }

  /** One row per (doc, query-term) with its exact term frequency; the
    * isin prune runs BEFORE the shuffle, map-side. */
  private def termFrequencies(docs: DataFrame, id: String, text: String,
                              terms: Seq[String]): DataFrame =
    docs.select(col(id), explode(TextFunctions.tokens(col(text))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
}
