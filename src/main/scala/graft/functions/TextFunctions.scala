package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for large-scale training-data pipelines.
  *
  * All are compositions of codegen'd Spark built-ins (no UDFs), so they
  * stay inside WholeStageCodegen and push work to the executors — the
  * per-document cost is what matters when the documents table is 100 TB.
  *
  * The reference has no scalar function surface at all (SURVEY.md §2.5);
  * these extend it per the north-star LLM-pipeline requirements.
  */
object TextFunctions {
  /** Tokens = maximal non-whitespace runs. Avoids split()'s empty-string
    * artifacts on leading/trailing whitespace. */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** Counting features use regexp_count — one codegen'd scan of the
    * string, no match-array materialization. size(regexp_extract_all)
    * builds the full array of matches per row just to take its length;
    * at 100 TB of documents that allocation IS the job. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish subword pre-tokenization count: letter runs, digit runs,
    * and single non-alphanumeric marks each count as one token — the
    * standard byte-pair pre-split shape, engine-portable as a regex. */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(bpeTokenPattern))

  /** Count of punctuation chars (fixed class, engine-portable). */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[.,!?;:]"))

  /** Cleaning / PII-redaction family: codegen'd regexp_replace
    * compositions in the Java∩RE2 regex subset (no lookaround). The
    * hash-verified l26 contract is BYTE-exact cross-engine, so the
    * patterns avoid `\s`/`\S` entirely: Java's `\s` includes vertical
    * tab (\x0B), RE2's does not — one \x0B in a document would clean
    * differently per engine. Explicit character classes pin the exact
    * same set in both. Standard curation steps between raw crawl text
    * and quality scoring. */
  private val wsClass = "[ \\t\\n\\x0B\\f\\r]"
  private val nonWsClass = "[^ \\t\\n\\x0B\\f\\r]"
  val urlPattern = s"https?://$nonWsClass+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** URLs replaced with a space (a URL glues phrases; deleting it
    * outright would fuse its neighbors into one fake token). */
  def stripUrls(text: Column): Column =
    regexp_replace(text, lit(urlPattern), lit(" "))

  /** Email addresses → a stable placeholder (redaction preserves
    * sentence shape for downstream token statistics). */
  def redactEmails(text: Column): Column =
    regexp_replace(text, lit(emailPattern), lit("<EMAIL>"))

  /** Typed-PII passes beyond the email one: IPv4-shaped dotted quads
    * and phone-shaped digit runs, each to its own placeholder. The
    * phone class deliberately has NO dot, so an IPv4 octet can never be
    * half-eaten as a phone — with the fixed email → IP → phone order
    * the three passes are non-overlapping by construction. Both
    * patterns are linear (no alternation under a quantifier), so Java's
    * leftmost-first-greedy and RE2's leftmost-longest pick the same
    * match — the byte-exact cross-engine requirement. Regex scrubbing
    * has inherent false positives (any long digit-dash run reads as a
    * phone, 999.0.0.1 reads as an IP); that is the production
    * trade-off this models, not a defect to engineer away. */
  val ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val phonePattern = "\\+?[0-9][0-9() -]{5,14}[0-9]"
  def redactIps(text: Column): Column =
    regexp_replace(text, lit(ipv4Pattern), lit("<IP>"))
  def redactPhones(text: Column): Column =
    regexp_replace(text, lit(phonePattern), lit("<PHONE>"))

  /** Whitespace runs collapsed to single spaces, ends trimmed (trim
    * removes spaces only — by then every whitespace run IS a space). */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, lit(wsClass + "+"), lit(" ")))

  /** The standard composition: strip URLs → redact emails → normalize
    * whitespace. Idempotent (clean(clean(x)) == clean(x)). */
  def cleanText(text: Column): Column =
    normalizeWhitespace(redactEmails(stripUrls(text)))

  /** HTML → text for web-corpus curation: script/style blocks vanish
    * entirely (their content is code, not prose), remaining tags
    * vanish, the six standard entities decode AFTER tag removal (so a
    * literal `&lt;tag&gt;` in prose survives as text), whitespace
    * normalizes. Regexes stay in the Java∩RE2-portable subset like the
    * rest of this file — inline (?is) flags, non-greedy block bodies,
    * explicit char classes, and NO lookarounds (RE2 has none) — so a
    * DuckDB oracle reproduces the bytes.
    *
    * Tag shape is anchored: a tag is `<` or `</` followed by a LETTER
    * (`<(script|style)` additionally requires `>` or whitespace right
    * after the name), so comparison prose like "5 < 10 and x > 3"
    * survives and `<styles>`/`<script-loader>` are NOT treated as
    * script/style blocks. Malformed markup where prose genuinely looks
    * like `<a word>` still strips — the inherent regex-extractor limit;
    * a full parser is out of scope by design. */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      lit("(?is)<(script|style)(>|" + wsClass + "[^>]*>).*?</(script|style)" +
        wsClass + "*>"), lit(" "))
    val noTags = regexp_replace(noBlocks, lit("</?[A-Za-z][^>]*>"), lit(" "))
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) =>
        regexp_replace(c, lit(ent), lit(ch))
      }
    normalizeWhitespace(decoded)
  }

  /** Count of tokens that are exactly one of `words`. Tokens are
    * \S+ runs, so token boundaries are "not adjacent to non-whitespace"
    * ((?<!\S) / (?!\S)) — exactly equivalent to extracting all \S+
    * tokens and testing membership, without materializing the array. */
  private def wordTokenCount(text: Column, words: Seq[String]): Column =
    regexp_count(text, lit(words.mkString("(?<!\\S)(?:", "|", ")(?!\\S)")))

  private val stopEn = Seq("the", "a", "and", "of", "to", "in")

  /** COUNT of (English) stopword tokens; `qualityColumns` divides it by
    * the token count to form the stop_ratio quality feature. */
  def stopwordCount(text: Column): Column = wordTokenCount(text, stopEn)

  /** Composite quality features; ratios are exact IEEE divisions of
    * integer counts → deterministic across engines and parallelism.
    * Zero-length / token-free documents yield null ratios (SQL division
    * semantics via nullif) rather than a job-killing error — real
    * corpora at 100 TB always contain a few empty rows. */
  def qualityColumns(text: Column): Seq[Column] = {
    val nChars = nullif(length(text), lit(0))
    val nToks = nullif(tokenCount(text), lit(0))
    Seq(
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      bpeTokenCount(text).as("n_bpe_tokens"),
      (punctCount(text).cast("double") / nChars).as("punct_ratio"),
      (stopwordCount(text).cast("double") / nToks).as("stop_ratio"),
      (regexp_count(text, lit("[A-Z]")).cast("double") / nChars).as("upper_ratio")
    )
  }

  /** Linear quality classifier with a sigmoid link — the shape of the
    * fastText/logistic quality models every curation pipeline runs
    * (weights here are fixed, documentation-grade stand-ins; a trained
    * model drops in as literals the same way). Features are the
    * qualityColumns ratios plus log-length; everything is codegen'd
    * built-ins, so scoring 100 TB is one map-side pass. Score is
    * rounded to 6 d.p. (exp/ln agree across engines to <=1 ulp —
    * the rounding absorbs it, same discipline as the cosine family).
    * Token-free docs have null ratios → null score (no silent 0). */
  def qualityScore(text: Column): Column = {
    val nChars = nullif(length(text), lit(0))
    val nToks = nullif(tokenCount(text), lit(0))
    val stopRatio = stopwordCount(text).cast("double") / nToks
    val punctRatio = punctCount(text).cast("double") / nChars
    val upperRatio = regexp_count(text, lit("[A-Z]")).cast("double") / nChars
    val z = lit(-1.5) + lit(3.0) * stopRatio - lit(8.0) * punctRatio -
      lit(2.0) * upperRatio + lit(0.35) * log(lit(1.0) + tokenCount(text))
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  /** Language-ID by stopword-list scoring (tiny n-gram-free heuristic;
    * deterministic argmax with fixed priority en>de>fr>es, 'und' if no
    * hits). Real pipelines would swap in fastText-style models via
    * mapPartitions; the relational shape stays identical. Each score is
    * one regexp_count scan — no token-array extraction, no interpreted
    * higher-order filters. */
  def langScores(text: Column): Map[String, Column] = Map(
    "en" -> wordTokenCount(text, Seq("the", "a", "and", "of", "is")),
    "de" -> wordTokenCount(text, Seq("der", "die", "das", "und", "ist")),
    "fr" -> wordTokenCount(text, Seq("le", "la", "et", "les", "est")),
    "es" -> wordTokenCount(text, Seq("el", "los", "y", "las", "es"))
  )

  def langId(text: Column): Column = {
    val s = langScores(text)
    val (en, de, fr, es) = (s("en"), s("de"), s("fr"), s("es"))
    when(en + de + fr + es === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Content fingerprint: md5 (identical output in any engine, unlike
    * engine-private hash functions). */
  def fingerprint(text: Column): Column = md5(text)

  /** Polynomial rolling hash h = fold(h*31 + codepoint) mod 1e9+7 — the
    * classic incremental document fingerprint (cheap to maintain over
    * sliding content windows, unlike md5). Native codegen'd expression,
    * pinned in TextFunctionsSpec against the HOF list fold the DuckDB
    * oracle replicates. */
  def rollingHash(text: Column): Column =
    RollingHashFunctions.rollingHash(text)

  /** Every word n-gram of `text` in position order, as ONE JVM closure
    * per row — replaces the tokens() regexp + filter(size >= n) +
    * HOF shingle transform chain on hot paths: HOF lambdas evaluate
    * INTERPRETED (they never enter whole-stage codegen), so the
    * expression chain paid per-element tree walks plus a full
    * token-array materialization per row (the Multimodal.blockSums
    * precedent, guide §1.2 step 2). Value-identical to that chain under
    * the size(tokens) >= n gate: fewer than n tokens yields an EMPTY
    * array (explode then emits no rows, exactly what the filter
    * produced), null text yields null. Pinned differentially (through
    * `Dedup.textShingles`) against the expression form in
    * DedupSimilaritySpec. */
  def gramArray(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val f = udf((s: String) => textGrams(s, n))
    f(text)
  }

  /** The gramArray closure body (package-private differential anchor).
    * Tokens are maximal runs of chars outside Java regex \s — which is
    * ASCII-only by default (space, \t, \n, \x0B, \f, \r), so Unicode
    * spaces like U+00A0 are token chars and Character.isWhitespace
    * would be WRONG here, not just slower — exactly tokens()'s
    * regexp_extract_all("\\S+") semantics. */
  private[graft] def textGrams(s: String, n: Int): Array[String] = {
    if (s == null) return null
    @inline def ws(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')
    val len = s.length
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < len) {
      if (ws(s.charAt(i))) i += 1
      else {
        val st = i
        while (i < len && !ws(s.charAt(i))) i += 1
        toks += s.substring(st, i)
      }
    }
    val nt = toks.length
    if (nt < n) return Array.empty
    val out = new Array[String](nt - n + 1)
    var k = 0
    while (k <= nt - n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(k + j))
        j += 1
      }
      out(k) = sb.toString
      k += 1
    }
    out
  }

  /** Crawl-URL canonicalization — the normal form URL-level crawl dedup
    * keys on. Applied steps, in order: drop the fragment; lowercase the
    * scheme+authority (path/query case is significant, host case is
    * not); strip a leading `www.`; strip the scheme's default port
    * (`:443` for https, `:80` for http); split at the first `?`, then
    * PATH-only: collapse duplicate slashes and strip the trailing
    * slash; QUERY-only: remove `utm_*` tracking params anchored at a
    * separator (`?utm_...`/`&utm_...` — a param whose NAME merely
    * contains `utm_` mid-token, or a nested-URL VALUE like
    * `?next=page%2Futm_source`, is untouched). Pure composition of
    * codegen'd regexp built-ins in the Java-regex ∩ RE2 subset with no
    * capture-group backreferences (RE2 has no lookbehind, so the
    * first-param case is its own `^\?utm_...&` rewrite instead), so
    * the identical chain replays in any engine.
    *
    * Grammar assumptions, stated: a RAW unencoded `&utm_` inside a
    * param value is indistinguishable from a tracking param and is
    * removed (percent-encoded values are safe); path segments may
    * contain `utm_` or `?`-free `&` freely — the split at the first
    * `?` bounds every query rewrite. Distinct schemes are deliberately
    * NOT unified (http ≠ https — same-origin only after a verified
    * redirect). */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val pfx0 = lower(regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]*", 0))
    val rest0 = noFrag.substr(length(pfx0) + lit(1), length(noFrag))
    val pfx1 = regexp_replace(pfx0, "://www\\.", "://")
    val pfx = when(pfx1.startsWith("https://"), regexp_replace(pfx1, ":443$", ""))
      .when(pfx1.startsWith("http://"), regexp_replace(pfx1, ":80$", ""))
      .otherwise(pfx1)
    val qPos = instr(rest0, "?")
    val path0 = when(qPos > 0, rest0.substr(lit(1), qPos - 1)).otherwise(rest0)
    val qs0 = when(qPos > 0, rest0.substr(qPos, length(rest0) - qPos + 1))
      .otherwise(lit(""))
    val path = regexp_replace(regexp_replace(path0, "/{2,}", "/"), "/$", "")
    // order matters: strip interior `&utm_...` params first (handles a
    // run of them and a trailing one), then a leading `?utm_...&` hands
    // its `?` to the next param, then an all-utm query vanishes whole
    val qs = regexp_replace(regexp_replace(regexp_replace(
      qs0, "&utm_[^&]*", ""), "^\\?utm_[^&]*&", "?"), "^\\?utm_[^&]*$", "")
    concat(pfx, path, qs)
  }
}
