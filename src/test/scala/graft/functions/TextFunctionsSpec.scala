package graft.functions

import graft.TestSpark
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {

  test("cleaning family: urls stripped, emails redacted, whitespace normalized, idempotent") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val raw = Seq(
      "see https://example.com/x?q=1 for details",
      "mail bob.smith+tag@example.co.uk   now",
      "  spaced\t\tout\n\nlines  ",
      "no changes here.")
    val got = raw.toDF("t")
      .select(TextFunctions.cleanText(col("t")).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "see for details",
      "mail <EMAIL> now",
      "spaced out lines",
      "no changes here."))
    // idempotence: cleaning cleaned text is a no-op
    val twice = got.toDF("t")
      .select(TextFunctions.cleanText(col("t")).as("c")).as[String].collect().toSeq
    assert(twice == got)
    // vertical tab (): in Java's \s but NOT RE2's — the explicit
    // classes must treat it as whitespace so both engines agree
    val vt = Seq("ab").toDF("t")
      .select(TextFunctions.cleanText(col("t")).as("c")).as[String].collect()
    assert(vt.toSeq == Seq("a b"))
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rolling hash matches the hand-computed polynomial") {
    // "ab": ((0*31+97)*31+98) % 1e9+7 = 3105 ; includes the space for "a b"
    val got = Seq("ab", "a b").toDF("text")
      .select(TextFunctions.rollingHash(col("text")).as("h"))
      .as[Long].collect()
    assert(got(0) == 3105L)
    assert(got(1) == ((97L * 31 + 32) * 31 + 98) % 1000000007L)
  }

  /** HOF formulation of the rolling hash — the cross-checkable spec of
    * the algorithm (sequential fold, reproducible in any engine with a
    * list fold, and what the DuckDB oracle replicates); the native
    * expression must match it exactly. */
  private def rollingHashRelational(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, c) => (acc * 31 + c) % 1000000007L)

  test("native rolling hash equals the HOF formulation on real docs + edges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .union(Seq("", "a", "multi byte: é € 𝄞").toDF("text"))
    val both = docs.select(
      TextFunctions.rollingHash(col("text")).as("native"),
      rollingHashRelational(col("text")).as("spec")).collect()
    assert(both.length == 503)
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("typed PII passes: hand-checked redaction, non-overlap by construction") {
    val raw = Seq(
      "mail bob@ex.co or call +1 (415) 555-0042 from 10.0.8.255 now",
      "ranges 12-34-5 and 999.1.2.3 stay regexes, words don't",
      "clean prose with the year 2024 alone")
    val got = raw.toDF("t")
      .select(TextFunctions.redactPhones(TextFunctions.redactIps(
        TextFunctions.redactEmails(col("t")))).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq(
      // email then IP then phone, each its own placeholder
      "mail <EMAIL> or call <PHONE> from <IP> now",
      // a digit-dash run IS a phone shape and a 999 quad IS an IP
      // shape — documented false positives of regex scrubbing
      "ranges <PHONE> and <IP> stay regexes, words don't",
      // a lone 4-digit year is below the phone minimum length
      "clean prose with the year 2024 alone"))
    // order independence of the guarantees that matter: the phone
    // class has no dot, so an un-redacted IP still can't be half-eaten
    val ipFirst = Seq("at 10.1.2.3 call +14155550042")
      .toDF("t").select(TextFunctions.redactPhones(col("t")).as("c"))
      .as[String].collect()
    assert(ipFirst.head == "at 10.1.2.3 call <PHONE>")
  }

  test("langId scores by stopword lists with fixed priority") {
    val got = Seq(
      "the cat and the hat",      // en hits
      "der hund und die katze",   // de hits
      "xyzzy plugh quux"          // no hits
    ).toDF("text").select(TextFunctions.langId(col("text")).as("l")).as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("quality columns: null-safe on empty text, exact ratios otherwise") {
    val row = Seq("the big dog!", "").toDF("text")
      .select(col("text") +: TextFunctions.qualityColumns(col("text")): _*)
      .collect()
    val full = row.find(_.getString(0).nonEmpty).get
    assert(full.getAs[Int]("n_chars") == 12 && full.getAs[Int]("n_tokens") == 3)
    assert(full.getAs[Double]("punct_ratio") == 1.0 / 12)
    assert(full.getAs[Double]("stop_ratio") == 1.0 / 3)
    val empty = row.find(_.getString(0).isEmpty).get
    assert(empty.isNullAt(empty.fieldIndex("punct_ratio"))) // null, not crash
  }

  test("canonicalizeUrl: case/port/www/fragment/utm/slashes normalized, schemes kept distinct") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val cases = Seq(
      // shouting host + default port + fragment + utm
      "HTTPS://WWW.Example.COM:443/site/9/page?utm_source=feed#top" ->
        "https://example.com/site/9/page",
      // already canonical: fixed point
      "https://example.com/site/9/page" ->
        "https://example.com/site/9/page",
      // doubled slash + trailing slash + lone utm param
      "https://example.com//site/9/page/?utm_campaign=x" ->
        "https://example.com/site/9/page",
      // http default port stripped, REAL query param kept, scheme NOT
      // unified with https
      "http://example.com:80/site/9/page?ref=2" ->
        "http://example.com/site/9/page?ref=2",
      // interior utm removed, following param re-attached to '?'
      "https://example.com/p?utm_a=1&id=2" -> "https://example.com/p?id=2",
      // non-default port survives; path case is significant
      "https://example.com:8443/API/v1" -> "https://example.com:8443/API/v1",
      // utm removal is separator-anchored: a param NAME that merely
      // contains utm_ mid-token is not a tracking param
      "https://example.com/p?xutm_a=1&b=2" ->
        "https://example.com/p?xutm_a=1&b=2",
      // a nested-URL VALUE containing an encoded utm_ survives intact
      "https://example.com/p?next=page%2Futm_source%3Dx&id=2" ->
        "https://example.com/p?next=page%2Futm_source%3Dx&id=2",
      // a run of utm params: interior strip + first-param handoff
      "https://example.com/p?utm_a=1&utm_b=2&c=3" ->
        "https://example.com/p?c=3",
      // slash collapse and trailing-slash strip are PATH-only: query
      // values keep their slashes verbatim
      "https://example.com//a/b/?next=//x&q=a/" ->
        "https://example.com/a/b?next=//x&q=a/",
      // path segment named utm_x is path content, not a tracking param
      "https://example.com/utm_x/page?id=1" ->
        "https://example.com/utm_x/page?id=1")
    val got = cases.map(_._1).toDF("u")
      .select(TextFunctions.canonicalizeUrl(col("u"))).as[String].collect().toSeq
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"expected $want, got $g") }
  }
}
