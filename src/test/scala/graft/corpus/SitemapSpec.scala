package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X125 — the sitemap plane ([[Robots.parseSitemaps]] +
  * [[Robots.sitemapDiscovery]]). Pins here: the documented XML subset
  * (per-field tag-pair extraction so child order is free, loc trim,
  * missing/empty loc to NULL, the guarded milli-priority parse — garbage
  * is NULL, never an ANSI cast error), the discovery verdict algebra
  * (malformed before foreign before known/new; foreign judged on the
  * REGISTRABLE domain; known/new decided by the index join), the fixture
  * branch plants with hand-computed verdicts, and the streaming twin's
  * batch equality through a live query. */
class SitemapSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def parse(files: (String, String)*) = {
    val s = spark
    import s.implicits._
    Robots.parseSitemaps(files.toDF("domain", "sitemap_xml"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((Option(r.getString(2)), Option(r.getString(3)),
          Option(r.getString(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
  }

  test("parseSitemaps: child order free, loc trimmed, absent fields " +
      "NULL, priority to exact milli-units") {
    val xml =
      """<?xml version="1.0"?><urlset>
<url><loc>https://a.com/1</loc><lastmod>2026-01-02</lastmod><priority>0.5</priority></url>
<url><priority>1.0</priority><loc>
   https://a.com/2 </loc><changefreq>daily</changefreq></url>
<url><loc>https://a.com/3</loc></url>
</urlset>"""
    val got = parse("a.com" -> xml)
    got(("a.com", 0)) shouldBe ((Some("https://a.com/1"),
      Some("2026-01-02"), None, Some(500L)))
    // order-free fields + the trim rule (newline/space padding stripped)
    got(("a.com", 1)) shouldBe ((Some("https://a.com/2"), None,
      Some("daily"), Some(1000L)))
    got(("a.com", 2)) shouldBe ((Some("https://a.com/3"), None, None,
      None))
  }

  test("parseSitemaps: missing or empty loc is NULL (the entry " +
      "surfaces, never silently drops), garbage priority is NULL — " +
      "never an ANSI cast error") {
    val xml = "<urlset>" +
      "<url><lastmod>2026-02-03</lastmod></url>" +
      "<url><loc></loc><priority>high</priority></url>" +
      "<url><loc>https://a.com/x</loc><priority>12.3456</priority></url>" +
      "<url><loc>https://a.com/y</loc><priority>0.25</priority></url>" +
      "</urlset>"
    val got = parse("a.com" -> xml)
    got.size shouldBe 4
    got(("a.com", 0))._1 shouldBe None
    got(("a.com", 1)) shouldBe ((None, None, None, None))
    // 12.3456 fails the {1,3}-fraction guard -> NULL, not 12345.6
    got(("a.com", 2)) shouldBe ((Some("https://a.com/x"), None, None,
      None))
    got(("a.com", 3))._4 shouldBe Some(250L)
  }

  test("parseSitemaps: a file with no <url> blocks (or a sitemapindex " +
      "— the documented out-of-scope) yields zero rows") {
    parse("a.com" -> "<urlset></urlset>",
      "b.com" -> ("<sitemapindex><sitemap>" +
        "<loc>https://b.com/sitemap1.xml</loc></sitemap></sitemapindex>"))
      .size shouldBe 0
  }

  test("sitemapDiscovery verdict algebra: malformed before foreign " +
      "before known/new; foreign on the registrable domain; known/new " +
      "from the index join; canonicalization live on the loc") {
    val s = spark
    import s.implicits._
    val entries = Seq(
      // decorated loc canonicalizes onto the crawled identity -> known
      ("a.com", 0, Some("HTTPS://WWW.A.com/p/1?utm_source=sm"),
        Some("2026-01-02"), Option.empty[String], Some(500L)),
      ("a.com", 1, Some("https://a.com/new"), None, None,
        Option.empty[Long]),
      // subdomain of the same registrable domain is NOT foreign
      ("a.com", 2, Some("https://m.a.com/s"), None, None, None),
      ("a.com", 3, Some("https://other.org/x"), None, None, None),
      ("a.com", 4, Option.empty[String], None, None, None),
      ("a.com", 5, Some("junk"), None, None, None))
      .toDF("domain", "entry_idx", "loc_raw", "lastmod", "changefreq",
        "priority_milli")
    val index = Seq(("https://a.com/p/1", 7L))
      .toDF("url_norm", "canonical_doc_id")
    val got = Robots.sitemapDiscovery(entries, index)
      .collect().map(r => r.getInt(1) ->
        ((Option(r.getString(2)), r.getString(7),
          if (r.isNullAt(6)) None else Some(r.getLong(6))))).toMap
    got(0) shouldBe ((Some("https://a.com/p/1"), "known", Some(7L)))
    got(1) shouldBe ((Some("https://a.com/new"), "new", None))
    got(2) shouldBe ((Some("https://m.a.com/s"), "new", None))
    got(3) shouldBe ((Some("https://other.org/x"), "foreign", None))
    got(4) shouldBe ((None, "malformed", None))
    got(5) shouldBe ((None, "malformed", None))
  }

  test("the x125 fixture plants every branch where the oracle expects " +
      "it: both known and new live, foreign/malformed/no-loc appended " +
      "on their moduli, b % 5 == 2 domains publish nothing") {
    val s = spark
    import s.implicits._
    val docsDf = (0L until 250L).toDF("doc_id")
    val fx = Robots.sitemapFixture(Curation.urlFixture(docsDf))
    val doms = fx.select(col("domain")).collect()
      .map(_.getString(0)).toSet
    // brand2/7/12/17/22 publish no sitemap at all
    doms.exists(_.startsWith("brand2.")) shouldBe false
    doms.exists(_.startsWith("brand3.")) shouldBe true
    val got = Robots.sitemapDiscovery(
      Robots.parseSitemaps(fx),
      TextDedup.urlIndex(Curation.urlFixture(docsDf)))
    val st = got.groupBy(col("sitemap_status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    st.keySet shouldBe Set("known", "new", "foreign", "malformed")
    // the foreign plant: b % 4 == 2 domains append brand(b+1).com
    val foreign = got.filter(col("sitemap_status") === "foreign")
      .select(col("sm_domain")).distinct().collect()
      .map(_.getString(0))
    foreign.foreach { d =>
      val b = d.stripPrefix("brand").takeWhile(_.isDigit).toLong
      (b % 4) shouldBe 2L
    }
    // a known row really carries the index's canonical doc
    got.filter(col("sitemap_status") === "known")
      .filter(col("canonical_doc_id").isNull).count() shouldBe 0L
  }

  test("recrawlVerdicts (x129): audit beats fetch beats freshness; the " +
      "lexicographic compare handles shared-granularity, date-vs-" +
      "datetime and absent lastmod; never-fetched rows are the " +
      "discovery feed") {
    val s = spark
    import s.implicits._
    val entries = Seq(
      // fetched, lastmod after -> refetch (same month, later day)
      ("a.com", 0, Some("https://a.com/p/1"), Some("2026-03-10")),
      // fetched, lastmod before -> fresh
      ("a.com", 1, Some("https://a.com/p/2"), Some("2026-01-01")),
      // fetched, NO lastmod -> fresh (absence is not a change claim)
      ("a.com", 2, Some("https://a.com/p/3"), None),
      // date-only lastmod on the fetch DAY sorts before its datetime ->
      // fresh (date = start of day)
      ("a.com", 3, Some("https://a.com/p/4"), Some("2026-03-05")),
      // never fetched -> fetch
      ("a.com", 4, Some("https://a.com/new"), Some("2026-03-10")),
      // foreign + malformed -> audit even when the log holds them
      ("a.com", 5, Some("https://b.org/p/1"), Some("2026-03-10")),
      ("a.com", 6, Option.empty[String], Some("2026-03-10")))
      .toDF("domain", "entry_idx", "loc_raw", "lastmod")
    val log = Seq(
      ("https://a.com/p/1", "2026-03-05"),
      ("https://a.com/p/2", "2026-03-05"),
      ("https://a.com/p/3", "2026-03-05"),
      ("https://a.com/p/4", "2026-03-05T08:30:00Z"),
      ("https://b.org/p/1", "2026-01-01"))
      .toDF("url_norm", "fetched_at")
    val got = Robots.recrawlVerdicts(entries, log)
      .collect().map(r => r.getInt(1) -> r.getString(5)).toMap
    got shouldBe Map(0 -> "refetch", 1 -> "fresh", 2 -> "fresh",
      3 -> "fresh", 4 -> "fetch", 5 -> "audit", 6 -> "audit")
  }

  test("the x129 fixture: all four verdicts live at sf-gate scale, " +
      "refetch/fresh decided BY the string compare") {
    val s = spark
    import s.implicits._
    val d = (0L until 500L).toDF("doc_id")
    val v = Robots.recrawlVerdicts(
        Robots.parseSitemaps(Robots.sitemapFixture(d)),
        Robots.fetchLogFixture(d))
      .groupBy(col("recrawl_verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    v.keySet shouldBe Set("audit", "fetch", "refetch", "fresh")
  }

  test("streaming discoverFromSitemaps is batch-equal through a live " +
      "query (stream-static join: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Int, String)]
    val index = Seq(("https://a.com/p/1", 7L))
      .toDF("url_norm", "canonical_doc_id").localCheckpoint()
    val rows = Seq(
      ("a.com", 0, "https://a.com/p/1?utm_campaign=x"),
      ("a.com", 1, "https://a.com/fresh"),
      ("a.com", 2, "https://b.org/x"),
      ("a.com", 3, "nope"))
    def widen(df: org.apache.spark.sql.DataFrame) = df
      .toDF("domain", "entry_idx", "loc_raw")
      .withColumn("lastmod", lit(null).cast("string"))
      .withColumn("changefreq", lit(null).cast("string"))
      .withColumn("priority_milli", lit(null).cast("long"))
    val out = Robots.sitemapDiscovery(
      widen(input.toDF()), index)
    out.isStreaming shouldBe true
    val sink = s"sitemap_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sitemap").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("entry_idx"), col("url_norm"), col("sitemap_status"))
        .collect().map(r => (r.getInt(0), Option(r.getString(1)),
          r.getString(2))).toSet
      val streamed = key(s.table(sink))
      streamed shouldBe key(Robots.sitemapDiscovery(
        widen(rows.toDF("domain", "entry_idx", "loc_raw")), index))
      streamed shouldBe Set(
        (0, Some("https://a.com/p/1"), "known"),
        (1, Some("https://a.com/fresh"), "new"),
        (2, Some("https://b.org/x"), "foreign"),
        (3, None, "malformed"))
    } finally q.stop()
  }
}
