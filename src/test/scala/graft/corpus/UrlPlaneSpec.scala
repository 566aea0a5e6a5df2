package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The URL/domain curation plane (x106 [[Curation.normalizeUrl]],
  * x107 [[TextDedup.urlDedup]], x108 [[Curation.domainGate]]) — the
  * first-stage crawl filters (C4 §2.1 / RefinedWeb §3.1). Pins here:
  * every normalization policy step on hand cases, the registrable-domain
  * suffix rule, keep-min dedup with malformed exclusion, every gate
  * disposition including the allowlist branch the driver row never
  * exercises (empty allowlist) and blocklist-beats-allowlist, and the
  * streaming twin's batch equality through a live query. The randomized
  * CONTRACT check against a components-built referee lives in
  * [[UrlPlaneProperties]]. */
class UrlPlaneSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def normed(urls: (Long, String)*) = {
    val s = spark
    import s.implicits._
    Curation.normalizeUrl(urls.toDF("doc_id", "url"))
      .select(col("doc_id"), col("url_norm"), col("domain"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.getString(2))))).toMap
  }

  test("each policy step: case, www, fragment, default ports, trailing " +
      "slash, tracking params — and what must survive each") {
    val out = normed(
      // scheme+host case fold, www strip, fragment strip
      1L -> "HTTPS://WWW.Ex.COM/a/b#frag",
      // default https port stripped; non-default kept
      2L -> "https://ex.com:443/a", 3L -> "https://ex.com:8080/a",
      // default port is SCHEME-dependent: :443 on http is identity
      4L -> "http://ex.com:443/a", 5L -> "http://ex.com:80/a",
      // trailing slashes: /a/b/ == /a/b, bare / root == none
      6L -> "http://ex.com/a/b//", 7L -> "http://ex.com/",
      // tracking params dropped wherever they sit; kept ones keep ORDER
      8L -> "http://ex.com/p?utm_source=x&b=2&fbclid=1&a=1&gclid=2",
      // all-tracking query: the '?' goes too
      9L -> "http://ex.com/p?utm_medium=m&ref=tw&msclkid=q",
      // bare tracking name without '=' is still tracking; bare non-tracking
      // name survives
      10L -> "http://ex.com/p?ref&b",
      // empty path + query survives as ?query on the bare authority
      11L -> "HTTP://ex.com?id=1")
    out(1L) shouldBe ((Some("https://ex.com/a/b"), Some("ex.com")))
    out(2L) shouldBe ((Some("https://ex.com/a"), Some("ex.com")))
    out(3L) shouldBe ((Some("https://ex.com:8080/a"), Some("ex.com")))
    out(4L) shouldBe ((Some("http://ex.com:443/a"), Some("ex.com")))
    out(5L) shouldBe ((Some("http://ex.com/a"), Some("ex.com")))
    out(6L) shouldBe ((Some("http://ex.com/a/b"), Some("ex.com")))
    out(7L) shouldBe ((Some("http://ex.com"), Some("ex.com")))
    out(8L) shouldBe ((Some("http://ex.com/p?b=2&a=1"), Some("ex.com")))
    out(9L) shouldBe ((Some("http://ex.com/p"), Some("ex.com")))
    out(10L) shouldBe ((Some("http://ex.com/p?b"), Some("ex.com")))
    out(11L) shouldBe ((Some("http://ex.com?id=1"), Some("ex.com")))
  }

  test("malformed is data, never an exception: no scheme, no host, or a " +
      "host that is ONLY www. all yield NULL url_norm and NULL domain") {
    val out = normed(
      1L -> "not a url", 2L -> "ex.com/a", 3L -> "http://",
      4L -> "https://www./p", 5L -> "://ex.com")
    (1L to 5L).foreach { id => out(id) shouldBe ((None, None)) }
  }

  test("strict authority (the r19 review's policy holes): userinfo and " +
      "garbage ports are malformed — never keyed on the wrong host — and " +
      "a bare-colon empty port normalizes away") {
    val out = normed(
      // the blocklist-bypass shape: must NOT key on allowed.com
      1L -> "http://allowed.com:x@brand1.com/p",
      2L -> "http://alice:pw@site1.com/x",
      3L -> "https://user@ex.com/",
      // garbage / doubled ports: must NOT collapse onto clean ex.com
      4L -> "http://ex.com:8080a/x",
      5L -> "http://ex.com:80:90/x",
      // RFC 3986 empty port: valid, normalizes like a default port
      6L -> "http://ex.com:/x",
      // query/fragment may still carry '@' and ':' freely
      7L -> "http://ex.com/x?user=a@b.com#c:d")
    (1L to 5L).foreach { id => out(id) shouldBe ((None, None)) }
    out(6L) shouldBe ((Some("http://ex.com/x"), Some("ex.com")))
    out(7L) shouldBe ((Some("http://ex.com/x?user=a@b.com"),
      Some("ex.com")))
  }

  test("registrable domain: last two labels, one more over a multi-label " +
      "public suffix, single-label hosts are their own domain") {
    val out = normed(
      1L -> "http://a.b.ex.co.uk/", 2L -> "http://ex.co.uk/",
      3L -> "http://deep.sub.ex.com/", 4L -> "http://localhost/x",
      5L -> "http://m.ex.com.au/")
    out(1L)._2 shouldBe Some("ex.co.uk")
    out(2L)._2 shouldBe Some("ex.co.uk")
    out(3L)._2 shouldBe Some("ex.com")
    out(4L)._2 shouldBe Some("localhost")
    out(5L)._2 shouldBe Some("ex.com.au")
  }

  test("urlParses (urlDedup's pushable raw-url filter) is EXACTLY " +
      "url_norm non-nullability — on every tricky case and the fixture") {
    val s = spark
    import s.implicits._
    val tricky = Seq(
      "HTTPS://WWW.Ex.COM/a#f", "not a url", "ex.com/a", "http://",
      "https://www./p", "://ex.com", "http://WWW.x", "http://wwwx.com",
      "http://www.:8080", "http://.", "http://#f", "http://?q",
      "http:///path", "ftp://Host.org:21/x", "http://www.www.x",
      // the strict-authority rule's branches (userinfo, garbage port,
      // doubled colon, bare-colon empty port, @/: in query only)
      "http://u@ex.com/", "http://a.com:x@b.com/p", "http://ex.com:8080a",
      "http://ex.com:80:90/", "http://ex.com:/x", "http://ex.com:80",
      "http://ex.com?a=b@c", "http://ex.com:#f")
    val df = tricky.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("doc_id", "url")
    val both = Curation.normalizeUrl(df)
      .select(col("doc_id"), col("url_norm").isNotNull.as("nn"),
        Curation.urlParses(col("url")).as("p"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    both.foreach { case (id, nn, p) =>
      withClue(s"${tricky(id.toInt)}: ") { p shouldBe nn }
    }
    // and across the whole driver fixture
    Curation.normalizeUrl(Curation.urlFixture((0L until 500L).toDF("doc_id")))
      .filter(col("url_norm").isNotNull =!= Curation.urlParses(col("url")))
      .count() shouldBe 0L
  }

  test("urlDedup: keep-min over the canonical form, decorations collide, " +
      "malformed rows are excluded (no identity key)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (7L, "https://WWW.Ex.COM:443/a?utm_source=x&id=1#f"),
      (3L, "https://ex.com/a/?id=1"),
      (9L, "https://ex.com/a?id=1&gclid=2"),
      (4L, "https://ex.com/b"),
      (5L, "garbage"), (6L, "garbage")).toDF("doc_id", "url")
    val got = TextDedup.urlDedup(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe Set(
      ("https://ex.com/a?id=1", 3L, 3L),
      ("https://ex.com/b", 4L, 1L))
  }

  test("domainGate dispositions: malformed / blocked / unlisted / allowed, " +
      "and blocklist WINS over allowlist") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "http://good.com/x"), (2L, "http://bad.com/x"),
      (3L, "http://other.com/x"), (4L, "nope"),
      (5L, "http://www.bad.com:80/y?utm_source=s")).toDF("doc_id", "url")
    def gate(allow: Seq[String]) =
      Curation.domainGate(docs, blocklist = Seq("bad.com"), allowlist = allow)
        .select(col("doc_id"), col("disposition"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    gate(Seq.empty) shouldBe Map(1L -> "allowed", 2L -> "blocked",
      3L -> "allowed", 4L -> "malformed", 5L -> "blocked")
    // allowlist covers bad.com too — the explicit ban still wins
    gate(Seq("good.com", "bad.com")) shouldBe Map(1L -> "allowed",
      2L -> "blocked", 3L -> "unlisted", 4L -> "malformed", 5L -> "blocked")
  }

  test("the driver fixture engineers exactly 4-way canonical collisions " +
      "per non-malformed core and every disposition is populated") {
    val s = spark
    import s.implicits._
    val docs = (0L until 500L).toDF("doc_id")
    val fixed = Curation.urlFixture(docs)
    val dd = TextDedup.urlDedup(fixed)
    dd.count() shouldBe 124L
    dd.agg(min("n_copies"), max("n_copies")).collect()(0) shouldBe
      org.apache.spark.sql.Row(4L, 4L)
    val disp = Curation.domainGate(fixed).groupBy("disposition").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    disp.keySet shouldBe Set("malformed", "blocked", "allowed")
    disp("malformed") shouldBe 4L
  }

  test("streaming gateByDomain routes batch-equal through a live query " +
      "(stateless: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "HTTPS://WWW.Brand1.COM:443/p?utm_source=x&id=2#f"),
      (2L, "http://fine.org/a/"), (3L, "broken"))
    val out = Curation.domainGate(
      input.toDF().toDF("doc_id", "url"))
    out.isStreaming shouldBe true
    val sink = s"urlgate_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("urlgate").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("url_norm"), col("domain"),
          col("disposition"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.getString(2)), r.getString(3))).toSet
      key(s.table(sink)) shouldBe
        key(Curation.domainGate(rows.toDF("doc_id", "url")))
      s.table(sink).filter(col("doc_id") === 1L)
        .select("disposition").collect()(0).getString(0) shouldBe "blocked"
    } finally q.stop()
  }

  test("the fused UrlDomain kernel equals the declarative " +
      "registrableDomain rule on randomized hosts (incl. empty labels, " +
      "trailing dots, single labels)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(61)
    val parts = Seq("a", "b7", "www", "co", "uk", "com", "au", "localhost",
      "x-y", "")
    val hosts = (0 until 300).map { i =>
      (i.toLong, (0 to rnd.nextInt(4)).map(_ =>
        parts(rnd.nextInt(parts.length))).mkString("."))
    } :+ (300L, "co.uk") :+ (301L, "a.co.uk.") :+ (302L, ".co.uk")
    // drive the kernel through normalizeUrl on a synthesized parseable URL
    // whose canonical host is exactly the fixture host (lowercase, no www
    // strip interference: prefix guards the empty-host corner)
    val df = hosts.toDF("id", "host")
      .withColumn("url", concat(lit("http://"), col("host"), lit("/p")))
    val kernel = Curation.normalizeUrl(df)
      .select(col("id"), col("domain")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val declarative = df
      .withColumn("h", regexp_replace(lower(col("host")), "^www\\.", ""))
      .select(col("id"), col("h"),
        Curation.registrableDomain(col("h")).as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    declarative.foreach { case (id, h, d) =>
      // an empty canonical host is the malformed branch (NULL domain)
      val expected = if (h.isEmpty) None else d
      withClue(s"host '$h': ") { kernel(id) shouldBe expected }
    }
  }

  test("urlFeatures: depth/chars/digits/params measured on the CANONICAL " +
      "form, the word gate case-insensitive over the whole URL, " +
      "malformed rows carry NULL features") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // tracking param strips BEFORE the count; path case kept
      (1L, "https://A.com/Shop/p/42?utm_source=x&id=7&b=2"),
      (2L, "https://BRAND7.CO.UK"),           // flag via host, pathless
      (3L, "http://a.com/Casino/night/"),     // flag via path, slash strip
      (4L, "junk"))
      .toDF("doc_id", "url")
    val got = Curation.urlFeatures(rows)
      .select(col("doc_id"), col("url_norm"), col("path_depth"),
        col("path_chars"), col("path_digits"), col("n_params"),
        col("url_flag"))
      .collect().map { r =>
        r.getLong(0) -> ((Option(r.getString(1)),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1 else r.getInt(5),
          r.getString(6)))
      }.toMap
    got shouldBe Map(
      1L -> ((Some("https://a.com/Shop/p/42?id=7&b=2"), 3, 10, 2, 2,
        "clean")),
      2L -> ((Some("https://brand7.co.uk"), 0, 0, 0, 0, "flagged")),
      3L -> ((Some("http://a.com/Casino/night"), 2, 13, 0, 0, "flagged")),
      4L -> ((None, -1, -1, -1, -1, "malformed")))
  }

  test("pathTemplates (x128): maximal digit runs mask to one N, " +
      "decorated copies collapse BEFORE counting, query variants count " +
      "as distinct URLs, the threshold decides trap vs ok, malformed " +
      "and pathless rows behave") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      // one shape /p/N on a.com: three distinct canonical URLs (7, 42
      // with a kept param, 2023/11 is a DIFFERENT shape), plus a
      // tracking-decorated copy of /p/7 that must collapse first
      "http://a.com/p/7", "http://a.com/p/7?utm_source=x",
      "http://a.com/p/42?page=2", "http://a.com/p/9",
      "http://a.com/cal/2023/11", "http://a.com/cal/2024/3",
      "http://b.com/p/1",
      "http://b.com", // pathless -> the '' template
      "not a url").toDF("url")
    val got = Curation.pathTemplates(rows, minUrls = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    got.keySet shouldBe Set(("a.com", "/p/N"), ("a.com", "/cal/N/N"),
      ("b.com", "/p/N"), ("b.com", ""))
    got(("a.com", "/p/N")) shouldBe
      ((3L, "http://a.com/p/42?page=2", "trap"))
    got(("a.com", "/cal/N/N")) shouldBe
      ((2L, "http://a.com/cal/2023/11", "ok"))
    got(("b.com", "/p/N")) shouldBe ((1L, "http://b.com/p/1", "ok"))
    got(("b.com", "")) shouldBe ((1L, "http://b.com", "ok"))
  }

  test("pathTemplates over the driver fixture: both verdicts live at " +
      "the driver row's threshold") {
    val s = spark
    import s.implicits._
    val fx = Curation.urlFixture((0L until 500L).toDF("doc_id"))
    val v = Curation.pathTemplates(fx, minUrls = 3)
      .groupBy(col("verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    v.keySet shouldBe Set("trap", "ok")
  }
}
