package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The HTML plane (x110 [[Html.extractText]], x111 [[Html.domainEdges]]
  * via [[Html.extractOutlinks]]) — the crawl-native stage upstream of
  * every text operator. Pins here: each extraction policy stage on hand
  * cases (ORDER included — comments before scripts before tags before
  * entity decode before collapse), malformed-markup degradation, both
  * link quoting styles and the links extraction must IGNORE
  * (relative, commented-out), edge multiplicity and malformed-source
  * exclusion in the domain graph, the fixture's per-branch plants, and
  * the streaming twins' batch equality through a live query. */
class HtmlPlaneSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def extracted(rows: (Long, String)*): Map[Long, (String, Int, Int)] = {
    val s = spark
    import s.implicits._
    Html.extractText(rows.toDF("doc_id", "html"))
      .select(col("doc_id"), col("text"), col("html_len"), col("text_len"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
  }

  private def links(rows: (Long, String)*): Seq[(Long, String)] = {
    val s = spark
    import s.implicits._
    Html.extractOutlinks(rows.toDF("doc_id", "html"))
      .select(col("doc_id"), col("link"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
  }

  test("each extraction stage: comments, script/style bodies, attribute " +
      "tags, the entity subset in order, whitespace collapse") {
    val out = extracted(
      // a script body with <, quotes and braces must vanish WHOLE — a
      // bare tag-strip would leak `if (1 < 2) {...}` into text
      1L -> ("<html><head><title>T</title><script type=\"a\">if (1 < 2) " +
        "{ track(\"x\"); }</script></head><body><p class=\"c\">a b</p>" +
        "</body></html>"),
      // style bodies are code too
      2L -> "<style>.c { color: #111; }</style><p>kept</p>",
      // a comment WRAPPING markup: stage 1 before everything — neither
      // the anchor text nor its tags may surface
      3L -> "<p>a</p><!-- <a href=\"https://x.example/\">spam</a> --><p>b</p>",
      // entity decode AFTER tag strip: the author's literal <q> survives
      // as text; double-escaped &amp;lt; renders &lt;, never a phantom <
      4L -> "<p>&lt;q&gt;&nbsp;&#39;n&#39; &quot;w&quot; &amp;lt;z&amp;gt;</p>",
      // whitespace (tabs, newlines, tag gaps) collapses; ends trimmed
      5L -> "  <p>\n a\t\tb </p>\r\n <p>c</p> ")
    out(1L)._1 shouldBe "T a b"
    out(2L)._1 shouldBe "kept"
    out(3L)._1 shouldBe "a b"
    out(4L)._1 shouldBe "<q> 'n' \"w\" &lt;z&gt;"
    out(5L)._1 shouldBe "a b c"
    // the lengths are the extraction-ratio signal
    out(5L)._2 shouldBe 28
    out(5L)._3 shouldBe 5
  }

  test("malformed markup degrades, never throws: unclosed script leaks " +
      "its body as text, a dangling < reads as markup, empty extracts empty") {
    val out = extracted(
      1L -> "<p>seen</p><script>var x = 1; // never closed",
      2L -> "a < b and c > d",
      3L -> "")
    // stage 2's non-greedy match never completes (no closing tag), so the
    // block is NOT removed; stage 4 still strips the dangling open tag and
    // the body degrades to text — never an exception
    out(1L)._1 shouldBe "seen var x = 1; // never closed"
    // `< b and c >` DOES parse as one tag (policy: < ... > is markup);
    // what's left is the honest degradation, not an exception
    out(2L)._1 shouldBe "a d"
    out(3L)._1 shouldBe ""
  }

  test("outlinks: both quote styles, case-insensitive attr and scheme, " +
      "relative and commented-out links ignored, multiplicity kept") {
    val out = links(
      1L -> ("<a href=\"https://a.com/x\">1</a>" +
        "<a href='http://b.org/y?z=1'>2</a>" +
        "<a HREF=\"HTTPS://c.net/\">3</a>" +
        "<a href=\"/relative/path\">4</a>" +
        "<a href=\"ftp://not.http/\">5</a>" +
        "<!-- <a href=\"https://evil.example/x\">6</a> -->" +
        "<a href=\"https://a.com/x\">again</a>"))
    out shouldBe Seq(
      1L -> "HTTPS://c.net/",
      1L -> "http://b.org/y?z=1",
      1L -> "https://a.com/x",
      1L -> "https://a.com/x")
  }

  test("domainEdges: registrable-domain keying, multiplicity counted, " +
      "self-loops kept, malformed sources excluded") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, "https://WWW.Src.COM/p",
        "<a href=\"https://a.dst.co.uk/1\">x</a>" +
          "<a href=\"http://www.a.dst.co.uk/2\">y</a>" +
          "<a href=\"https://src.com/self\">z</a>"),
      (2L, "not a url", "<a href=\"https://a.com/\">orphan</a>"))
      .toDF("doc_id", "url", "html")
    val edges = Html.domainEdges(pages)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // www./a. strip to the same registrable dst.co.uk (multi-label
    // suffix: one more label than the public suffix)
    edges shouldBe Set(
      ("src.com", "dst.co.uk", 2L),
      ("src.com", "src.com", 1L))
  }

  test("htmlFixture plants every branch where its modulus says") {
    val s = spark
    import s.implicits._
    val docs = (0L to 9L).map(d => (d, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val html = Html.htmlFixture(docs).select(col("doc_id"), col("html"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // script on even ids only
    html(2L) should include("<script")
    html(3L) should not include "<script"
    // comment (wrapping the evil.example anchor) on id % 4 == 1 only
    html(5L) should include("evil.example")
    html(4L) should not include "evil.example"
    // entity paragraph on id % 5 == 0
    html(5L) should include("&amp;lt;twice&amp;gt;")
    html(6L) should not include "&amp;"
    // single-quoted link on id % 7 == 0
    html(7L) should include("href='http://Brand")
    html(8L) should not include "href='"
    // nav link count = d % 3 + 1 (double-quoted, absolute) + the
    // relative link; 8 words -> 2 paragraphs of 7
    countOf(html(4L), "<a href=\"http") + countOf(html(4L), "<a HREF=\"HTTP") shouldBe 2
    countOf(html(4L), "<p class=") shouldBe 2
    html(4L) should include("/local/4")
  }

  private def countOf(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("fixture extraction end-to-end on one hand-computed doc") {
    val s = spark
    import s.implicits._
    val docs = Seq((5L, "w1 w2")).toDF("doc_id", "text")
    val out = Html.extractText(Html.htmlFixture(docs))
      .select(col("text")).collect().head.getString(0)
    // id 5: comment (5%4==1) gone, no script (odd), no style (5%3!=0),
    // nav = 5%3+1 = 3 links ("more 0".."more 2"), entities (5%5==0)
    // decoded, relative anchor text kept
    out shouldBe ("Doc 5 more 0 more 1 more 2 w1 w2 " +
      "Tom & Jerry say \"hi\" <here> 'now' &lt;twice&gt; rel")
  }

  test("robotsGate: both attribute orders, case-insensitivity, none " +
      "implies both, commented-out directives don't count, default is " +
      "index,follow") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "<meta name=\"robots\" content=\"noindex, follow\"><p>a</p>"),
      (2L, "<META CONTENT=\" NOFOLLOW \" NAME=\"ROBOTS\">"),
      (3L, "<meta name='robots' content=\"NONE\">"),
      (4L, "<!-- <meta name=\"robots\" content=\"noindex\"> --><p>a</p>"),
      (5L, "<meta name=\"viewport\" content=\"noindex\">"),
      (6L, "<p>no head at all</p>"))
      .toDF("doc_id", "html")
    val got = Html.robotsGate(rows)
      .select(col("doc_id"), col("noindex"), col("nofollow"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      .toMap
    got shouldBe Map(
      1L -> ((true, false)), 2L -> ((false, true)), 3L -> ((true, true)),
      4L -> ((false, false)), 5L -> ((false, false)), 6L -> ((false, false)))
  }

  test("canonicalKey: declared absolute target wins (both attribute " +
      "orders, normalized), relative declared falls back to the fetch " +
      "URL, malformed-everything yields NULL") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "http://m.site.com/page?utm_source=x",
        "<link rel=\"canonical\" href=\"HTTPS://WWW.Site.com/page/\">"),
      (2L, "http://fetch.org/a",
        "<link href=\"https://canon.org/a#f\" rel='canonical'>"),
      (3L, "http://fetch.org/b", "<link rel=\"canonical\" href=\"/b\">"),
      (4L, "http://fetch.org/c", "<p>no link</p>"),
      (5L, "not a url", "<p>no link either</p>"))
      .toDF("doc_id", "url", "html")
    val got = Html.canonicalKey(rows)
      .select(col("doc_id"), col("canonical_src"), col("canonical_key"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)))))
      .toMap
    got shouldBe Map(
      1L -> (("declared", Some("https://site.com/page"))),
      2L -> (("declared", Some("https://canon.org/a"))),
      3L -> (("fetch", Some("http://fetch.org/b"))),
      4L -> (("fetch", Some("http://fetch.org/c"))),
      5L -> (("fetch", None)))
  }

  test("fixture plants the robots and canonical branches where their " +
      "moduli say, and neighboring classes merge on the declared key") {
    val s = spark
    import s.implicits._
    val docs = (0L to 140L).map(d => (d, "w1 w2")).toDF("doc_id", "text")
    val fx = Html.htmlFixture(Curation.urlFixture(docs))
    val html = fx.select(col("doc_id"), col("html"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    html(2L) should include("noindex")
    html(5L) should include("NOFOLLOW")
    html(4L) should not include "robots"
    html(9L) should include("href=\"/c/rel\"")     // relative fallback pin
    html(6L) should include("rel='canonical'")      // href-first variant
    html(12L) should include("rel=\"canonical\"")
    html(13L) should not include "canonical"
    val keys = Html.canonicalKey(fx)
      .select(col("doc_id"), col("canonical_key")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    keys(12L) shouldBe "https://brandc6.com/c/1"
    keys(6L) shouldBe "https://brandc3.com/c/3"
    // classes 12 (doc 12) and 13 (doc 138) could never collide on fetch
    // URLs; both declare k DIV 2 = 6 — the engineered cross-class merge
    keys(138L) shouldBe keys(12L)
    // the relative-canonical doc keeps its fetch-URL key
    keys(9L) should not include "brandc"
  }

  test("anchorTerms: inner tags and entities processed in the anchor " +
      "text, comment-stripped and relative anchors invisible, mention " +
      "vs distinct-page counts") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "<a href=\"https://a.com/x\"><b>Great &amp; cheap</b> Deal</a>" +
        "<a href='HTTP://www.a.com/y'>great stuff</a>" +
        "<a href=\"/rel\">ignored</a>" +
        "<!-- <a href=\"https://evil.example/x\">spam</a> -->"),
      (2L, "<a href=\"https://a.com/z\">great</a>"))
      .toDF("doc_id", "html")
    val got = Html.anchorTerms(rows).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    got shouldBe Set(
      // "great" three times across both pages (case folded, both quote
      // styles, www./case-normalized host) but only two distinct pages
      ("a.com", "great", 3L, 2L),
      ("a.com", "&", 1L, 1L),
      ("a.com", "cheap", 1L, 1L),
      ("a.com", "deal", 1L, 1L),
      ("a.com", "stuff", 1L, 1L))
  }

  test("fixture rich anchor plants on id % 8 == 3 and its inner markup " +
      "reaches x118's terms") {
    val s = spark
    import s.implicits._
    val docs = (0L to 15L).map(d => (d, "w1 w2")).toDF("doc_id", "text")
    val fx = Html.htmlFixture(docs)
    val html = fx.select(col("doc_id"), col("html"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    html(3L) should include("<b>Great &amp; cheap</b> deal 3")
    html(11L) should include("<b>Great &amp; cheap</b> deal 3") // 11 % 4
    html(4L) should not include "Great"
    val terms = Html.anchorTerms(fx)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // doc 3 -> Brand3.COM, doc 11 -> Brand11.COM; tag stripped, entity
    // decoded, lowercased
    terms should contain(("brand3.com", "cheap", 1L))
    terms should contain(("brand11.com", "&", 1L))
    // the commented-out spam anchor stays invisible to terms too
    terms.map(_._1) should not contain "evil.example"
  }

  test("contentBlocks: min-words and link-density verdicts, block " +
      "segmentation at block tags only, empty segments filtered with " +
      "stable indices, entity/tag cleaning inside blocks") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "<div><p>one two three four five six seven</p>" +
        "<p>short txt</p>" +
        "<nav><a href=\"/a\">home link</a> <a href=\"/b\">about page now</a></nav>" +
        "<p>mix of ten good words where only <a href=\"/c\">three are linked</a></p>" +
        "<p>Tom &amp; <b>Jerry</b> say &quot;hi&quot; twice more</p></div>"))
      .toDF("doc_id", "html")
    val got = Html.contentBlocks(rows)
      .select(col("block_idx"), col("n_words"), col("n_anchor_words"),
        col("is_content"), col("text"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getBoolean(3), r.getString(4)))
    val byText = got.map(t => t._5 -> t).toMap
    // 7 words, no anchors -> content
    byText("one two three four five six seven")._4 shouldBe true
    // 2 words -> fails min-words
    byText("short txt")._4 shouldBe false
    // nav: 5 words, ALL inside anchors (100% > 33%) -> not content,
    // despite clearing the word minimum
    val nav = byText("home link about page now")
    nav._2 shouldBe 5
    nav._3 shouldBe 5
    nav._4 shouldBe false
    // 10 words with 3 linked = 30% <= 33% -> content (and 3 of 9 would
    // be 33.3% > 33 — the integer boundary is sharp)
    val mix = byText("mix of ten good words where only three are linked")
    mix._2 shouldBe 10
    mix._3 shouldBe 3
    mix._4 shouldBe true
    // entities decode, inline <b> strips, still one block
    val ent = byText("Tom & Jerry say \"hi\" twice more")
    ent._2 shouldBe 7
    ent._4 shouldBe true
    // indices are positions in the full split (gaps where segments were
    // empty), strictly increasing
    got.map(_._1).toSeq shouldBe got.map(_._1).toSeq.sorted
    got.map(_._1).distinct.length shouldBe got.length
  }

  test("mainContent: keep-content fold in block order; chrome-only " +
      "pages are absent") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "<p>first block of five words</p><nav><a href=\"/x\">all " +
        "link words here now</a></nav><p>second block of five words</p>"),
      (2L, "<nav><a href=\"/y\">only nav chrome here now</a></nav>"))
      .toDF("doc_id", "html")
    val got = Html.mainContent(rows)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    got shouldBe Map(
      1L -> (("first block of five words second block of five words", 10L)))
  }

  test("declaredLanguage: both quote styles, case and region subtags, " +
      "not-first attribute, xml:lang/data-lang/div-lang never read, " +
      "commented-out declaration invisible, default NULL") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "<html lang=\"en\"><p>a</p></html>"),
      (2L, "<html LANG=\"EN-US\"><p>a</p></html>"),
      (3L, "<html lang='fr'><p>a</p></html>"),
      (4L, "<html class=\"x\" lang=\"de\"><p>a</p></html>"),
      (5L, "<html xml:lang=\"ru\"><p>a</p></html>"),
      (6L, "<html data-lang=\"ru\"><p>a</p></html>"),
      (7L, "<html><div lang=\"es\">a</div></html>"),
      (8L, "<!-- <html lang=\"ru\"> --><html lang=\"pt-BR\"><p>a</p></html>"),
      (9L, "<p>no html tag at all</p>"))
      .toDF("doc_id", "html")
    val got = Html.declaredLanguage(rows)
      .select(col("doc_id"), col("lang_attr"), col("lang_primary"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)))))
      .toMap
    got shouldBe Map(
      1L -> (("en", Some("en"))),
      2L -> (("EN-US", Some("en"))),
      3L -> (("fr", Some("fr"))),
      4L -> (("de", Some("de"))),
      5L -> (("", None)),
      6L -> (("", None)),
      7L -> (("", None)),
      8L -> (("pt-BR", Some("pt"))),
      9L -> (("", None)))
  }

  test("streaming contentBlocks is batch-equal through a live query " +
      "(stateless: bounded explode, no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "<p>one two three four five six</p>" +
        "<nav><a href=\"/a\">all link words here now</a></nav>"))
    val out = Html.contentBlocks(
      input.toDF().toDF("doc_id", "html"))
    out.isStreaming shouldBe true
    val sink = s"cblocks_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cblocks").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("block_idx"), col("n_words"),
          col("n_anchor_words"), col("is_content"), col("text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getBoolean(4), r.getString(5))).toSet
      val streamed = key(s.table(sink))
      streamed shouldBe key(Html.contentBlocks(rows.toDF("doc_id", "html")))
      streamed.map(t => (t._6, t._5)) shouldBe Set(
        ("one two three four five six", true),
        ("all link words here now", false))
    } finally q.stop()
  }

  test("streaming robots gate + canonical keying chain batch-equal " +
      "through one live query (stateless: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val rows = Seq(
      (1L, "http://m.a.com/p?utm_source=x",
        "<meta name=\"robots\" content=\"noindex\">" +
          "<link rel=\"canonical\" href=\"https://a.com/p\">"),
      (2L, "https://b.org/q", "<p>plain</p>"),
      (3L, "broken", "<META CONTENT=\"none\" NAME=\"ROBOTS\">"))
    def chain(df: org.apache.spark.sql.DataFrame) =
      Html.robotsGate(Html.canonicalKey(df))
    val out = chain(input.toDF().toDF("doc_id", "url", "html"))
    out.isStreaming shouldBe true
    val sink = s"robocanon_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("robocanon").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("canonical_src"), col("canonical_key"),
          col("noindex"), col("nofollow"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), r.getBoolean(3), r.getBoolean(4))).toSet
      val streamed = key(s.table(sink))
      streamed shouldBe key(chain(rows.toDF("doc_id", "url", "html")))
      streamed shouldBe Set(
        (1L, "declared", Some("https://a.com/p"), true, false),
        (2L, "fetch", Some("https://b.org/q"), false, false),
        (3L, "fetch", None, true, true))
    } finally q.stop()
  }

  test("streaming extractHtml is batch-equal through a live query " +
      "(stateless: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "<p>a &amp; b</p><script>x()</script>"),
      (2L, "<!-- gone --><p>c</p>"))
    val out = Html.extractText(input.toDF()
      .toDF("doc_id", "html"))
    out.isStreaming shouldBe true
    val sink = s"htmlx_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("htmlx").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = s.table(sink)
        .select(col("doc_id"), col("text"), col("html_len"), col("text_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).toSet
      val batch = Html.extractText(rows.toDF("doc_id", "html"))
        .select(col("doc_id"), col("text"), col("html_len"), col("text_len"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getInt(3))).toSet
      streamed shouldBe batch
      streamed.map(t => t._1 -> t._2).toMap shouldBe
        Map(1L -> "a & b", 2L -> "c")
    } finally q.stop()
  }
}
