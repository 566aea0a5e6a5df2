package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The robots.txt plane (x117 [[Robots.parseRules]] +
  * [[Robots.robotsTxtGate]]). Pins here: RFC 9309-subset group semantics
  * (consecutive UA lines share a header, agent groups beat `*`, all
  * same-agent groups merge, orphan rules join no group), the parsing
  * policy (comment strip incl. trailing, case-insensitive names, empty
  * values declare nothing), the verdict algebra (literal-prefix longest
  * match, Allow wins length ties, absent file ⟹ allowed, pathless URLs
  * match as `/`), the fixture's branch plants with hand-computed
  * end-to-end verdicts, and the streaming twin's batch equality through
  * a live query. */
class RobotsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def rules(files: (String, String)*): Set[(String, String, String)] = {
    val s = spark
    import s.implicits._
    Robots.parseRules(files.toDF("domain", "robots_txt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
  }

  test("group selection: agent groups beat *, * applies only without an " +
      "agent group, OtherBot groups never leak") {
    val got = rules(
      // agent group present -> * ignored entirely
      "a.com" -> ("User-agent: *\nDisallow: /star\n\n" +
        "User-agent: graftbot\nDisallow: /mine"),
      // no agent group -> * selected; otherbot never
      "b.com" -> ("User-agent: otherbot\nDisallow: /theirs\n\n" +
        "User-agent: *\nDisallow: /every"))
    got shouldBe Set(
      ("a.com", "disallow", "/mine"),
      ("b.com", "disallow", "/every"))
  }

  test("consecutive UA lines share one header; same-agent groups merge; " +
      "agent token and directive names are case-insensitive") {
    val got = rules(
      "a.com" -> ("User-agent: graftbot\nUser-agent: otherbot\n" +
        "DISALLOW: /shared\n\n" +
        "USER-AGENT: GraftBot\nallow: /second"),
      // a blank line between UA lines splits the header: the second
      // group has no rules, the first gets /x
      "b.com" -> "User-agent: graftbot\n\nUser-agent: *\nDisallow: /x")
    got shouldBe Set(
      ("a.com", "disallow", "/shared"),
      ("a.com", "allow", "/second"),
      // b.com: graftbot group EXISTS (has_agent) but holds no rules —
      // the * group is still ignored: no rows at all
    )
  }

  test("comments strip (whole-line and trailing), empty values declare " +
      "nothing, orphan rules before any UA line join no group") {
    val got = rules(
      "a.com" -> ("# header comment\nDisallow: /orphan\n" +
        "User-agent: * # who\nDisallow: /p # trailing\nDisallow:\n" +
        "# Disallow: /commented\nAllow:"))
    got shouldBe Set(("a.com", "disallow", "/p"))
  }

  private def gate(urls: Seq[(Long, String)],
      files: (String, String)*): Map[Long, (String, String)] = {
    val s = spark
    import s.implicits._
    val parsed = Robots.parseRules(files.toDF("domain", "robots_txt"))
    Robots.robotsTxtGate(urls.toDF("doc_id", "url"), parsed)
      .select(col("doc_id"), col("robots_disposition"), col("matched_rule"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
  }

  test("verdict algebra: longest literal prefix wins, Allow wins length " +
      "ties, prefix semantics block /p/10 under /p/1, no match or no " +
      "file is allowed, malformed is malformed") {
    val got = gate(
      Seq(
        1L -> "https://a.com/p/1/deep",   // /p/1 disallow
        2L -> "https://a.com/p/10",       // prefix of /p/1 -> blocked
        3L -> "https://a.com/p/11",       // longer Allow overrides
        4L -> "https://a.com/tie",        // same-length tie -> allow
        5L -> "https://a.com/elsewhere",  // no rule matches
        6L -> "https://nofile.org/x",     // no robots file at all
        7L -> "not a url",                // malformed
        8L -> "https://a.com"),           // pathless matches as /
      "a.com" -> ("User-agent: *\nDisallow: /p/1\nAllow: /p/11\n" +
        "Disallow: /tie\nAllow: /tie\nDisallow: /"))
    got shouldBe Map(
      1L -> (("blocked", "/p/1")),
      2L -> (("blocked", "/p/1")),
      3L -> (("allowed", "/p/11")),
      4L -> (("allowed", "/tie")),
      5L -> (("blocked", "/")),
      6L -> (("allowed", "")),
      7L -> (("malformed", "")),
      8L -> (("blocked", "/")))
  }

  test("matching runs on the CANONICAL path-plus-query: tracking params " +
      "strip before the match, kept query participates, query-only URLs " +
      "root at /") {
    val got = gate(
      Seq(
        1L -> "https://a.com/p/2?utm_source=x",  // -> /p/2 exactly
        2L -> "https://a.com/p/2?id=7",          // -> /p/2?id=7
        3L -> "https://WWW.A.com:443/q/",        // -> /q (slash strip)
        4L -> "https://a.com?id=1"),             // -> /?id=1
      "a.com" -> ("User-agent: *\nDisallow: /p/2?id\nDisallow: /q\n" +
        "Disallow: /?id=1"))
    got shouldBe Map(
      1L -> (("allowed", "")),          // tracking gone, /p/2?id no match
      2L -> (("blocked", "/p/2?id")),
      3L -> (("blocked", "/q")),
      4L -> (("blocked", "/?id=1")))
  }

  test("robotsFixture plants every branch where its moduli say, and " +
      "b % 7 == 3 domains have no file") {
    val s = spark
    import s.implicits._
    val docs = (0L to 6000L).map(d => (d, "w1 w2")).toDF("doc_id", "text")
    val fx = Robots.robotsFixture(docs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // absent files: b in {3, 10, 17} have no row for any tld
    fx.keys.filter(_.matches("brand(3|10|17)\\..*")) shouldBe empty
    // orphan global-disallow before any UA line on b % 10 == 7
    fx("brand7.com") should startWith(
      "# robots brand7 t2\nDisallow: /\n\nUser-agent: OtherBot")
    fx("brand8.com") should not include "# robots brand8 t2\nDisallow"
    // star rules by moduli
    fx("brand8.com") should include("Disallow: /p/1")     // even b
    fx("brand9.com") should not include "Disallow: /p/1"
    fx("brand8.com") should include("Allow: /p/11")       // b % 4 == 0
    fx("brand6.com") should include("Disallow: /p/2\nAllow: /p/2") // tie
    fx("brand7.com") should include("DISALLOW: /p/7")     // b % 3 == 1
    // empty-value Disallow on b % 6 == 2 (followed by t==1's "/" rule
    // on .com.au, so the empty line is provably bare, not a prefix)
    fx("brand8.com.au") should include("\nDisallow:\nDisallow: /")
    fx("brand9.com.au") should include("Disallow: /")     // t == 1
    fx("brand6.com") should include("Disallow: /p/4 # trailing")
    // second * group on b % 6 == 0
    fx("brand6.com") should include(
      "User-agent: *\nDisallow: /p/3")
    // agent group on b % 4 == 1, case-variant header on b % 8 == 5
    fx("brand9.com") should include("User-agent: graftbot\nAllow: /p/\n" +
      "Disallow: /p/5")
    fx("brand5.com") should include("User-Agent: GraftBot")
    fx("brand9.com.au") should not include "Allow: /p/\n"  // t != 2
    // shared-header group on b % 9 == 4
    fx("brand13.com") should include("User-agent: graftbot\n" +
      "User-agent: otherbot\nDisallow: /p/9")
  }

  test("end-to-end fixture verdicts at hand-computed (domain, k) cells") {
    val s = spark
    import s.implicits._
    // doc_id == k for k < 125 makes the URL core the doc id itself
    val docs = (0L to 124L).map(d => (d, "w1 w2")).toDF("doc_id", "text")
    val got = Robots.robotsTxtGate(
      Curation.urlFixture(docs),
      Robots.parseRules(Robots.robotsFixture(docs)))
      .select(col("doc_id"), col("domain"), col("robots_disposition"),
        col("matched_rule"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getString(2), r.getString(3)))).toMap
    // k=23 -> brand0.com path /p/11: Disallow /p/1 vs the LONGER
    // Allow /p/11 -> allowed (the longest-match override, live)
    got(23L) shouldBe ((Some("brand0.com"), "allowed", "/p/11"))
    // k=98 -> brand6.com path /p/2: same-length tie -> allow wins
    got(98L) shouldBe ((Some("brand6.com"), "allowed", "/p/2"))
    // k=71 -> brand2.com.au path /p/11: star Disallow /p/1 prefix-blocks
    // (beats t==1's Disallow / on length)
    got(71L) shouldBe ((Some("brand2.com.au"), "blocked", "/p/1"))
    // k=101 -> brand9.com.au path /p/5: agent group present, so the
    // star group's Disallow / is IGNORED; agent's /p/5 blocks
    got(101L) shouldBe ((Some("brand9.com.au"), "blocked", "/p/5"))
    // k=36 -> brand13.com.au path /p/0: agent (shared-header merge)
    // rules are /p/5 + /p/9 only -> allowed despite star Disallow /
    got(36L) shouldBe ((Some("brand13.com.au"), "allowed", ""))
    // k=105 -> brand13.co.uk path /p/9: the shared-header group blocks
    got(105L) shouldBe ((Some("brand13.co.uk"), "blocked", "/p/9"))
    // k=7 -> brand7.com path /p/7: uppercase DISALLOW directive reads
    got(7L) shouldBe ((Some("brand7.com"), "blocked", "/p/7"))
    // k=30 -> brand7.co.uk path /p/6: nothing matches — the orphan
    // Disallow: / must NOT have been promoted into a group
    got(30L) shouldBe ((Some("brand7.co.uk"), "allowed", ""))
    // k=66 -> brand20.com.au, NO path: matches as / -> t==1 Disallow /
    got(66L) shouldBe ((Some("brand20.com.au"), "blocked", "/"))
    // k=45 -> brand22.co.uk path /p/9: b%9==4 shared header blocks
    got(45L) shouldBe ((Some("brand22.co.uk"), "blocked", "/p/9"))
    // k=75 -> brand6.co.uk path /p/3: the SECOND star group's rule —
    // same-agent groups merge
    got(75L) shouldBe ((Some("brand6.co.uk"), "blocked", "/p/3"))
    // k=59 -> brand13.com path /p/11: the agent group's Allow /p/
    // (t == 2) matches -> allowed with the allow rule recorded
    got(59L) shouldBe ((Some("brand13.com"), "allowed", "/p/"))
    // k=115 -> brand0.co.uk, NO path (115 % 11 == 5? no — 115 % 23 == 0,
    // 115 % 5 == 0 co.uk, path /p/7): star rules /p/1, /p/11, /p/3 miss
    got(115L) shouldBe ((Some("brand0.co.uk"), "allowed", ""))
    // k=10 -> brand10.co.uk: b % 7 == 3 -> NO robots file -> allowed
    got(10L) shouldBe ((Some("brand10.co.uk"), "allowed", ""))
    // k=124 -> the fixture's unparseable URL
    got(124L) shouldBe ((None, "malformed", ""))
  }

  test("streaming gateByRobotsTxt is batch-equal through a live query " +
      "(stream-static join: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val static = Robots.parseRules(Seq(
      "a.com" -> ("User-agent: *\nDisallow: /p\nAllow: /p/ok"))
      .toDF("domain", "robots_txt")).localCheckpoint()
    val rows = Seq(
      1L -> "https://a.com/p/x",
      2L -> "https://a.com/p/ok/y",
      3L -> "https://b.org/free",
      4L -> "junk")
    val out = Robots.robotsTxtGate(
      input.toDF().toDF("doc_id", "url"), static)
    out.isStreaming shouldBe true
    val sink = s"robotstxt_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("robotstxt").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("robots_disposition"),
          col("matched_rule"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      val streamed = key(s.table(sink))
      streamed shouldBe key(Robots.robotsTxtGate(
        rows.toDF("doc_id", "url"), static))
      streamed shouldBe Set(
        (1L, "blocked", "/p"),
        (2L, "allowed", "/p/ok"),
        (3L, "allowed", ""),
        (4L, "malformed", ""))
    } finally q.stop()
  }

  test("sitemapRefs (x130): refs extract from ANY structural position " +
      "without joining or splitting groups, case-insensitive field, " +
      "trailing comment stripped, per-domain file order, scope verdicts") {
    val s = spark
    import s.implicits._
    val file = "Sitemap: https://a.com/pre.xml\n" + // before any group
      "User-agent: graftbot\nDisallow: /p\n" +
      "SITEMAP: https://cdn.example/mid.xml # comment\n" + // inside one
      "\nUser-agent: *\nDisallow: /star\n" +
      "Sitemap: /relative.xml" // post-group, malformed
    val robots = Seq(("a.com", file)).toDF("domain", "robots_txt")
    val got = Robots.sitemapRefs(robots)
      .collect().map(r => r.getInt(1) ->
        ((r.getString(2), Option(r.getString(3)), r.getString(4))))
      .toMap
    got shouldBe Map(
      0 -> (("https://a.com/pre.xml", Some("https://a.com/pre.xml"),
        "same_host")),
      1 -> (("https://cdn.example/mid.xml",
        Some("https://cdn.example/mid.xml"), "cross_host")),
      2 -> (("/relative.xml", None, "malformed")))
    // group-independence: the SAME bytes parse to the same rule set as
    // the file without any Sitemap lines — records never join, start,
    // or split a group
    val stripped = file.split("\n")
      .filterNot(_.toLowerCase.startsWith("sitemap")).mkString("\n")
    Robots.parseRules(robots).collect().toSet shouldBe
      Robots.parseRules(Seq(("a.com", stripped))
        .toDF("domain", "robots_txt")).collect().toSet
  }

  test("the x130 fixture plants all three scopes where the oracle " +
      "expects them, and the planted lines leave every rule-parse " +
      "verdict of the x117 hand table unchanged") {
    val s = spark
    import s.implicits._
    val fx = Robots.robotsFixture((0L until 500L).toDF("doc_id"))
    val scopes = Robots.sitemapRefs(fx)
      .groupBy(org.apache.spark.sql.functions.col("ref_scope")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    scopes.keySet shouldBe Set("same_host", "cross_host", "malformed")
  }
}
