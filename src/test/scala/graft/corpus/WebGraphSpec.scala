package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X113 — integer-exact weighted domain PageRank. Pins here: exact
  * equality with a plain-collections referee implementing the identical
  * micro-unit formulas over a randomized weighted graph, the documented
  * integer-variant semantics (dangling mass absorbs; a never-linked-to
  * domain holds `base`), order-determinism (a permuted edge table yields
  * bit-identical ranks — the property IEEE summation cannot give), and
  * directional sanity (the hub every page links outranks a leaf). */
class WebGraphSpec extends AnyFunSuite with SparkSpec with Matchers {

  /** The operator's formulas verbatim, on plain collections; `init` maps
    * a domain to its warm-start rank (absent → the uniform share). */
  private def referee(edges: Seq[(String, String, Long)], iters: Int,
      init: Map[String, Long] = Map.empty): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val r0 = WebGraph.PageRankScale / n
    val base = (r0 * 15L) / 100L
    var r = nodes.map(nd => nd -> init.getOrElse(nd, r0)).toMap
    (1 to iters).foreach { _ =>
      val cin = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      edges.foreach { case (s, d, w) => cin(d) += (r(s) * w) / outW(s) }
      r = nodes.map(nd => nd -> (base + (85L * cin(nd)) / 100L)).toMap
    }
    r
  }

  private def ranksOf(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def edgesDf(edges: Seq[(String, String, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    edges.toDF("src_domain", "dst_domain", "n_links")
  }

  test("exact referee equality on a randomized weighted graph, at the " +
      "shipped iteration count and a deeper one") {
    val rnd = new scala.util.Random(73)
    val doms = (0 until 25).map(i => s"d$i.com")
    val edges = (0 until 160).map { _ =>
      (doms(rnd.nextInt(doms.size)), doms(rnd.nextInt(doms.size)),
        1L + rnd.nextInt(4))
    }.distinct.map { case (s, d, w) => (s, d, w) }
    ranksOf(WebGraph.domainPageRank(edgesDf(edges))) shouldBe
      referee(edges, WebGraph.PageRankIters)
    ranksOf(WebGraph.domainPageRank(edgesDf(edges), iters = 6)) shouldBe
      referee(edges, 6)
  }

  test("a permuted edge table yields bit-identical ranks (the integer " +
      "order-independence IEEE sums cannot give)") {
    val rnd = new scala.util.Random(29)
    val edges = (0 until 60).map { i =>
      (s"s${i % 9}.org", s"t${rnd.nextInt(7)}.org", 1L + (i % 3))
    }
    val a = ranksOf(WebGraph.domainPageRank(edgesDf(edges)))
    val b = ranksOf(WebGraph.domainPageRank(edgesDf(rnd.shuffle(edges))))
    a shouldBe b
  }

  test("warm start on identical edges IS more rounds: from " +
      "domainPageRank(e, 3), 2 warm rounds equals domainPageRank(e, 5) " +
      "exactly") {
    val rnd = new scala.util.Random(83)
    val doms = (0 until 15).map(i => s"w$i.net")
    val edges = (0 until 80).map { _ =>
      (doms(rnd.nextInt(doms.size)), doms(rnd.nextInt(doms.size)),
        1L + rnd.nextInt(3))
    }
    val df = edgesDf(edges)
    val cold3 = WebGraph.domainPageRank(df, iters = 3)
    ranksOf(WebGraph.domainPageRankFrom(df, cold3, iters = 2)) shouldBe
      ranksOf(WebGraph.domainPageRank(df, iters = 5))
  }

  test("warm start after an edge update: referee-exact, and a domain NEW " +
      "to the graph enters at the NEW graph's uniform share") {
    val prevEdges = Seq(
      ("a.com", "b.com", 2L), ("b.com", "a.com", 1L), ("a.com", "c.com", 1L))
    val newEdges = prevEdges ++ Seq(
      ("fresh.io", "b.com", 1L), ("c.com", "fresh.io", 2L))
    val prev = WebGraph.domainPageRank(edgesDf(prevEdges))
    val got = ranksOf(
      WebGraph.domainPageRankFrom(edgesDf(newEdges), prev, iters = 1))
    val prevMap = ranksOf(prev)
    got shouldBe referee(newEdges, 1, init = prevMap)
    // the fallback really fired: fresh.io is absent from prev, so its
    // VOTE this round was the 4-node uniform share, not a prev rank
    prevMap should not contain key("fresh.io")
    got should contain key "fresh.io"
  }

  test("documented integer-variant semantics: dangling mass absorbs, a " +
      "never-linked-to domain holds base, the everybody-links-it hub " +
      "outranks a leaf") {
    // hub: linked by a and b; c is dangling (no outlinks); a is linked by
    // nobody
    val edges = Seq(
      ("a.com", "hub.com", 3L), ("b.com", "hub.com", 1L),
      ("b.com", "c.com", 1L))
    val got = ranksOf(WebGraph.domainPageRank(edgesDf(edges)))
    got shouldBe referee(edges, WebGraph.PageRankIters)
    val n = 4L
    val base = ((WebGraph.PageRankScale / n) * 15L) / 100L
    // a.com receives nothing: exactly base after every round
    got("a.com") shouldBe base
    // the hub collects both voters; c only half of b's vote
    got("hub.com") should be > got("c.com")
    got("c.com") should be > got("a.com")
    // dangling c spends no vote anywhere: total mass strictly below SCALE
    got.values.sum should be < WebGraph.PageRankScale
  }

  test("degreeProfile: out/in partners and weights, self-loop weight " +
      "separated, reciprocity excludes self and requires both directions, " +
      "in-only nodes zero-filled") {
    val s = spark
    import s.implicits._
    // a<->b reciprocal; a->c one-way; c->c self-loop; b->d where d has
    // no outgoing edges at all (the zero-fill path)
    val edges = Seq(
      ("a.com", "b.com", 2L), ("b.com", "a.com", 5L),
      ("a.com", "c.com", 1L), ("c.com", "c.com", 7L),
      ("b.com", "d.com", 3L))
      .toDF("src_domain", "dst_domain", "n_links")
    val got = WebGraph.degreeProfile(edges).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    //                    out_d  in_d  out_w  in_w  self  recip
    got("a.com") shouldBe ((2L,   1L,   3L,    5L,   0L,   1L))
    got("b.com") shouldBe ((2L,   1L,   8L,    2L,   0L,   1L))
    // c's self-loop counts in degrees and weights, NOT in reciprocity
    got("c.com") shouldBe ((1L,   2L,   7L,    8L,   7L,   0L))
    got("d.com") shouldBe ((0L,   1L,   0L,    3L,   0L,   0L))
    got.size shouldBe 4
  }

  test("crawlFrontier: candidate dedup, fetched anti-join, malformed " +
      "targets dropped, uniform-share fallback for unranked domains, " +
      "politeness cap + slots, deterministic budget cut") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("<a href=\"https://a.com/1\">x</a>" +
        "<a href=\"https://a.com/1?utm_source=f\">dup after norm</a>" +
        "<a href=\"https://a.com/2\">x</a>" +
        "<a href=\"https://a.com/3\">over the cap</a>" +
        "<a href=\"https://b.com/x\">x</a>" +
        "<a href=\"https://new.org/y\">unranked domain</a>" +
        "<a href=\"https://fetched.com/z\">already crawled</a>" +
        "<a href=\"https://u@bad.com/x\">userinfo is malformed</a>" +
        "<a href=\"/rel\">relative never extracts</a>"))
      .toDF("html")
    val fetched = Seq("https://fetched.com/z").toDF("url_norm")
    val ranks = Seq(("a.com", 600L), ("b.com", 300L))
      .toDF("domain", "rank_micro")
    val all = WebGraph.crawlFrontier(pages, fetched, ranks)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet
    val share = WebGraph.PageRankScale / 2L // |ranks| = 2
    all shouldBe Set(
      ("https://a.com/1", "a.com", 600L, 1), // dup collapsed to one row
      ("https://a.com/2", "a.com", 600L, 2), // /3 cut by the cap
      ("https://b.com/x", "b.com", 300L, 1),
      ("https://new.org/y", "new.org", share, 1))
    // budget cut: strict (rank DESC, url_norm) order — the unranked
    // newcomer's uniform share dominates, then a.com's first slot
    val top2 = WebGraph.crawlFrontier(pages, fetched, ranks, budget = 2)
      .collect().map(_.getString(0)).toSet
    top2 shouldBe Set("https://new.org/y", "https://a.com/1")
    // empty rank table: every candidate scores 0, never a divide error
    val empty = ranks.filter(col("domain") === "nope")
    WebGraph.crawlFrontier(pages, fetched, empty)
      .collect().map(_.getLong(2)).toSet shouldBe Set(0L)
  }

  test("domainScorecard: rank∪census base, zero-filled counts vs " +
      "NULL identities (incl. the oracle-dead no-outlink NULL-rank " +
      "branch), canonical n_urls, top-anchor max + lexicographic " +
      "tie-break, robots rule counts") {
    val s = spark
    import s.implicits._
    val docsDf = Seq(
      // alpha: two pages, ONE canonical URL (tracking param stripped);
      // links beta twice ("win win" + "zed") and gamma twice with a
      // 1-1 mention tie ("aa" vs "bb" -> "bb" wins the tie)
      (1L, "https://alpha.com/a",
        "<a href=\"https://beta.com/x\">win win</a>" +
          "<a href=\"https://beta.com/y\">zed</a>" +
          "<a href=\"https://gamma.com/1\">aa</a>" +
          "<a href=\"https://gamma.com/2\">bb</a>"),
      (2L, "https://alpha.com/a?utm_source=f", "no anchors here"),
      // island: fetched, zero outlinks, never linked -> census-only
      // row, rank_micro NULL (the branch the x124 fixture cannot reach)
      (3L, "https://island.com/p", "plain text")
    ).toDF("doc_id", "url", "html")
    val robots = Seq(
      ("alpha.com", "User-agent: *\nDisallow: /p/1\nAllow: /x"),
      ("island.com", "User-agent: otherbot\nDisallow: /")
    ).toDF("domain", "robots_txt")
    val rows = WebGraph.domainScorecard(docsDf, robots)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.keySet shouldBe Set("alpha.com", "beta.com", "gamma.com",
      "island.com")
    val alpha = rows("alpha.com")
    (alpha.getLong(1), alpha.getLong(2)) shouldBe ((2L, 1L))
    alpha.isNullAt(3) shouldBe false // in the graph -> ranked
    alpha.getLong(4) shouldBe 2L // out: beta, gamma
    (alpha.getLong(5), alpha.getLong(6)) shouldBe ((0L, 0L))
    alpha.getLong(7) shouldBe 2L // the two *-group rules
    alpha.isNullAt(8) shouldBe true // nobody anchors alpha
    val beta = rows("beta.com")
    (beta.getLong(1), beta.getLong(2)) shouldBe ((0L, 0L)) // linked-only
    beta.getLong(5) shouldBe 1L
    (beta.getString(8), beta.getLong(9)) shouldBe (("win", 2L))
    rows("gamma.com").getString(8) shouldBe "bb" // 1-1 tie -> larger term
    val island = rows("island.com")
    island.getLong(1) shouldBe 1L
    island.isNullAt(3) shouldBe true // fetched but graph-invisible
    (island.getLong(4), island.getLong(5), island.getLong(6)) shouldBe
      ((0L, 0L, 0L))
    // island's file has no *-group and no graftbot group -> zero rules
    island.getLong(7) shouldBe 0L
  }

  /** Plain-collections referee for [[WebGraph.compileRedirects]]'
    * semantics: walk the (already-canonical) map up to `cap` hops. */
  private def redirectReferee(m: Map[String, String], cap: Int)(
      u: String): (Option[String], Option[Long]) = {
    var cur = u; var h = 0L
    while (h < cap && m.contains(cur)) { cur = m(cur); h += 1 }
    if (m.contains(cur)) (None, None) else (Some(cur), Some(h))
  }

  private def resolve(docs: Seq[(Long, String)],
      redirects: Seq[(String, String)], maxHops: Int = 8) = {
    val s = spark
    import s.implicits._
    WebGraph.resolveRedirects(docs.toDF("doc_id", "url"),
        redirects.toDF("src_url", "dst_url"), maxHops = maxHops)
      .select(col("doc_id"), col("final_url"), col("n_hops"),
        col("redirect_disposition"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.toString),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getString(3)))).toMap
  }

  test("resolveRedirects semantics table: every disposition branch, " +
      "referee-exact hop counts") {
    val chain10 = (0 until 10).map(i => s"http://l.com/$i" ->
      s"http://l.com/${i + 1}")
    val redirects = Seq(
      "http://a.com/1" -> "http://b.com/2",
      "http://b.com/2" -> "http://c.com/3",
      "http://c.com/3" -> "http://d.com/4",
      "http://x.com/" -> "http://y.com/",
      "http://y.com/" -> "http://x.com/",
      "http://z.com/s" -> "http://z.com/s") ++ chain10
    val docs = Seq(1L -> "http://a.com/1", 2L -> "http://b.com/2",
      3L -> "http://d.com/4", 4L -> "http://x.com/",
      5L -> "http://z.com/s", 6L -> "not a url",
      7L -> "http://l.com/2", 8L -> "http://l.com/10")
    val got = resolve(docs, redirects)
    got(1L) shouldBe ((Some("http://d.com/4"), Some(3L), "resolved"))
    got(2L) shouldBe ((Some("http://d.com/4"), Some(2L), "resolved"))
    // d.com/4 is nobody's source -> direct, its own identity
    got(3L) shouldBe ((Some("http://d.com/4"), Some(0L), "direct"))
    got(4L) shouldBe ((None, None, "unresolved")) // 2-cycle
    got(5L) shouldBe ((None, None, "unresolved")) // self-redirect
    got(6L) shouldBe ((None, None, "malformed"))
    // l.com/2 -> .../10: 8 hops, exactly the cap -> resolved
    got(7L) shouldBe ((Some("http://l.com/10"), Some(8L), "resolved"))
    got(8L) shouldBe ((Some("http://l.com/10"), Some(0L), "direct"))
    // and l.com/0 needs 10 hops -> over-cap (checked via the map itself)
    resolve(Seq(9L -> "http://l.com/0"), redirects)(9L) shouldBe
      ((None, None, "unresolved"))
    // referee agreement across the whole doc set
    val ref = redirectReferee(redirects.toMap, 8) _
    docs.filter(_._2 != "not a url").foreach { case (id, u) =>
      val (v, h) = ref(u)
      (got(id)._1, got(id)._2) shouldBe ((v, h))
    }
  }

  test("compileRedirects: both sides canonicalized (observations " +
      "collapse), conflicting targets pick min(dst), malformed " +
      "observations drop") {
    val s = spark
    import s.implicits._
    val redirects = Seq(
      // three observations of ONE src (case/tracking/fragment noise),
      // two distinct targets after canonicalization -> min wins
      "http://A.com/p?utm_source=x" -> "https://b.com/zz",
      "http://a.com/p#frag" -> "https://b.com/aa",
      "HTTP://www.a.com/p" -> "https://b.com/zz",
      // malformed on either side: no edge
      "not a url" -> "https://c.com/",
      "https://c.com/" -> "also not a url")
    val m = WebGraph.compileRedirects(
      redirects.toDF("src_url", "dst_url"))
    val rows = m.collect().map(r => r.getString(0) ->
      ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    rows.keySet shouldBe Set("http://a.com/p")
    rows("http://a.com/p") shouldBe (("https://b.com/aa", 1L, true))
  }

  test("a non-power-of-two hop cap composes its binary expansion " +
      "exactly: cap 3 resolves the 3-chain, not the 4-chain") {
    val redirects = (0 until 4).map(i => s"http://c.com/$i" ->
      s"http://c.com/${i + 1}")
    val got = resolve(
      Seq(1L -> "http://c.com/1", 2L -> "http://c.com/0"),
      redirects, maxHops = 3)
    got(1L) shouldBe ((Some("http://c.com/4"), Some(3L), "resolved"))
    got(2L) shouldBe ((None, None, "unresolved"))
  }

  test("the x126 fixture plants every branch where the oracle expects " +
      "it: chain hops = k % 5, the 108/109 cap boundary, cycle and " +
      "self-loop classes, 124 malformed") {
    val s = spark
    import s.implicits._
    val docsDf = (0L until 250L).toDF("doc_id")
    val got = WebGraph.resolveRedirects(
        Curation.urlFixture(docsDf), WebGraph.redirectFixture(docsDf))
      .select(col("doc_id"), col("n_hops"), col("redirect_disposition"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2)))
      .toMap
    got(3L) shouldBe ((3L, "resolved")) // 3 -> 2 -> 1 -> 0
    got(65L) shouldBe ((0L, "direct")) // 65 % 5 == 0, nobody's target
    got(50L) shouldBe ((-1L, "unresolved")) // the 2-cycle
    got(60L) shouldBe ((-1L, "unresolved")) // the self-redirect
    got(57L) shouldBe ((0L, "direct")) // 51..64 exclusion
    got(108L) shouldBe ((8L, "resolved")) // exactly the cap
    got(109L) shouldBe ((-1L, "unresolved")) // one past it
    got(124L) shouldBe ((-1L, "malformed"))
    // the doc at 125 + k shares class k: collapse through decoration
    got(128L) shouldBe got(3L)
  }

  test("mirrorDomains: within-domain copies collapse, capped digests " +
      "generate no pairs but still count in n, lexicographic pair key, " +
      "integer containment, malformed rows contribute nothing") {
    val s = spark
    import s.implicits._
    // a.com: pages P,Q,R (+ a second copy of P on another path — must
    // collapse); b.com: P,Q; c.com: P; boiler text X on a/b/c/d.org ->
    // capped at maxDomains 3; one malformed row carrying Q
    val docsDf = Seq(
      ("http://a.com/1", "P"), ("http://a.com/1b", "P"),
      ("http://a.com/2", "Q"), ("http://a.com/3", "R"),
      ("http://b.com/1", "P"), ("http://b.com/2", "Q"),
      ("http://c.com/1", "P"),
      ("http://a.com/x", "X"), ("http://b.com/x", "X"),
      ("http://c.com/x", "X"), ("http://d.org/x", "X"),
      ("not a url", "Q"),
      // NULL text must not inflate the denominator: counted on c it
      // would make a-c read 100·1 DIV min(4,3) = 33, not 50
      ("http://c.com/nul", null)).toDF("url", "text")
    val got = WebGraph.mirrorDomains(docsDf, maxDomains = 3,
        pctThreshold = 60)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getString(6)))).toMap
    // X is on 4 domains > cap -> no X pairs, but X counts in every n:
    // a: {P,Q,R,X}=4, b: {P,Q,X}=3, c: {P,X}=2, d: {X}=1
    got.keySet shouldBe Set(("a.com", "b.com"), ("a.com", "c.com"),
      ("b.com", "c.com"))
    got(("a.com", "b.com")) shouldBe ((2L, 4L, 3L, 66L, "mirror"))
    got(("a.com", "c.com")) shouldBe ((1L, 4L, 2L, 50L, "partial"))
    got(("b.com", "c.com")) shouldBe ((1L, 3L, 2L, 50L, "partial"))
  }

  test("the x127 fixture: both verdicts live at the driver row's " +
      "cap/threshold, and the planted boilerplate family IS capped") {
    val s = spark
    import s.implicits._
    val docsDf = (0L until 500L).toDF("doc_id")
    val got = WebGraph.mirrorDomains(
      WebGraph.mirrorFixture(docsDf), maxDomains = 4, textCol = "mtext")
    val verdicts = got.groupBy(col("verdict")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    verdicts.keySet shouldBe Set("mirror", "partial")
    // the planted boilerplate digest (five k ≡ 17 mod 25 .com domains,
    // > cap 4) is excluded from every pair at the driver cap: raising
    // the cap to 5 adds EXACTLY that one digest back to the boilerplate
    // pairs' shared counts and touches no other pair
    def shared(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val at4 = shared(got)
    val at5 = shared(WebGraph.mirrorDomains(
      WebGraph.mirrorFixture(docsDf), maxDomains = 5, textCol = "mtext"))
    at5(("brand17.com", "brand19.com")) shouldBe
      at4(("brand17.com", "brand19.com")) + 1L
    at5(("brand0.co.uk", "brand2.co.uk")) shouldBe
      at4(("brand0.co.uk", "brand2.co.uk"))
  }

  test("streaming resolveRedirectsAgainst is batch-equal through a " +
      "live query (stream-static join: no watermark, append mode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val compiled = WebGraph.compileRedirects(Seq(
        "http://a.com/1" -> "http://b.com/2",
        "http://b.com/2" -> "http://c.com/3",
        "http://x.com/" -> "http://x.com/")
      .toDF("src_url", "dst_url")).localCheckpoint()
    val rows = Seq(1L -> "http://a.com/1?utm_source=f",
      2L -> "http://c.com/3", 3L -> "http://x.com/", 4L -> "bad")
    val out = WebGraph.resolveRedirectsAgainst(
      input.toDF().toDF("doc_id", "url"), compiled)
    out.isStreaming shouldBe true
    val sink = s"redirects_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("redirects").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      def key(df: DataFrame) = df
        .select(col("doc_id"), col("final_url"), col("n_hops"),
          col("redirect_disposition"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getString(3))).toSet
      val streamed = key(s.table(sink))
      streamed shouldBe key(WebGraph.resolveRedirectsAgainst(
        rows.toDF("doc_id", "url"), compiled))
      streamed shouldBe Set(
        (1L, Some("http://c.com/3"), Some(2L), "resolved"),
        (2L, Some("http://c.com/3"), Some(0L), "direct"),
        (3L, None, None, "unresolved"),
        (4L, None, None, "malformed"))
    } finally q.stop()
  }
}
