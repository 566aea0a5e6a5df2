package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain-graph analytics over [[Html.domainEdges]]' edge table — the rank
  * signal crawl curation weighs domains WITH (OPIC / PageRank seeds decide
  * fetch priority and feed quality classifiers; RefinedWeb's and C4's
  * domain filters are curated lists precisely because most pipelines skip
  * this computation).
  *
  * The rank arithmetic is INTEGER micro-units end to end (the x19/m2
  * doctrine: never put an IEEE sum on an oracle boundary) — every
  * division a truncating integral `DIV` on non-negative operands, every
  * aggregation a `BIGINT` sum — so a fixed iteration count yields ONE
  * exact answer on any engine, any partitioning, any evaluation order.
  * The price is documented drift from real-valued PageRank: each
  * truncation sheds up to one micro-unit (≤ 10⁻¹² of total mass per
  * term), and dangling domains (no outlinks) simply absorb — their mass
  * is not redistributed. Rank ORDER, the signal curation consumes, is
  * unaffected at any realistic graph size. */
object WebGraph {

  /** Total rank mass in micro-units (10¹²) — the integer one. */
  val PageRankScale: Long = 1000000000000L

  /** Fixed iteration count — shared with the x113 oracle generator, which
    * unrolls exactly this many CTEs. Three rounds propagate rank across
    * the 3-hop neighborhoods that dominate template/spam structure; a
    * deployment tuning for global convergence raises it (the oracle
    * unrolls whatever the constant says at build time). */
  val PageRankIters: Int = 3

  /** X113 — weighted domain PageRank over `(src_domain, dst_domain,
    * n_links)` edges, damping 0.85, `iters` fixed rounds:
    *
    *   rank₀(d)   = SCALE DIV N
    *   base       = ((SCALE DIV N) · 15) DIV 100
    *   contrib(s→d) = (rankₖ(s) · w(s→d)) DIV out_w(s)
    *   rankₖ₊₁(d) = base + (85 · Σ contrib(·→d)) DIV 100
    *
    * where `w` is the edge multiplicity and `out_w(s)` its source's total
    * outgoing weight. Emits `(domain, rank_micro)` for every node of the
    * graph (sources and sinks alike; a never-linked-to domain holds
    * `base`, a dangling one still spends its vote — see the object note
    * for the two documented integer-variant semantics).
    *
    * Scale shape (the x20 Pregel discipline): the edge table is persisted
    * once, partitioned by `src_domain`; each round is ONE
    * edges⋈ranks equi-join on `src_domain` (only the rank table — one row
    * per domain — moves; at web scale ~10⁸ rows against ~10¹¹ edges),
    * one `dst_domain`-keyed aggregate with map-side partials, and one
    * left join back to the node list; rounds are `localCheckpoint`ed
    * eagerly so the plan never nests (the superseded round's blocks are
    * released immediately, the two-table memory bound). Overflow head-
    * room: `rank · w` stays under 2⁶³ while total edge weight per source
    * is below ~9·10⁶ × SCALE-relative mass — far beyond any real domain's
    * out-degree; a BIGINT sum of contributions is bounded by total mass. */
  def domainPageRank(edges: DataFrame,
      iters: Int = PageRankIters): DataFrame =
    iterate(edges, iters, None)

  /** X116 — WARM-START PageRank: re-rank after an edge-table update from
    * the PREVIOUS snapshot's persisted ranks instead of from the uniform
    * start — [[domainPageRank]]'s ingest twin (the x40/x112 twin
    * discipline applied to the graph plane: a daily crawl appends edges;
    * rank moves locally, so one or two warm rounds recover what a cold
    * restart needs its full iteration budget for). Domains NEW to the
    * graph (absent from `prevRanks`) start at the current uniform share
    * `SCALE DIV N`; departed domains simply drop (their old rank rows are
    * never read). Same integer-exact arithmetic, so the fixed point is
    * engine-independent, and the decomposition is spec-pinned: warm-
    * starting from `domainPageRank(edges, k)` for `m` rounds EQUALS
    * `domainPageRank(edges, k + m)` whenever `prevRanks` covers the
    * node set — on identical edges the twin is exactly "more rounds". */
  def domainPageRankFrom(edges: DataFrame, prevRanks: DataFrame,
      iters: Int = 1): DataFrame =
    iterate(edges, iters, Some(prevRanks))

  /** Per-domain politeness cap for [[crawlFrontier]] — at most this many
    * URLs per registrable domain per scheduling cycle (a crawler that
    * pulls one domain's whole queue in a burst is the impolite failure
    * mode politeness delays exist to prevent; the cap is the batch-side
    * mirror of a per-domain fetch-rate limit). Shared with the x119
    * oracle generator. */
  val FrontierPerDomainCap: Int = 2

  /** Global per-cycle fetch budget for [[crawlFrontier]] — the top-B cut
    * after the per-domain cap. Bounded driver constant by contract (a
    * cycle fetches what its fleet can fetch). Shared with the oracle. */
  val FrontierBudget: Int = 150

  /** X119 — crawl-frontier scheduling: which URLs to fetch NEXT. From the
    * current snapshot's pages, extract every absolute outlink, canonical-
    * ize it ([[Curation.normalizeUrl]] — malformed targets have no
    * identity and are dropped), dedup to one candidate per `url_norm`,
    * drop everything the crawl already holds (anti-join against the
    * persisted [[TextDedup.urlIndex]]), score each candidate by its
    * TARGET domain's [[domainPageRank]] rank — domains the rank snapshot
    * has never seen enter at the CURRENT uniform share `SCALE DIV N`
    * (the x116 new-domain convention: an unranked domain is a fair
    * unknown, not a zero), then schedule: at most `perDomainCap` URLs
    * per domain (`slot` = that domain's queue position, url_norm order),
    * global top-`budget` by `(rank_micro DESC, url_norm)` — a strict
    * total order, so the cut is deterministic on any engine.
    *
    * Emits `(url_norm, domain, rank_micro, slot)` — the fetch list, in
    * set form (the driver compare sorts; a deployment orders by the
    * same key).
    *
    * Scale shape: extraction + canonicalization ride the scan (narrow);
    * the candidate dedup is ONE url_norm-keyed aggregate (the frontier's
    * natural shuffle); the fetched-probe is an anti-join against the
    * BUCKETED persisted index (index side never re-shuffles — the x112
    * discipline); the rank join is domain-keyed (one row per domain,
    * broadcastable until web scale); the politeness slot is a
    * domain-keyed window whose per-key row count the cap bounds the
    * OUTPUT of but the candidate dedup already bounded the input of
    * (largest domains ≈ largest link targets — AQE skew handling
    * applies); the global cut is orderBy+limit, which Spark executes as
    * TakeOrdered with B bounded by contract — no full sort. An empty
    * rank table scores every candidate 0 (the documented empty-graph
    * degradation, never a divide error). Compose AFTER the gates:
    * [[Curation.domainGate]] (x108) and [[Robots.robotsTxtGate]] (x117)
    * flag what this scheduler should never see. */
  def crawlFrontier(docs: DataFrame, fetched: DataFrame, ranks: DataFrame,
      perDomainCap: Int = FrontierPerDomainCap,
      budget: Int = FrontierBudget,
      htmlCol: String = "html"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = Curation.normalizeUrl(
        Html.extractOutlinks(docs.select(col(htmlCol)), htmlCol)
          .select(col("link")), "link")
      .filter(col("url_norm").isNotNull)
      .groupBy(col("url_norm")).agg(min(col("domain")).as("domain"))
      .join(fetched.select(col("url_norm")), Seq("url_norm"), "left_anti")
    val n = ranks.agg(count(lit(1)).as("__g_n"))
    val w = Window.partitionBy(col("domain")).orderBy(col("url_norm"))
    cand
      .join(ranks.select(col("domain"), col("rank_micro")), Seq("domain"),
        "left")
      .crossJoin(n)
      .withColumn("rank_micro", coalesce(col("rank_micro"),
        // the n > 0 guard keeps ANSI DIV from throwing on an empty rank
        // table — the documented empty-graph degradation is score 0
        when(col("__g_n") > 0, expr(s"$PageRankScale DIV __g_n"))
          .otherwise(lit(0L))))
      .withColumn("slot", row_number().over(w))
      .filter(col("slot") <= perDomainCap)
      .orderBy(col("rank_micro").desc, col("url_norm"))
      .limit(budget)
      .select(col("url_norm"), col("domain"), col("rank_micro"),
        col("slot"))
  }

  /** X120 — per-domain degree/reciprocity profile over a [[Html
    * .domainEdges]] edge table (one row per ordered pair): for every
    * node of the graph,
    *
    *  - `out_domains`/`in_domains` — distinct link partners each way;
    *  - `out_w`/`in_w` — total link weight each way;
    *  - `self_w` — self-loop weight (site-internal absolute links, the
    *    in-template boilerplate signal x111 keeps self-loops FOR);
    *  - `recip_domains` — distinct partners linked in BOTH directions,
    *    self excluded.
    *
    * The structural spam panel: link farms show near-total reciprocity
    * (`recip_domains ≈ out_domains`), PBNs show high out-degree to a
    * tight target set with no in-degree, parked domains show in-only.
    * Flags-for-the-owner, like every gate in this plane — downstream
    * weighting is the consumer's call.
    *
    * Scale shape: two domain-keyed aggregates (out/in), one filtered
    * self-loop aggregate, and ONE (src,dst)=(dst,src) self-equi-join
    * for reciprocity — keyed on the pair, fan-out exactly 1 against the
    * deduped pair table, no window, no all-pairs anywhere; the final
    * assembly is a full-outer + two left joins on `domain` (every node
    * appears in the out or in aggregate by definition). */
  def degreeProfile(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src_domain"), col("dst_domain"),
      col("n_links").cast("long").as("w"))
    val outs = e.groupBy(col("src_domain").as("domain")).agg(
      countDistinct(col("dst_domain")).as("out_domains"),
      sum(col("w")).as("out_w"))
    val ins = e.groupBy(col("dst_domain").as("domain")).agg(
      countDistinct(col("src_domain")).as("in_domains"),
      sum(col("w")).as("in_w"))
    val self = e.filter(col("src_domain") === col("dst_domain"))
      .groupBy(col("src_domain").as("domain"))
      .agg(sum(col("w")).as("self_w"))
    val recip = e.as("e1").join(e.as("e2"),
        col("e1.src_domain") === col("e2.dst_domain") &&
          col("e1.dst_domain") === col("e2.src_domain") &&
          col("e1.src_domain") =!= col("e1.dst_domain"))
      .groupBy(col("e1.src_domain").as("domain"))
      .agg(countDistinct(col("e1.dst_domain")).as("recip_domains"))
    outs.join(ins, Seq("domain"), "full")
      .join(self, Seq("domain"), "left")
      .join(recip, Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("out_domains"), lit(0L)).as("out_domains"),
        coalesce(col("in_domains"), lit(0L)).as("in_domains"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_w"), lit(0L)).as("in_w"),
        coalesce(col("self_w"), lit(0L)).as("self_w"),
        coalesce(col("recip_domains"), lit(0L)).as("recip_domains"))
  }

  /** X124 — the per-domain SCORECARD: the one table a crawl-curation
    * owner actually keys domain decisions on, assembled from every
    * plane this library computes —
    *
    *  - `n_pages` / `n_urls` — fetched-page census (rows whose URL
    *    parses; distinct canonical URLs);
    *  - `rank_micro` — [[domainPageRank]] over the snapshot's edges
    *    (NULL for census-only domains the graph never saw);
    *  - `out_domains` / `in_domains` / `recip_domains` — the
    *    [[degreeProfile]] spam panel;
    *  - `n_robots_rules` — rules the domain's robots.txt declares for
    *    our agent ([[Robots.parseRules]]);
    *  - `top_anchor_term` / `top_anchor_mentions` — the most-mentioned
    *    anchor term OTHER pages use for the domain ([[Html
    *    .anchorTerms]]); the tie-break is the lexicographically larger
    *    term under one struct MAX, so the pick is deterministic on any
    *    engine.
    *
    * Domains = graph nodes ∪ fetched census (a linked-only domain has
    * pages 0; a no-outlink fetched domain has NULL rank). Counts
    * zero-fill; identities stay NULL. Flags-for-the-owner, one row per
    * domain.
    *
    * Scale shape: every constituent is the already-shaped operator
    * (edge table checkpointed ONCE and shared by rank + degrees — the
    * x116 convention), and the assembly is domain-keyed left joins off
    * a distinct-domain base — at web scale a few 10⁸-row joins, all
    * co-keyed, no window, no skew beyond what the constituents already
    * handle. In production each constituent reads its persisted plane
    * instead of recomputing (the x49 `datasetCardFrom` convention);
    * this self-contained form is the driver-row contract. */
  def domainScorecard(docs: DataFrame, robots: DataFrame,
      urlCol: String = "url", htmlCol: String = "html"): DataFrame = {
    val census = Curation.normalizeUrl(
        docs.filter(Curation.urlParses(col(urlCol))), urlCol)
      .filter(col("domain").isNotNull)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_pages"),
        countDistinct(col("url_norm")).as("n_urls"))
    val edges = Html.domainEdges(docs, urlCol, htmlCol).localCheckpoint()
    val ranks = domainPageRank(edges)
    val deg = degreeProfile(edges)
      .select(col("domain"), col("out_domains"), col("in_domains"),
        col("recip_domains"))
    val atop = Html.anchorTerms(docs, htmlCol)
      .groupBy(col("dst_domain").as("domain"))
      .agg(max(struct(col("n_mentions").as("nm"), col("term").as("t")))
        .as("__g_m"))
    val rcnt = Robots.parseRules(robots)
      .groupBy(col("domain")).agg(count(lit(1)).as("n_robots_rules"))
    ranks.select(col("domain")).union(census.select(col("domain")))
      .distinct()
      .join(census, Seq("domain"), "left")
      .join(ranks, Seq("domain"), "left")
      .join(deg, Seq("domain"), "left")
      .join(atop, Seq("domain"), "left")
      .join(rcnt, Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("n_pages"), lit(0L)).as("n_pages"),
        coalesce(col("n_urls"), lit(0L)).as("n_urls"),
        col("rank_micro"),
        coalesce(col("out_domains"), lit(0L)).as("out_domains"),
        coalesce(col("in_domains"), lit(0L)).as("in_domains"),
        coalesce(col("recip_domains"), lit(0L)).as("recip_domains"),
        coalesce(col("n_robots_rules"), lit(0L)).as("n_robots_rules"),
        col("__g_m").getField("t").as("top_anchor_term"),
        col("__g_m").getField("nm").as("top_anchor_mentions"))
  }

  /** Max hops [[compileRedirects]] follows before declaring a chain
    * unresolved — the browser convention (every mainstream fetch stack
    * caps redirects near this order and errors past it), and the bound
    * that makes the resolution O(log maxHops) doubling joins. Shared
    * with the x126 oracle generator, which unrolls exactly
    * log₂(8) = 3 doubling self-joins. */
  val RedirectHopCap: Int = 8

  /** Compile an observed redirect map `(src_url, dst_url)` — one row per
    * fetch that answered 3xx, raw URLs as logged — into the RESOLVED map:
    * one row per canonical source URL,
    *
    *  - `url_norm`   — the canonicalized redirect source;
    *  - `final_url`  — the chain's terminal canonical URL, NULL when the
    *    chain does not terminate within `maxHops` (cycle, self-redirect,
    *    or simply too long — the browser verdict; no identity, the x107
    *    rule);
    *  - `n_hops`     — exact chain length when resolved, NULL otherwise;
    *  - `resolved`   — the verdict.
    *
    * Both sides are [[Curation.normalizeUrl]]-canonicalized first (a
    * redirect logged with tracking params or case noise must collapse
    * onto the same identity the crawl keys on — observations of the same
    * src across fetches collapse here too); rows where either side is
    * malformed are dropped (no identity to chain through), and a src
    * observed with CONFLICTING targets resolves to `min(dst)` — a
    * deterministic pick on any engine (real logs disagree across
    * fetches; last-write-wins needs a timestamp the map doesn't carry).
    *
    * THE ALGORITHMIC POINT (the x97 genre): chain-walking looks serial
    * in the chain length, but the map is a functional graph — "the node
    * `2k` hops from u" is "the node k hops from the node k hops from u",
    * so the walk table doubles: `g₁` from the edges, `g₂ = g₁∘g₁`,
    * `g₄`, `g₈` — ⌈log₂ maxHops⌉ self-joins keyed on `url_norm`, each
    * carrying `(final, hops, done)` with done rows routed AROUND the
    * join (they are fixed points — and by the late rounds most of the
    * table). A non-power-of-two `maxHops` composes its binary expansion
    * the same way. Every join is map-sized (redirects observed ≈ pages
    * fetched, never corpus×corpus), every table localCheckpointed and
    * the superseded ones released (the [[domainPageRank]] discipline). */
  def compileRedirects(redirects: DataFrame,
      maxHops: Int = RedirectHopCap,
      srcCol: String = "src_url", dstCol: String = "dst_url"): DataFrame = {
    require(maxHops >= 1, "redirect hop cap must be positive")
    val srcN = Curation.normalizeUrl(
        redirects.select(col(srcCol), col(dstCol)), srcCol)
      .select(col("url_norm").as("__g_src"), col(dstCol))
    val edges = Curation.normalizeUrl(srcN, dstCol)
      .select(col("__g_src").as("src"), col("url_norm").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src")).agg(min(col("dst")).as("dst"))
    var aux: List[org.apache.spark.rdd.RDD[_]] = Nil
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); aux ::= checkpointRdd(c); c
    }
    try {
      val e = ckpt(edges)
      // done ⟺ the target is not itself a source — the chain's terminal
      val g1 = ckpt(e.as("a")
        .join(e.select(col("src").as("__g_t")).as("b"),
          col("a.dst") === col("__g_t"), "left")
        .select(col("src").as("url_norm"), col("dst").as("final_url"),
          lit(1L).as("n_hops"), col("__g_t").isNull.as("done")))
      // compose(a, b): walk a's hops, then — unless already done — b's
      // from where a landed; a non-done landing IS a source, so the
      // lookup always hits and the inner join loses nothing
      def compose(a: DataFrame, b: DataFrame): DataFrame =
        ckpt(a.filter(col("done")).unionByName(
          a.filter(!col("done")).as("a")
            .join(b.select(col("url_norm").as("__g_u"),
              col("final_url").as("__g_v"), col("n_hops").as("__g_h"),
              col("done").as("__g_d")).as("b"),
              col("a.final_url") === col("__g_u"))
            .select(col("a.url_norm").as("url_norm"),
              col("__g_v").as("final_url"),
              (col("a.n_hops") + col("__g_h")).as("n_hops"),
              col("__g_d").as("done"))))
      // binary expansion of maxHops over the doubling ladder
      var step = g1
      var acc: Option[DataFrame] = None
      var bits = maxHops
      while (bits > 0) {
        if ((bits & 1) == 1)
          acc = Some(acc.map(compose(_, step)).getOrElse(step))
        bits >>= 1
        if (bits > 0) step = compose(step, step)
      }
      val g = acc.get
      // the returned frame re-checkpoints so it survives the release of
      // every ladder intermediate in `finally`
      g.select(col("url_norm"),
          when(col("done"), col("final_url")).as("final_url"),
          when(col("done"), col("n_hops")).as("n_hops"),
          col("done").as("resolved"))
        .localCheckpoint()
    } finally aux.foreach(_.unpersist(false))
  }

  /** Apply a [[compileRedirects]] map to a document/frontier table: every
    * row comes back with its canonical identity AFTER redirects —
    *
    *  - `redirect_disposition` — `malformed` (the URL didn't parse),
    *    `direct` (no redirect observed for it: it is its own final URL,
    *    0 hops), `resolved` (chain followed to a terminal), `unresolved`
    *    (cycle or over-cap — NULL final, the x107 rule);
    *  - `final_url` / `n_hops` — the chain verdict.
    *
    * The canonical-identity upgrade for every URL-keyed tier downstream:
    * dedup on `final_url` instead of `url_norm` and two pages that 301
    * onto one landing page merge ([[Html.canonicalKey]] merges what the
    * PAGE declares; this merges what the SERVER declares — run both).
    *
    * Scale shape: ONE url_norm-keyed left equi-join against the compiled
    * map (map-sized right side, bucketable/broadcastable by deployment
    * size) plus narrow verdict arithmetic — stateless given the frozen
    * map, so it rides Structured Streaming as a stream-static join
    * unchanged (pinned through a live query in `WebGraphSpec`). */
  def resolveRedirectsAgainst(docs: DataFrame, compiled: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val m = compiled.select(col("url_norm").as("__g_key"),
      col("final_url").as("__g_v"), col("n_hops").as("__g_h"),
      col("resolved").as("__g_r"))
    Curation.normalizeUrl(docs, urlCol)
      .join(m, col("url_norm") === col("__g_key"), "left")
      .withColumn("redirect_disposition",
        when(col("url_norm").isNull, "malformed")
          .when(col("__g_key").isNull, "direct")
          .when(col("__g_r"), "resolved")
          .otherwise("unresolved"))
      .withColumn("final_url",
        when(col("url_norm").isNull, lit(null).cast("string"))
          .when(col("__g_key").isNull, col("url_norm"))
          .otherwise(col("__g_v")))
      .withColumn("n_hops",
        when(col("url_norm").isNull, lit(null).cast("long"))
          .when(col("__g_key").isNull, lit(0L))
          .otherwise(col("__g_h")))
      .drop("__g_key", "__g_v", "__g_h", "__g_r")
  }

  /** X126 — redirect-chain resolution, self-contained:
    * [[compileRedirects]] + [[resolveRedirectsAgainst]] in one call (the
    * driver-row contract; production compiles once per crawl snapshot
    * and persists the map — url_norm-bucketed, the [[TextDedup
    * .writeUrlIndex]] layout — for every consumer, streaming ones
    * included). */
  def resolveRedirects(docs: DataFrame, redirects: DataFrame,
      maxHops: Int = RedirectHopCap, urlCol: String = "url",
      srcCol: String = "src_url", dstCol: String = "dst_url"): DataFrame =
    resolveRedirectsAgainst(docs,
      compileRedirects(redirects, maxHops, srcCol, dstCol), urlCol)

  /** Deterministic redirect fixture for the x126 driver row (the
    * x106/x117 fixture pattern): one observed redirect per document of a
    * redirect CLASS, `src_url` the document's own [[Curation.urlFixture]]
    * URL and `dst_url` minted in the same canonical URL space by
    * [[Curation.fixtureUrl]] with target class `target(k)` and a SHIFTED
    * decoration seed (`doc_id + 7` — the target's surface form carries
    * different case/tracking/fragment noise than any fetch of that
    * class, so dst-side normalization is live under the hash, and the
    * per-doc observations of one class collapse to ONE edge only through
    * it). The class map, replayed by the oracle generator:
    *
    *  - chains: `target(k) = k − 1` for `k % 5 ∈ {1..4}`, `k < 100`,
    *    excluding 51–64 — every 5-block walks down to its `k % 5 == 0`
    *    terminal (1–4 hops, resolved);
    *  - the LONG chain: `target(k) = k − 1` for `k ∈ 101..123` — class
    *    `100 + j` needs exactly `j` hops, so 101..108 resolve (108 at
    *    exactly [[RedirectHopCap]]) and 109..123 are over-cap
    *    unresolved: the boundary is pinned from both sides;
    *  - the 2-CYCLE 50 ↔ 55 and the SELF-REDIRECT 60 → 60 (a self-loop
    *    only visible after normalization — the raw src and dst strings
    *    differ); 51–64's exclusion above keeps the cycle classes out of
    *    every chain, so `resolved`/`unresolved` partition cleanly;
    *  - every other class (including malformed 124) observes no
    *    redirect → `direct` on the docs side. */
  def redirectFixture(docs: DataFrame): DataFrame = {
    val k = col("doc_id") % 125
    val target = when(k === 50, lit(55)).when(k === 55, lit(50))
      .when(k === 60, lit(60))
      .when(k % 5 =!= 0 && k < 100 && !k.between(51, 64), k - 1)
      .when(k.between(101, 123), k - 1)
    Curation.urlFixture(docs)
      .withColumn("__g_t", target)
      .filter(col("__g_t").isNotNull)
      .select(col("doc_id"), col("url").as("src_url"),
        Curation.fixtureUrl(col("__g_t"), col("doc_id") + 7).as("dst_url"))
  }

  /** Digest-group cap for [[mirrorDomains]] — a content digest held by
    * MORE registrable domains than this is cross-site boilerplate (empty
    * pages, parked-domain templates, cookie walls), not mirroring
    * evidence: it is excluded from pair generation (which also bounds
    * the per-digest pair fan-out at cap², the SemDeDup Σn_c²
    * discipline — never all-pairs). The driver row passes 4 so the cap
    * branch is live under the fixture's 5-domain families. */
  val MirrorMaxDomains: Int = 16

  /** Overlap percent at or above which a domain pair is a `mirror`
    * verdict (below: `partial`). Integer percent — the x19/x113
    * doctrine, no IEEE ratio on the oracle boundary. */
  val MirrorPctThreshold: Int = 60

  /** X127 — mirror-domain detection, the HOST-level dedup pass crawl
    * curation runs above every per-page tier (mirrors serve the same
    * corpus under different registrable domains — regional mirrors, CDN
    * aliases, scraper re-hosts; per-page exact dedup x1 removes the
    * copies but only this table names the RELATIONSHIP, which is what a
    * curator acts on — keep one host, drop the rest). One row per
    * unordered domain pair sharing at least one (uncapped) content
    * digest:
    *
    *  - `domain_a` / `domain_b` — lexicographic order, so the pair key
    *    is deterministic on any engine;
    *  - `shared_digests` — distinct content digests (x1's md5
    *    convention) present on BOTH, counted over digests held by at
    *    most `maxDomains` domains (the boilerplate cap — see
    *    [[MirrorMaxDomains]]);
    *  - `n_a` / `n_b` — each domain's total distinct digests (ALL of
    *    them — the denominator is the domain's real corpus, capped or
    *    not);
    *  - `overlap_pct` — `100·shared DIV least(n_a, n_b)` (containment
    *    of the smaller side, integer);
    *  - `verdict` — `mirror` at/above `pctThreshold`, else `partial` —
    *    flags, not filters (the x73 routing doctrine).
    *
    * Malformed URLs contribute nothing (no domain identity, x107's
    * rule); within-domain duplicates collapse before any counting (the
    * (domain, digest) distinct), so a domain replicating its own page
    * a thousand times gains no mirror evidence.
    *
    * Scale shape: ONE narrow digest projection on the scan, one
    * (domain, digest) distinct (the corpus shuffle, linear), one
    * digest-keyed group-size census, and a digest-keyed self-join whose
    * fan-out the cap bounds at cap² per digest (Σ over digests, the
    * SemDeDup shape) feeding one pair-keyed aggregate; the n_a/n_b
    * attach is two domain-keyed joins against a domains-sized table.
    * Nothing is ever all-pairs in the domain count. */
  def mirrorDomains(docs: DataFrame,
      maxDomains: Int = MirrorMaxDomains,
      pctThreshold: Int = MirrorPctThreshold,
      urlCol: String = "url", textCol: String = "text"): DataFrame = {
    // NULL text is excluded like NULL domain: a contentless row has no
    // digest identity — if it survived the distinct it would inflate
    // n_a/n_b while NULL keys can never match the size or pair joins,
    // silently deflating every containment percent (r19s3 review find)
    val dd = Curation.normalizeUrl(docs, urlCol)
      .filter(col("domain").isNotNull && col(textCol).isNotNull)
      .select(col("domain"),
        md5(encode(col(textCol), "UTF-8")).as("__g_dig"))
      .distinct()
    val sizes = dd.groupBy(col("__g_dig"))
      .agg(count(lit(1)).as("__g_g"))
    val ok = dd.join(sizes.filter(col("__g_g") <= maxDomains),
      Seq("__g_dig"))
    val pairs = ok.as("a")
      .join(ok.select(col("__g_dig"), col("domain").as("__g_db")).as("b"),
        col("a.__g_dig") === col("b.__g_dig") &&
          col("a.domain") < col("__g_db"))
      .groupBy(col("a.domain").as("domain_a"), col("__g_db").as("domain_b"))
      .agg(count(lit(1)).as("shared_digests"))
    val tot = dd.groupBy(col("domain")).agg(count(lit(1)).as("__g_n"))
    pairs
      .join(tot.select(col("domain").as("domain_a"),
        col("__g_n").as("n_a")), Seq("domain_a"))
      .join(tot.select(col("domain").as("domain_b"),
        col("__g_n").as("n_b")), Seq("domain_b"))
      .withColumn("overlap_pct",
        expr("100 * shared_digests DIV least(n_a, n_b)"))
      .withColumn("verdict",
        when(col("overlap_pct") >= pctThreshold, "mirror")
          .otherwise("partial"))
      .select(col("domain_a"), col("domain_b"), col("shared_digests"),
        col("n_a"), col("n_b"), col("overlap_pct"), col("verdict"))
  }

  /** Deterministic content fixture for the x127 driver row: the corpus
    * text is replaced by a CLASS text keyed `doc_id % 150` on top of
    * [[Curation.urlFixture]]'s URL space (`doc_id % 125` domains) — the
    * two moduli interleave (lcm 750), so content classes genuinely
    * cross domains (a class-`k` domain holds the classes `c ≡ k mod
    * 25`, spread over same-tld sibling brands), and the .com tld
    * merging three of the five `k % 5` residues makes domain corpus
    * sizes differ — containment percents spread (16/33/50/75 at
    * sf0.01), putting BOTH verdicts under the driver row's
    * `pctThreshold = 60`. The `doc_id % 50 == 17` docs all carry ONE
    * constant boilerplate text instead — a digest held by the five
    * `k ≡ 17 mod 25` .com domains, over the driver row's
    * `maxDomains = 4`: the cap branch is live with exactly the content
    * it exists for (cross-site boilerplate must not read as mirroring
    * evidence, but still counts in every domain's `n`). Replayed by the
    * oracle generator from the
    * same arithmetic (class equality ≡ digest equality — md5 never
    * crosses the oracle boundary, the x1 convention). */
  def mirrorFixture(docs: DataFrame): DataFrame =
    Curation.urlFixture(docs).withColumn("mtext",
      when(col("doc_id") % 50 === 17, lit("mirror content boilerplate"))
        .otherwise(concat(lit("mirror content "),
          (col("doc_id") % 150).cast("string"))))

  /** Per-round checkpoint release, the dedupClusters pattern verbatim:
    * without it every superseded round's blocks survive to session end.
    * Loud if a Spark upgrade changes the plan shape. */
  private def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(throw new IllegalStateException(
      "localCheckpoint no longer yields a bare LogicalRDD plan — " +
        "the per-round checkpoint release needs re-wiring"))

  /** Checkpoint cadence of [[iterate]]'s round loop: rounds stay LAZY (one
    * plan, one job) until this many have accumulated, then materialize
    * once. Laziness costs nothing extra — a job executes every
    * un-checkpointed round exactly once, in order, inside one DAG — and
    * saves the superseded rounds' materializations entirely (at web scale
    * a round is a ~10⁸-row rank table; locally it is a whole job's
    * scheduling floor). The cadence bounds plan depth so a high-iteration
    * deployment never re-creates the nested-plan blowup the per-round
    * checkpoint discipline existed to prevent. */
  private val RankCkptEvery: Int = 4

  private def iterate(edges: DataFrame, iters: Int,
      prev: Option[DataFrame]): DataFrame = {
    val e = edges.select(col("src_domain"), col("dst_domain"),
        col("n_links").cast("long").as("w"))
      .repartition(col("src_domain")).persist()
    // the loop-scoped checkpoints (node/out-weight table, intermediate
    // rounds) are released on every exit path; the FINAL round's
    // checkpoint backs the returned ranks and is the ContextCleaner's to
    // reclaim (the dedupClusters convention) — without this release every
    // invocation leaked graph-sized cached tables to session end (r19
    // review)
    var aux: List[org.apache.spark.rdd.RDD[_]] = Nil
    try {
      // node list and out-weights in ONE union-keyed aggregate (one
      // shuffle + one checkpoint job where there were two of each): a
      // domain's out_w sums its src rows, dst-only domains ride along as
      // NULL-weight markers the sum ignores — they exist as nodes with no
      // out-weight row, exactly the two tables the separate aggregates
      // produced (r19 job-count sweep)
      val nodeW = e.select(col("src_domain").as("domain"), col("w"))
        .unionByName(e.select(col("dst_domain").as("domain"),
          lit(null).cast("long").as("w")))
        .groupBy(col("domain")).agg(sum(col("w")).as("out_w"))
        .localCheckpoint()
      aux ::= checkpointRdd(nodeW)
      val nodes = nodeW.select(col("domain"))
      val n = nodeW.count() // ONE driver scalar (the node count), not data
      // an empty graph (no page URL parsed, an empty crawl) ranks to the
      // empty table — malformed is data, never ArithmeticException.
      // Checkpointed so the returned frame survives the finally-release
      // of the node table it derives from
      if (n == 0L)
        return nodes.select(col("domain"), lit(0L).as("rank_micro"))
          .localCheckpoint()
      val outW = nodeW.filter(col("out_w").isNotNull)
        .select(col("domain").as("src_domain"), col("out_w"))
      val r0 = PageRankScale / n
      val base = (r0 * 15L) / 100L
      // init stays LAZY: it is a projection of the checkpointed node table
      // (plus the caller's prev ranks), so round 1's job evaluates it in
      // place — its own checkpoint bought nothing but a job
      val init = prev match {
        case None => nodes.withColumn("rank_micro", lit(r0))
        case Some(p) => nodes
          .join(p.select(col("domain"), col("rank_micro")), Seq("domain"),
            "left")
          .select(col("domain"),
            coalesce(col("rank_micro"), lit(r0)).as("rank_micro"))
      }
      var ranks = init
      var ranksRdd: Option[org.apache.spark.rdd.RDD[_]] = None
      var lazyRounds = 0
      var k = 0
      while (k < iters) {
        // rename-the-right + resolve-by-NAME join conditions: with lazy
        // rounds the rank plan CONTAINS e and nodes, so dataset-tagged
        // column references (e("src_domain")) would hit the ambiguous-
        // self-join trap; the renamed top-level outputs are unambiguous
        val sums = e
          .join(ranks.select(col("domain").as("__g_rd"),
            col("rank_micro").as("__g_rm")),
            col("src_domain") === col("__g_rd"))
          .join(outW, "src_domain")
          .select(col("dst_domain"),
            expr("__g_rm * w DIV out_w").as("c"))
          .groupBy(col("dst_domain")).agg(sum(col("c")).as("cin"))
        val next = nodes
          .join(sums, col("domain") === col("dst_domain"), "left")
          .select(col("domain"),
            (lit(base) + expr("85 * coalesce(cin, 0L) DIV 100"))
              .as("rank_micro"))
        ranks = next
        lazyRounds += 1
        k += 1
        if (lazyRounds == RankCkptEvery && k < iters) {
          val c = ranks.localCheckpoint()
          ranksRdd.foreach(_.unpersist(false)) // free the superseded rounds
          ranksRdd = Some(checkpointRdd(c))
          ranks = c
          lazyRounds = 0
        }
      }
      // the returned frame re-checkpoints so it survives the finally-
      // release of the node table and any intermediate round
      val out = ranks.localCheckpoint()
      ranksRdd.foreach(_.unpersist(false))
      out
    } finally {
      e.unpersist()
      aux.foreach(_.unpersist(false))
    }
  }
}
