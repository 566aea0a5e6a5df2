package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The robots.txt plane — the FILE-level politeness gate a crawl applies
  * before it fetches anything (x114's meta-robots directive governs what
  * to do with a page already fetched; robots.txt governs whether to fetch
  * at all — RFC 9309, the one protocol every polite crawler implements).
  * Reference scope note: the Alvearie reference pipeline has no crawl
  * plane at all; this is engine-extension surface like the rest of the
  * X-series.
  *
  * Two operators:
  *
  *  - [[parseRules]] — `(domain, robots_txt)` files → the `(domain,
  *    rtype, rpath)` rule set SELECTED for one crawler agent (RFC 9309
  *    §2.2.1 group semantics: consecutive `User-agent` lines share a
  *    header; ALL groups naming the agent merge; the `*` groups apply
  *    only when NO group names the agent);
  *  - [[robotsTxtGate]] — URLs × selected rules → a disposition per row
  *    (longest-match wins, `Allow` wins length ties — RFC 9309 §2.2.2;
  *    flags, NOT filters, the x73/x108 routing doctrine).
  *
  * The parsing policy is an explicit documented SUBSET shared verbatim
  * with the DuckDB oracle (the [[Curation.TrackingParamPattern]]
  * doctrine — the policy surface is the constant, a deployment widens it
  * without touching the operator):
  *
  *  - `#` starts a comment (stripped to end of line, trailing comments
  *    included); directive names and agent tokens are case-insensitive;
  *  - values are single whitespace-free tokens (UA product tokens and
  *    URL paths contain no spaces; anything after the first blank is
  *    ignored — which is also what makes trailing comments safe);
  *  - an EMPTY `Disallow:`/`Allow:` value declares nothing (the
  *    traditional allow-all file is three bytes of no rules) and is
  *    dropped, never treated as an empty prefix that matches everything;
  *  - rules BEFORE any `User-agent` line belong to no group and are
  *    dropped (never promoted to global);
  *  - path matching is LITERAL prefix only — the `*`/`$` wildcard
  *    extension is out of scope and documented so (a value containing
  *    `*` simply never matches a literal path);
  *  - the matched text is the canonical path-plus-query of the
  *    [[Curation.normalizeUrl]] form, `/`-rooted (an empty path matches
  *    as `/`, RFC 9309 §2.2.2's empty-pattern rule).
  */
object Robots {

  /** The product token [[parseRules]] selects groups for by default —
    * the engine's own crawler name. Shared with the x117 oracle
    * generator. */
  val CrawlerAgent: String = "graftbot"

  /** Parse per-domain robots.txt files into the rule set selected for
    * `agent`: `(domain, rtype ∈ {allow, disallow}, rpath)`.
    *
    * Group algebra (RFC 9309 §2.2.1): a `User-agent` line whose
    * predecessor is NOT a `User-agent` line starts a new group, so
    * consecutive UA lines share one header; a group applies to `agent`
    * when any header token equals it (case-insensitive); if ANY group
    * applies, the selected rules are the union over those groups and
    * every `*` group is ignored; otherwise the union over the `*`
    * groups. A file with neither yields no rows — [[robotsTxtGate]]
    * reads absence as allowed, the web default.
    *
    * Scale shape: every stage is keyed on `domain` over the ROBOTS
    * table only (one row per registrable domain, file size bounded —
    * RFC 9309 §2.5 caps parse obligation at 500 KiB), so the windows
    * and group joins never touch the document corpus; the output is the
    * bounded rule table the gate joins against. */
  def parseRules(robots: DataFrame, agent: String = CrawlerAgent,
      txtCol: String = "robots_txt"): DataFrame = {
    val w = Window.partitionBy("domain").orderBy("pos")
    val lines = robots.select(col("domain"),
      posexplode(split(col(txtCol), "\n")).as(Seq("pos", "line")))
    val parsed = lines
      .withColumn("__g_ln", regexp_replace(col("line"), "#.*", ""))
      .withColumn("__g_ua", lower(regexp_extract(col("__g_ln"),
        "(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*([^ \\t]*)", 1)))
      .withColumn("__g_al", regexp_extract(col("__g_ln"),
        "(?i)^[ \\t]*allow[ \\t]*:[ \\t]*([^ \\t]*)", 1))
      .withColumn("__g_di", regexp_extract(col("__g_ln"),
        "(?i)^[ \\t]*disallow[ \\t]*:[ \\t]*([^ \\t]*)", 1))
      .withColumn("__g_isua", col("__g_ua") =!= "")
      .withColumn("__g_gid", sum(
        (col("__g_isua") &&
          !coalesce(lag(col("__g_isua"), 1).over(w), lit(false)))
          .cast("int")).over(w))
    // group selection as WINDOWS over the one parsed stream, not the
    // groups/domains aggregate + two joins back (r20): the join form's
    // three branches each instantiated the scan→explode→regex→window
    // subtree in the physical plan (column pruning projects each branch's
    // exchange differently, so ReuseExchange cannot fold them — measured:
    // three duplicated Window blocks in every consumer's plan, x124/x117),
    // while the window form is ONE pass behind the single hash(domain)
    // exchange the gid window already pays — hash(domain) satisfies the
    // (domain, gid) clustering, so the two extra windows add only local
    // sorts. Semantics identical, incl. the pre-group-rule drop: a gid-0
    // rule row sees isagent = isstar = 0 and fails both filter arms, the
    // same outcome as the inner join finding no gid-0 group row.
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val wg = Window.partitionBy(col("domain"), col("__g_gid"))
    val wd = Window.partitionBy(col("domain"))
    parsed
      .withColumn("__g_isagent", max(
        when(col("__g_isua") && col("__g_ua") === agentLc, 1).otherwise(0))
        .over(wg))
      .withColumn("__g_isstar", max(
        when(col("__g_isua") && col("__g_ua") === "*", 1).otherwise(0))
        .over(wg))
      .withColumn("__g_hasagent", max(
        when(col("__g_isua") && col("__g_ua") === agentLc, 1).otherwise(0))
        .over(wd))
      .filter(col("__g_al") =!= "" || col("__g_di") =!= "")
      .filter((col("__g_hasagent") === 1 && col("__g_isagent") === 1) ||
        (col("__g_hasagent") === 0 && col("__g_isstar") === 1))
      .select(col("domain"),
        when(col("__g_al") =!= "", "allow").otherwise("disallow")
          .as("rtype"),
        when(col("__g_al") =!= "", col("__g_al")).otherwise(col("__g_di"))
          .as("rpath"))
  }

  /** X117 — the robots.txt crawl gate: every row comes back with
    * `url_norm`/`domain` (the [[Curation.normalizeUrl]] columns) plus
    *
    *  - `robots_disposition` — `malformed` (URL didn't parse — no
    *    identity, no verdict, x107's rule), `blocked` (a `Disallow`
    *    rule decided), `allowed` (an `Allow` rule decided, no rule
    *    matched, or the domain has no robots file — the web default);
    *  - `matched_rule` — the deciding rule's path, `''` when none
    *    decided.
    *
    * The verdict (RFC 9309 §2.2.2): among the selected rules whose path
    * literally prefixes the URL's canonical path-plus-query, the
    * LONGEST wins; an `Allow`/`Disallow` tie at the same length goes to
    * `Allow`. Encoded as one integer key `2·len + isAllow` so the
    * maximum IS the verdict — and because two same-length prefixes of
    * one string are equal, key ties can only carry the same path, so
    * the winner is deterministic on any engine and any evaluation
    * order.
    *
    * Scale shape: rules are collapsed to ONE array row per domain
    * (bounded by the 500 KiB file cap), so the gate is a single
    * domain-keyed equi-join plus a narrow higher-order-function verdict
    * per row — no per-rule row explosion on the corpus side, no
    * re-aggregation, no join-back; columns pass through untouched.
    * Stateless given the frozen rule table, so it rides Structured
    * Streaming as a stream-static join unchanged (pinned through a live
    * query in `RobotsSpec`). A curated-crawl
    * rule table small enough to broadcast composes with a broadcast
    * hint on `rules`; web-scale (~10⁸ domains) stays a shuffle join. */
  def robotsTxtGate(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame = {
    val byDomain = rules.groupBy(col("domain"))
      .agg(collect_list(struct(col("rtype"), col("rpath")))
        .as("__g_rules"))
    val staged = Curation.normalizeUrl(docs, urlCol)
      .join(byDomain, Seq("domain"), "left")
      .withColumn("__g_pq0",
        regexp_extract(col("url_norm"), "^[^:/?#]+://[^/?]*(.*)$", 1))
      .withColumn("__g_pq", when(col("__g_pq0").startsWith("/"),
        col("__g_pq0")).otherwise(concat(lit("/"), col("__g_pq0"))))
      .withColumn("__g_best", array_max(transform(
        filter(col("__g_rules"),
          r => startswith(col("__g_pq"), r.getField("rpath"))),
        r => struct(
          (length(r.getField("rpath")) * 2 +
            when(r.getField("rtype") === "allow", 1).otherwise(0))
            .as("k"),
          r.getField("rpath").as("p")))))
    staged
      .withColumn("robots_disposition",
        when(col("domain").isNull, "malformed")
          .when(col("__g_best").isNull, "allowed")
          .when(col("__g_best").getField("k") % 2 === 1, "allowed")
          .otherwise("blocked"))
      .withColumn("matched_rule",
        when(col("domain").isNull || col("__g_best").isNull, "")
          .otherwise(col("__g_best").getField("p")))
      .drop("__g_rules", "__g_pq0", "__g_pq", "__g_best")
  }

  /** Deterministic robots.txt fixture for the x117 driver row (the
    * x28/x106/x110 fixture pattern): one file per registrable domain of
    * the [[Curation.urlFixture]] URL space, content driven by the brand
    * number `b` and the tld class `t`, replayed byte-for-byte by the
    * oracle generator. Every parsing/matching policy is exercised
    * NON-VACUOUSLY so any rule failing open or closed breaks the hash:
    *
    *  - `b % 7 == 3` domains have NO file at all (absent ⟹ allowed; a
    *    distinct path from `b = 15`'s present-but-empty star group);
    *  - an ORPHAN `Disallow: /` before any group on `b % 10 == 7` — a
    *    parser that promotes orphans to global (or attaches them
    *    backward) blocks the whole domain and breaks the hash;
    *  - an `OtherBot` group disallowing everything — group selection
    *    must keep it away from [[CrawlerAgent]];
    *  - a `*` group with: prefix rule `/p/1` (blocks `/p/10`/`/p/11`
    *    too) on even `b`; `Allow: /p/11` on `b % 4 == 0` (longest-match
    *    override, live at brand0.com); a same-path Allow/Disallow TIE on
    *    `b % 5 == 1` (allow wins, live at brand6.com); an UPPERCASE
    *    `DISALLOW: /p/7` on `b % 3 == 1`; an empty `Disallow:` on
    *    `b % 6 == 2` (declares nothing); `Disallow: /` on every
    *    `.com.au` domain (the pathless-URL `/` match); a trailing
    *    comment on `b % 11 == 6`;
    *  - a SECOND `*` group on `b % 6 == 0` (`/p/3` — same-agent groups
    *    merge, live at brand6.co.uk);
    *  - an agent group on `b % 4 == 1` (header case-variant
    *    `User-Agent: GraftBot` on `b % 8 == 5`) — when present the `*`
    *    group is IGNORED (live on `.com.au`: star blocks all, agent
    *    doesn't);
    *  - a SHARED-header group (`graftbot` + `otherbot`) on `b % 9 == 4`
    *    — merges with the `b % 4 == 1` group at `b = 13`. */
  def robotsFixture(docs: DataFrame): DataFrame = {
    val domains = Curation.normalizeUrl(Curation.urlFixture(docs))
      .select(col("domain")).filter(col("domain").isNotNull).distinct()
    val withKeys = domains
      .withColumn("__g_b",
        regexp_extract(col("domain"), "^brand([0-9]+)\\.", 1).cast("long"))
      .withColumn("__g_t", when(col("domain").endsWith(".co.uk"), 0)
        .when(col("domain").endsWith(".com.au"), 1).otherwise(2))
    val b = col("__g_b")
    val t = col("__g_t")
    val nl = "\n"
    def line(cond: Column, text: String): Column =
      when(cond, nl + text).otherwise("")
    val txt = concat(
      concat(lit("# robots brand"), b.cast("string"), lit(" t"),
        t.cast("string")),
      // r19s3 x130 plants — Sitemap records at every structural
      // position (pre-group, mid-file between groups, post-group), all
      // invisible to the rule parser (spec-pinned): same-host ref on
      // b % 3 == 0; cross-host + UPPERCASE field + trailing comment on
      // b % 8 == 1 (below); relative → malformed on b % 12 == 5 (at
      // the file tail)
      when(b % 3 === 0, concat(lit(nl + "Sitemap: https://"),
        col("domain"), lit("/sitemap.xml"))).otherwise(""),
      line(b % 10 === 7, "Disallow: /"),
      lit(nl + nl + "User-agent: OtherBot" + nl + "Disallow: /"),
      when(b % 8 === 1, concat(lit(nl + "SITEMAP: https://cdn"),
        ((b + 2) % 23).cast("string"), lit(".example/sm.xml # mirror")))
        .otherwise(""),
      lit(nl + nl + "User-agent: *"),
      line(b % 2 === 0, "Disallow: /p/1"),
      line(b % 4 === 0, "Allow: /p/11"),
      line(b % 5 === 1, "Disallow: /p/2" + nl + "Allow: /p/2"),
      line(b % 3 === 1, "DISALLOW: /p/7"),
      line(b % 6 === 2, "Disallow:"),
      line(t === 1, "Disallow: /"),
      line(b % 11 === 6, "Disallow: /p/4 # trailing"),
      line(b % 6 === 0, nl + "User-agent: *" + nl + "Disallow: /p/3"),
      when(b % 4 === 1, concat(
        lit(nl + nl),
        when(b % 8 === 5, "User-Agent: GraftBot")
          .otherwise("User-agent: graftbot"),
        when(t === 2, nl + "Allow: /p/").otherwise(""),
        lit(nl + "Disallow: /p/5"))).otherwise(""),
      line(b % 9 === 4, nl + "User-agent: graftbot" + nl +
        "User-agent: otherbot" + nl + "Disallow: /p/9"),
      line(b % 12 === 5, "Sitemap: /sitemap.xml"))
    withKeys.filter(b % 7 =!= 3)
      .select(col("domain"), txt.as("robots_txt"))
  }

  /** Parse per-domain sitemap XML files (sitemaps.org protocol) into one
    * row per `<url>` entry: `(domain, entry_idx, loc_raw, lastmod,
    * changefreq, priority_milli)`. The parsing policy is an explicit
    * documented SUBSET shared verbatim with the x125 oracle (the
    * [[parseRules]] doctrine):
    *
    *  - entries are `<url>…</url>` blocks of a `<urlset>` document; each
    *    child field is extracted by its OWN tag pair, so child ORDER is
    *    free (the spec fixes it, real generators don't);
    *  - `<loc>` values are whitespace-trimmed (the spec's only allowed
    *    decoration); a missing or empty loc yields NULL — the entry
    *    surfaces as `malformed` downstream, never silently drops;
    *  - `<priority>` parses to MILLI-units (`0.5` → 500 — the x19/x113
    *    integer doctrine: no IEEE value on an oracle boundary) when it
    *    matches `[0-9]{1,3}(.[0-9]{1,3})?`; anything else — including
    *    absent — is NULL (the guard also keeps ANSI cast errors out:
    *    garbage priority is data, not an exception);
    *  - `<lastmod>`/`<changefreq>` ride as verbatim strings (W3C
    *    datetime validation is the consumer's policy decision);
    *  - sitemap INDEX files (`<sitemapindex>`) are out of scope here by
    *    design: their `<sitemap><loc>` children name more FILES to
    *    fetch, a frontier decision, not URL discovery — run the fetch
    *    loop driver-side and feed each leaf file back through this.
    *
    * Scale shape: ONE bounded explode per file (entries per sitemap —
    * the protocol caps a file at 50k entries) plus narrow per-entry
    * regexes; everything keyed on the sitemap table, never the corpus. */
  def parseSitemaps(sitemaps: DataFrame,
      xmlCol: String = "sitemap_xml"): DataFrame = {
    def nz(c: Column): Column = when(c === "", lit(null)).otherwise(c)
    sitemaps
      .select(col("domain"), posexplode(regexp_extract_all(col(xmlCol),
        lit("(?s)<url>(.*?)</url>"), lit(1))).as(Seq("entry_idx", "__g_b")))
      .withColumn("loc_raw", nz(regexp_replace(
        regexp_extract(col("__g_b"), "(?s)<loc>(.*?)</loc>", 1),
        "^\\s+|\\s+$", "")))
      .withColumn("lastmod", nz(regexp_extract(col("__g_b"),
        "(?s)<lastmod>(.*?)</lastmod>", 1)))
      .withColumn("changefreq", nz(regexp_extract(col("__g_b"),
        "(?s)<changefreq>(.*?)</changefreq>", 1)))
      .withColumn("priority_milli", {
        val p = regexp_extract(col("__g_b"),
          "(?s)<priority>(.*?)</priority>", 1)
        when(p.rlike("^[0-9]{1,3}(\\.[0-9]{1,3})?$"),
          (p.cast("decimal(7,3)") * 1000).cast("long"))
      })
      .drop("__g_b")
  }

  /** X125 — sitemap URL discovery: [[parseSitemaps]] entries judged
    * against the crawl's persisted [[TextDedup.urlIndex]] — the OTHER
    * feed of new URLs besides outlink extraction (x119 discovers what
    * pages link; sitemaps are what sites DECLARE — the protocol exists
    * because crawl-reachable ⊉ site-known). Every entry comes back with
    * the declaring domain (`sm_domain`), its canonical `url_norm`, the
    * metadata fields, the index's `canonical_doc_id` when already
    * crawled, and
    *
    *  - `sitemap_status` — `malformed` (loc missing/unparseable — no
    *    identity, x107's rule), `foreign` (the loc's registrable domain
    *    differs from the declaring domain — sitemaps.org's
    *    cross-submission rule: a sitemap only speaks for its own host,
    *    so a foreign loc is flagged BEFORE known/new is even asked),
    *    `known` (the index holds it), `new` (fetch candidate — feed it
    *    to [[WebGraph.crawlFrontier]]'s scoring alongside outlink
    *    candidates).
    *
    * Flags, not filters (the x73/x108 routing doctrine). Scale shape:
    * canonicalization rides the entry scan (narrow); the verdict is ONE
    * url_norm-keyed left join against the BUCKETED persisted index
    * (index side never re-shuffles — the x112 discipline); stateless
    * given the frozen index, so it rides Structured Streaming as a
    * stream-static join unchanged (pinned through a live query in
    * `SitemapSpec`). */
  def sitemapDiscovery(entries: DataFrame, fetched: DataFrame): DataFrame =
    Curation.normalizeUrl(
        entries.withColumnRenamed("domain", "sm_domain"), "loc_raw")
      .join(fetched.select(col("url_norm"), col("canonical_doc_id")),
        Seq("url_norm"), "left")
      .withColumn("sitemap_status",
        when(col("url_norm").isNull, "malformed")
          .when(col("domain") =!= col("sm_domain"), "foreign")
          .when(col("canonical_doc_id").isNotNull, "known")
          .otherwise("new"))
      .select(col("sm_domain"), col("entry_idx"), col("url_norm"),
        col("lastmod"), col("changefreq"), col("priority_milli"),
        col("canonical_doc_id"), col("sitemap_status"))

  /** X130 — `Sitemap:` declaration extraction from robots.txt files —
    * how sitemaps are DISCOVERED (RFC 9309 §2.3 / sitemaps.org: the
    * `Sitemap` field is a non-group record naming an absolute sitemap
    * URL; it is the handoff from the politeness file to the x125 parse
    * tier, closing the loop robots → sitemap ref → fetch → parse →
    * frontier). One row per declared ref, in file order:
    *
    *  - `domain` / `ref_idx` — the declaring file and the ref's
    *    position among the file's refs;
    *  - `sitemap_url` — the declared value verbatim (post comment
    *    strip, single whitespace-free token — [[parseRules]]' line
    *    policy applied identically, case-insensitive field name);
    *  - `url_norm` — its [[Curation.normalizeUrl]] canonical form
    *    (NULL = malformed declaration, flagged not dropped);
    *  - `ref_scope` — `same_host` when the ref's registrable domain
    *    equals the declaring domain, `cross_host` otherwise (the
    *    protocol ALLOWS cross-host refs; trusting one is the
    *    sitemaps.org cross-submission decision the owner makes, so the
    *    scope is named, never filtered — x73), `malformed` when the
    *    URL doesn't parse.
    *
    * Group-independent by design: a `Sitemap:` line is a valid record
    * ANYWHERE in the file — before any group, inside one, between two
    * — and never starts, ends, or joins a group (spec-pinned against
    * [[parseRules]] on the same bytes).
    *
    * Scale shape: one line explode + one anchored regex per line over
    * the ROBOTS table only (domain-keyed, file size bounded by the RFC
    * 9309 §2.5 cap), one narrow normalize — never touches the corpus. */
  def sitemapRefs(robots: DataFrame,
      txtCol: String = "robots_txt"): DataFrame = {
    val w = Window.partitionBy("domain").orderBy("pos")
    val refs = robots.select(col("domain"),
        posexplode(split(col(txtCol), "\n")).as(Seq("pos", "__g_line")))
      .withColumn("sitemap_url", regexp_extract(
        regexp_replace(col("__g_line"), "#.*", ""),
        "(?i)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^ \\t]*)", 1))
      .filter(col("sitemap_url") =!= "")
      .withColumn("ref_idx", row_number().over(w) - 1)
    Curation.normalizeUrl(
        refs.withColumnRenamed("domain", "sm_domain"), "sitemap_url")
      .withColumn("ref_scope",
        when(col("url_norm").isNull, "malformed")
          .when(col("domain") === col("sm_domain"), "same_host")
          .otherwise("cross_host"))
      .select(col("sm_domain").as("domain"), col("ref_idx"),
        col("sitemap_url"), col("url_norm"), col("ref_scope"))
  }

  /** X129 — sitemap-driven RECRAWL scheduling: parsed sitemap entries
    * ([[parseSitemaps]]) judged against the crawl's FETCH LOG
    * `(url_norm, fetched_at)` — the freshness decision every recurring
    * crawl makes (sitemaps exist so sites can TELL crawlers what
    * changed; `lastmod` against the last fetch time is the entire
    * protocol value of the field). Every entry comes back with the
    * declaring domain, its canonical `url_norm`, both timestamps, and
    *
    *  - `recrawl_verdict` — `audit` (loc malformed, or foreign — a
    *    sitemap only speaks for its own registrable domain, so its
    *    freshness claims about other hosts are noise), `fetch` (never
    *    fetched — the discovery feed), `refetch` (`lastmod` strictly
    *    after `fetched_at`), `fresh` (fetched and no evidence of
    *    change: `lastmod` absent or ≤ the fetch time — absence of a
    *    claim is NOT a change claim).
    *
    * Timestamp comparison is LEXICOGRAPHIC on the verbatim W3C
    * datetime strings — the documented subset: ISO-8601 prefixes sort
    * correctly at any shared granularity, and a bare date sorts before
    * the same day's datetimes (date-only = start of day); a deployment
    * mixing timezones normalizes upstream. Flags, not filters (x73).
    *
    * Scale shape: canonicalization rides the entry scan; ONE
    * url_norm-keyed left join against the fetch log (bucketable by the
    * [[TextDedup.writeUrlIndex]] layout — the log IS the crawl's
    * url-keyed spine) plus narrow verdict arithmetic; stateless given
    * the frozen log, so it streams as a stream-static join like
    * x125/x126. */
  def recrawlVerdicts(entries: DataFrame, fetchLog: DataFrame): DataFrame =
    Curation.normalizeUrl(
        entries.withColumnRenamed("domain", "sm_domain"), "loc_raw")
      .join(fetchLog.select(col("url_norm"), col("fetched_at")),
        Seq("url_norm"), "left")
      .withColumn("recrawl_verdict",
        when(col("url_norm").isNull, "audit")
          .when(col("domain") =!= col("sm_domain"), "audit")
          .when(col("fetched_at").isNull, "fetch")
          .when(col("lastmod").isNotNull &&
            col("lastmod") > col("fetched_at"), "refetch")
          .otherwise("fresh"))
      .select(col("sm_domain"), col("entry_idx"), col("url_norm"),
        col("lastmod"), col("fetched_at"), col("recrawl_verdict"))

  /** Deterministic fetch-log fixture for the x129 driver row: domains
    * with EVEN brand number hold a full log row per `/p/0..11` path
    * (odd-brand domains were never crawled — their entries exercise
    * `fetch`), `fetched_at = 2026-0{(p+b) % 9 + 1}-05` — interleaving
    * the sitemap fixture's `lastmod` month arithmetic so strictly-after,
    * equal-month-earlier-day and absent-lastmod comparisons all occur
    * (refetch/fresh both live, decided BY the string compare). */
  def fetchLogFixture(docs: DataFrame): DataFrame = {
    val domains = Curation.normalizeUrl(Curation.urlFixture(docs))
      .select(col("domain")).filter(col("domain").isNotNull).distinct()
      .withColumn("__g_b",
        regexp_extract(col("domain"), "^brand([0-9]+)\\.", 1).cast("long"))
      .filter(col("__g_b") % 2 === 0)
    domains
      .select(col("domain"), col("__g_b"),
        explode(sequence(lit(0), lit(11))).as("__g_p"))
      .select(
        concat(lit("https://"), col("domain"), lit("/p/"),
          col("__g_p").cast("string")).as("url_norm"),
        concat(lit("2026-0"),
          ((col("__g_p") + col("__g_b")) % 9 + 1).cast("string"),
          lit("-05")).as("fetched_at"))
  }

  /** Deterministic sitemap fixture for the x125 driver row (the
    * [[robotsFixture]] pattern): one XML file per registrable domain of
    * the [[Curation.urlFixture]] URL space with `b % 5 != 2` (those
    * domains publish none — absence is just zero rows), entries driven
    * by the brand number `b`, replayed byte-for-byte by the oracle
    * generator. Every parsing/judging policy is exercised NON-VACUOUSLY:
    *
    *  - `b % 3 + 2` plain entries (paths `/p/(b+i) % 12` over https on
    *    the bare domain) — 'known' exactly when the matching urlFixture
    *    class exists with no subdomain/query/http noise, 'new'
    *    otherwise, so BOTH verdicts are live and the judge is the join,
    *    not the fixture;
    *  - entry decoration: `(b+i) % 4 == 1` locs carry uppercase
    *    scheme+WWW host and a tracking param (normalization live);
    *    `(b+i) % 5 == 3` locs are wrapped in newline/space padding
    *    (the trim rule live); `(b+i) % 2 == 1` entries declare priority
    *    BEFORE lastmod (child order free);
    *  - metadata presence varies: lastmod on `(b+i) % 3 != 0`,
    *    changefreq on `(b+i) % 2 == 0` (daily/weekly/monthly by
    *    `(b+i) % 3`), priority on `(b+i) % 4 != 3` (`1.0`/`0.5`/`0.25`
    *    → 1000/500/250 milli);
    *  - `b % 4 == 2` domains append a FOREIGN entry (`brand(b+1)%23
    *    .com` — consecutive brands never collide mod 23);
    *  - `b % 6 == 1` domains append a malformed loc (`not a url`);
    *  - `b % 7 == 2` domains append an entry with NO loc at all. */
  def sitemapFixture(docs: DataFrame): DataFrame = {
    val domains = Curation.normalizeUrl(Curation.urlFixture(docs))
      .select(col("domain")).filter(col("domain").isNotNull).distinct()
    val withKeys = domains.withColumn("__g_b",
      regexp_extract(col("domain"), "^brand([0-9]+)\\.", 1).cast("long"))
    val b = col("__g_b")
    val nl = "\n"
    def s(c: Column): Column = c.cast("string")
    val entries = array_join(transform(sequence(lit(0), b % 3 + 1), i => {
      val key = b + i
      val loc0 = concat(
        when(key % 4 === 1, concat(lit("HTTPS://WWW."), upper(col("domain"))))
          .otherwise(concat(lit("https://"), col("domain"))),
        lit("/p/"), s(key % 12),
        when(key % 4 === 1, "?utm_source=sm").otherwise(""))
      val loc = when(key % 5 === 3,
        concat(lit(nl + "  "), loc0, lit(" " + nl))).otherwise(loc0)
      val lastmod = when(key % 3 =!= 0,
        concat(lit("<lastmod>2026-0"), s(key % 9 + 1), lit("-1"), s(key % 3),
          lit("</lastmod>"))).otherwise("")
      val changefreq = when(key % 2 === 0, concat(lit("<changefreq>"),
        when(key % 3 === 0, "daily").when(key % 3 === 1, "weekly")
          .otherwise("monthly"), lit("</changefreq>"))).otherwise("")
      val priority = when(key % 4 =!= 3, concat(lit("<priority>"),
        when(key % 4 === 0, "1.0").when(key % 4 === 1, "0.5")
          .otherwise("0.25"), lit("</priority>"))).otherwise("")
      concat(lit("<url><loc>"), loc, lit("</loc>"),
        when(key % 2 === 1, concat(priority, lastmod, changefreq))
          .otherwise(concat(lastmod, changefreq, priority)),
        lit("</url>"))
    }), nl)
    val extras = concat(
      when(b % 4 === 2, concat(lit(nl + "<url><loc>https://brand"),
        s((b + 1) % 23), lit(".com/x/f</loc></url>"))).otherwise(""),
      when(b % 6 === 1,
        lit(nl + "<url><loc>not a url</loc></url>")).otherwise(""),
      when(b % 7 === 2, lit(nl +
        "<url><lastmod>2026-02-03</lastmod></url>")).otherwise(""))
    withKeys.filter(b % 5 =!= 2)
      .select(col("domain"), concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" + nl +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          nl),
        entries, extras, lit(nl + "</urlset>")).as("sitemap_xml"))
  }
}
