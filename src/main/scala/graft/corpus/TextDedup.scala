package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline, over a
  * `documents(doc_id BIGINT, text STRING, ...)` corpus. The reference engine has no
  * corpus operators (it is a record-validation library); these extend the engine with
  * the standard dedup ladder — exact → exact-similarity (n-gram Jaccard) → sketch
  * (MinHash/LSH, SimHash) — each expressed Spark-first so Catalyst keeps scans
  * pruned and aggregations partial.
  *
  * Scale notes (the point of each design):
  *  - [[exact]] is one hash-aggregate: map-side partial agg means the shuffle
  *    carries one row per (partition × digest), not per document.
  *  - [[ngramJaccardPairs]] is an inverted-index self-join on shingles — the
  *    textbook exact algorithm, computed over a boilerplate-capped shingle
  *    universe (df ≤ maxDf) because the self-join is quadratic in per-shingle
  *    document frequency; at 100 TB you run [[minhashPairs]] instead and keep
  *    this as the verifier on candidates only.
  *  - [[minhashPairs]] does signature banding: candidates are pairs sharing a band
  *    bucket, so the join fan-out is bounded by bucket size, not corpus size; the
  *    exact-Jaccard verify then runs ONLY on candidates.
  *  - [[simhashPairs]] blocks on 8-bit signature chunks; by pigeonhole, any pair
  *    within Hamming distance 3 of a 32-bit signature shares at least one of the
  *    4 chunks, so the blocking is lossless for maxHamming <= 3.
  */
object TextDedup {

  /** Default benchmark slice for [[decontaminationReport]]: `doc_id % this == 0`.
    * Shared with the x22 oracle generator so the two cannot drift. */
  val DefaultBenchMod: Long = 50L

  /** Default exact-Jaccard near-dup threshold — shared by the whole dedup
    * ladder (x2/x3/x33/x40/x50) AND interpolated into their oracles, so a
    * retune cannot drift the two. */
  val DefaultJaccardThreshold: Double = 0.8

  /** Split single-space-separated text into its token array. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles of a token array (empty when < n tokens).
    * One compiled pass per row — see [[graft.functions.NGramShingles]] for why
    * the declarative HOF formulation was ~10× slower. */
  def shingles(ws: Column, n: Int): Column =
    graft.functions.NGramShingles(ws, n)

  /** Exact dedup: group documents by content digest; one row per distinct content
    * with the canonical (minimum) doc_id and the copy count. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(encode(col("text"), "UTF-8")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  /** X107 — canonical-URL exact dedup, the crawl-native identity pass a
    * production pipeline runs BEFORE any text operator (C4 §2.1 dedups by
    * URL before text; two fetches of one page differ in tracking params,
    * scheme case, and fragments long before they differ in bytes):
    * canonicalize every URL ([[Curation.normalizeUrl]]'s policy), group on
    * the canonical form, keep the minimum doc_id ([[exact]]'s keep-min
    * convention — one shared canonical-choice rule across the dedup
    * plane). Rows whose URL does not parse are EXCLUDED — an
    * uncanonicalizable URL has no identity key to collide on; routing
    * malformed rows is [[Curation.domainGate]]'s job, not a dedup verdict.
    *
    * Scale shape: the canonicalization is narrow codegen'd column work on
    * the scan, then ONE url_norm-keyed aggregate with map-side partials —
    * the same single-shuffle shape as [[exact]], and the key is the
    * canonical STRING (bounded — URLs cap at a few KB) so no second pass
    * re-fetches it. The malformed filter runs on the RAW url
    * ([[Curation.urlParses]], one regex, exactly `url_norm IS NOT NULL`):
    * filtering on url_norm itself invited the optimizer to push the
    * predicate to the scan with the whole parse chain substituted —
    * measured ~3 s of serialized re-evaluation per execution at sf0.1. */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame =
    Curation.normalizeUrl(
        docs.filter(Curation.urlParses(col(urlCol))), urlCol)
      .groupBy(col("url_norm"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  /** The persisted canonical-URL identity index — [[urlDedup]]'s output
    * shape `(url_norm, canonical_doc_id, n_copies)`, what a production
    * frontier writes out (bucketed on `url_norm` via
    * [[graft.util.BucketedTable]], the [[writeDedupIndex]] layout) so
    * every future crawl increment probes URL identity in place instead of
    * re-aggregating the corpus. */
  def urlIndex(docs: DataFrame, urlCol: String = "url"): DataFrame =
    urlDedup(docs, urlCol)

  /** Persist [[urlIndex]] BUCKETED on `url_norm` — the layout that lets
    * every future increment probe URL identity without re-shuffling the
    * index side (the [[writeDedupIndex]]/[[writeVocabulary]] discipline:
    * only the day's increment moves; the corpus-sized side never does
    * again). */
  def writeUrlIndex(index: DataFrame, tableName: String,
      buckets: Int = 16): Unit =
    graft.util.BucketedTable.write(index, tableName, buckets, "url_norm")

  /** X112 — INCREMENTAL canonical-URL dedup: flag arriving documents whose
    * canonical URL the corpus already holds, against a FROZEN [[urlIndex]]
    * (typically persisted/bucketed), without re-reading the corpus —
    * [[urlDedup]]'s ingest twin (the x40/x109 discipline: every dedup tier
    * a daily-ingest pipeline runs has a frozen-artifact form; the URL tier
    * is the FIRST one a crawl runs, on the frontier, often before the body
    * is even fetched). One row per flagged new document:
    * `(doc_id, url_norm, canonical_doc_id)` with the INDEX's canonical —
    * published identity is never reassigned by an increment, even when the
    * arriving doc_id sorts lower (divergence from the union-rebuild's
    * keep-min on exactly those rows, by design; spec-pinned). New
    * documents whose URL is unknown to the index are ABSENT ([[
    * incrementalDedup]]'s contract — they are the next snapshot's corpus),
    * as are malformed URLs (no identity key, [[urlDedup]]'s rule);
    * increment-internal collisions are deliberately NOT adjudicated here
    * (self-dedup the increment with [[urlDedup]] separately — the x109
    * convention).
    *
    * Scale shape: the increment canonicalizes narrow on its scan
    * ([[Curation.urlParses]] prefilter — one cheap pushable regex, the
    * x107 lesson); ONE equi-join keyed on `url_norm` against the index,
    * which reads in place when persisted/bucketed (only the day's
    * increment shuffles — the corpus-sized side never moves again, the
    * x40/x51/x54/x60 persisted-probe discipline). */
  def urlDedupAgainst(newDocs: DataFrame, index: DataFrame,
      urlCol: String = "url"): DataFrame =
    Curation.normalizeUrl(
        newDocs.filter(Curation.urlParses(col(urlCol))), urlCol)
      .select(col("doc_id"), col("url_norm"))
      .join(index.select(col("url_norm"), col("canonical_doc_id")),
        Seq("url_norm"))
      .select(col("doc_id"), col("url_norm"), col("canonical_doc_id"))

  /** One (doc_id, shingle) row per distinct shingle — the inverted-index posting
    * list (size-free: [[ngramJaccardPairs]] derives sizes from its df-capped
    * universe, and the decontamination builders only need the shingle keys). */
  private def postings(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(shingles(tokens(col("text")), n)).as("s"))

  /** Posting list with each document's distinct-shingle count riding along:
    * `(doc_id, n_shingles, s)` from ONE scan-and-shingle pass — `size(sh)`
    * is computed beside the explode, the [[decontaminationReport]] fusion.
    * Shingling is the hottest stage of every dedup operator, so the verify
    * path must never pay a second corpus pass (or a join) just to re-attach
    * set sizes; the 8-byte count per posting row in the shuffle is noise
    * next to either. */
  private def sizedPostings(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), shingles(tokens(col("text")), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("s"))

  /** Exact-Jaccard verification of candidate pairs against the FULL posting
    * lists ([[sizedPostings]] shape): intersection via two keyed shuffle
    * joins, with |A| and |B| read off the joined posting rows themselves —
    * no size table, no extra scan, no extra join. The joins stay plain
    * shuffle joins (candidates are small after blocking, AQE broadcasts
    * them if so). Sides may come from different corpora (incremental dedup
    * verifies new-vs-index pairs).
    *
    * Skew defense: a naturally-viral document (one doc_id_1 carrying a large
    * slice of the candidate set) lands its whole key on one reducer of the
    * first join. The joins are deliberately left as plain shuffle joins so
    * AQE's OptimizeSkewedJoin can split the oversized partition at runtime —
    * pinned by the skew spec in CorpusSpec, which drives this exact path
    * under production-shaped skew and asserts the skew-split engaged.
    * (package-private, not private, so the spec can drive it directly) */
  private[corpus] def verifyJaccard(candidates: DataFrame,
      p1: DataFrame, p2: DataFrame, threshold: Double): DataFrame =
    verifiedIntersections(candidates, p1, p2)
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The verify-on-candidates intersection core shared by [[verifyJaccard]]
    * and [[containmentVerify]] — `(doc_id_1, doc_id_2, c, n1, n2)` for every
    * candidate pair with a NON-EMPTY intersection (the two measures' kernels
    * are ratios of exactly these counts, [[sizedIntersections]]' columns, so
    * the two verifiers can never disagree with their exhaustive twins on the
    * universe they share). */
  private def verifiedIntersections(candidates: DataFrame,
      p1: DataFrame, p2: DataFrame): DataFrame =
    candidates
      .join(p1.as("a"), col("doc_id_1") === col("a.doc_id"))
      .join(p2.as("b"),
        col("doc_id_2") === col("b.doc_id") && col("a.s") === col("b.s"))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      // n_shingles is constant per doc_id; max() reads it without a
      // determinism hazard and without another shuffle
      .agg(count(lit(1)).as("c"), max(col("a.n_shingles")).as("n1"),
        max(col("b.n_shingles")).as("n2"))

  /** Exact n-gram Jaccard near-dup pairs: J(a,b) >= threshold, doc_id_1 < doc_id_2,
    * computed over the NON-BOILERPLATE shingle universe: shingles appearing in
    * more than `maxDf` documents are excluded from the similarity definition
    * entirely (postings AND set sizes), the standard move in corpus dedup — one
    * stopword-like shingle alone costs df² self-join rows, and shared boilerplate
    * carries no near-dup signal. Within that universe the computation is exact
    * and one-pass: inverted-index self-join → intersection counts → |A|,|B| via
    * two keyed shuffle joins (no broadcast: the size table is one row per
    * document). The df window reuses the self-join's hash partitioning on the
    * shingle, so the cap costs no extra shuffle. At test scale (corpus ≤ maxDf
    * documents) no shingle can exceed the cap, so this equals unrestricted J. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = DefaultJaccardThreshold,
      maxDf: Int = 1000): DataFrame =
    sizedIntersections(docs, n, maxDf)
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** The inverted-index core shared by the x2/x82 pairwise measures: for
    * every co-occurring pair over the df-capped shingle universe, the
    * intersection count and both capped set sizes —
    * `(doc_id_1, doc_id_2, c, n1, n2)`. One definition, so the two
    * measures can never disagree on the universe. */
  private def sizedIntersections(docs: DataFrame, n: Int,
      maxDf: Int): DataFrame = {
    val rare = postings(docs, n)
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .filter(col("df") <= maxDf)
      .select(col("doc_id"), col("s"))
    val inter = rare.as("a")
      .join(rare.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("c"))
    val sz = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    inter
      .join(sz.as("x"), col("doc_id_1") === col("x.doc_id"))
      .join(sz.as("y"), col("doc_id_2") === col("y.doc_id"))
      .select(col("doc_id_1"), col("doc_id_2"), col("c"),
        col("x.n_shingles").as("n1"), col("y.n_shingles").as("n2"))
  }

  /** Containment threshold for [[containmentPairs]]'s driver query — shared
    * with the x82 oracle generator so the two cannot drift. */
  val DefaultContainmentThreshold: Double = 0.8

  /** X82 — n-gram CONTAINMENT pairs (Broder 1997's second resemblance
    * measure): `C(A→B) = |A∩B| / |A|` over the same df-capped shingle
    * universe as [[ngramJaccardPairs]]. Containment is the relationship
    * Jaccard structurally CANNOT express: a short document quoted whole
    * inside a long one has `J ≈ |A|/|B| ≈ 0` but `C(A→B) ≈ 1` — the
    * quote/wrapper/boilerplate-envelope class a curation pass wants
    * flagged separately from near-identity (spec-pinned on exactly that
    * shape). Emits both directions (`containment_1` = fraction of
    * doc_id_1's shingles also in doc_id_2, `containment_2` the reverse);
    * a pair survives when EITHER direction crosses the threshold. Ratios
    * are single IEEE divisions of exact counts, emitted RAW (the x2
    * convention — no rounding, so no round-a-ratio tie class).
    *
    * Scale shape: identical to x2 — the [[sizedIntersections]] core is
    * shared verbatim, with the df cap bounding the self-join quadratic; at
    * 100 TB generate candidates with the sketch ladder and verify
    * containment on candidates only via [[containmentVerify]] (the x80
    * composition). */
  def containmentPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = DefaultContainmentThreshold,
      maxDf: Int = 1000): DataFrame =
    sizedIntersections(docs, n, maxDf)
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") / col("n1")).as("containment_1"),
        (col("c").cast("double") / col("n2")).as("containment_2"))
      .filter(col("containment_1") >= threshold ||
        col("containment_2") >= threshold)

  /** [[containmentPairs]] verified ON CANDIDATES — the 100 TB composition the
    * x82 scaladoc prescribes: a sketch tier (MinHash bands, SimHash chunks, a
    * persisted dedupIndex probe) proposes `(doc_id_1, doc_id_2)` pairs, and
    * ONLY those pairs pay the exact shingle-intersection cost, the same
    * verify-on-candidates shape as [[minhashPairs]]' Jaccard tier and
    * [[editVerify]]'s DP tier. Both containment directions are emitted and a
    * pair survives when EITHER crosses the threshold, identical ratios to the
    * exhaustive [[containmentPairs]] over the uncapped universe (the shared
    * [[verifiedIntersections]] core — spec-pinned equality on the candidate
    * subset; the exhaustive pass's df cap is a boilerplate-exclusion policy
    * of the UNIVERSE, inert at corpus ≤ maxDf docs, and a candidate verifier
    * inherits its universe from the generator's blocking instead). Joins
    * follow [[verifyJaccard]]'s doctrine — plain shuffle joins, candidates
    * small after blocking (AQE broadcasts them if so), viral-doc skew split
    * by AQE at runtime; the corpus-side postings are computed columns whose
    * stats Catalyst cannot understate, so editVerify's corpus-broadcast trap
    * does not arise here. Pairs with an EMPTY intersection emit no row
    * (containment 0 in both directions cannot cross any positive
    * threshold). */
  def containmentVerify(candidates: DataFrame, docs: DataFrame, n: Int = 3,
      threshold: Double = DefaultContainmentThreshold): DataFrame = {
    val p = sizedPostings(docs, n)
    // DISTINCT before the posting joins: sketch tiers naturally propose the
    // same pair once per colliding band/chunk, and a duplicate candidate row
    // would multiply the intersection count c (ratios > 1, false dups) —
    // the one aggregate in this family where dupes corrupt VALUES, not just
    // duplicate output rows. The frame is blocking-bounded, so the exchange
    // is small.
    verifiedIntersections(
        candidates.select(col("doc_id_1"), col("doc_id_2")).distinct(), p, p)
      .select(col("doc_id_1"), col("doc_id_2"),
        (col("c").cast("double") / col("n1")).as("containment_1"),
        (col("c").cast("double") / col("n2")).as("containment_2"))
      .filter(col("containment_1") >= threshold ||
        col("containment_2") >= threshold)
  }

  /** MinHash signatures: ONE narrow compiled pass per document
    * ([[graft.functions.MinHashSig]]) — a per-document value never needed the
    * explode → 64-min-column groupBy shuffle the first formulation paid. Each
    * shingle STRING is hashed once; the i-th family value re-hashes that
    * fixed-width long with a per-family salt (the hash-once-then-salt scheme,
    * byte-identical to the `xxhash64(s)` / `xxhash64(i, h)` chain — pinned in
    * EquivalenceSpec). A salted re-hash is used instead of the classic
    * `a*h+b` permutation, which under Spark 4's default ANSI mode would raise
    * on the (intended) 64-bit wraparound. Docs with no shingles (< n tokens)
    * produce no row, matching the groupBy build's semantics. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 64): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.MinHashSig(shingles(tokens(col("text")), n), numHashes)
          .as("sig"))
      .filter(size(col("sig")) > 0)

  /** MinHash + LSH near-dup pairs: band the signature, bucket-join, then verify
    * candidates with EXACT n-gram Jaccard (so false positives are eliminated; with
    * 16 bands x 4 rows a J=0.8 pair is missed with probability (1-0.8^4)^16 ~ 2e-4,
    * and the candidate set is deterministic for the fixed seed). */
  def minhashPairs(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = DefaultJaccardThreshold): DataFrame = {
    val banded = bandBuckets(docs, n, numHashes, bands)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    // exact-Jaccard verify on candidates only — sizes ride the postings,
    // so verification costs ONE shingle pass, not two plus a size join
    val p = sizedPostings(docs, n)
    verifyJaccard(candidates, p, p, threshold)
  }

  /** LSH band buckets of every document's MinHash signature: one
    * (doc_id, band, bucket) row per band, bucket = hash of the band's
    * signature slice. The join key both self-dedup and incremental dedup
    * block on. */
  private def bandBuckets(docs: DataFrame, n: Int, numHashes: Int,
      bands: Int): DataFrame =
    minhashSignatures(docs, n, numHashes).select(col("doc_id"),
      explode(bandStructs(col("sig"), numHashes, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** The (band, bucket) struct array for a signature column — the ONE place
    * banding geometry lives. */
  private def bandStructs(sig: org.apache.spark.sql.Column,
      numHashes: Int, bands: Int): org.apache.spark.sql.Column = {
    // loud geometry guard: bands > numHashes gives rows = 0, making every
    // band's slice EMPTY — all documents hash to one constant bucket and the
    // band join degenerates to the full N² cross product banding exists to
    // prevent; a non-divisor silently drops the trailing signature rows and
    // changes the documented (1-J^r)^b recall math. Both are config errors,
    // never data conditions, so fail at plan build
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * rows + 1, rows), _.cast("string"))))
          .as("bucket"))): _*)
  }

  /** The persisted dedup index: every document's LSH band buckets,
    * `(doc_id, band, bucket)` — what a production deployment writes out
    * (bucketed by (band, bucket)) so that increments ([[incrementalDedup]])
    * join against the index instead of recomputing the corpus side. Narrow
    * end to end: the signature is a compiled per-row pass and the banding an explode of a
    * per-row struct array — building the index never shuffles the corpus. */
  def dedupIndex(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    bandBuckets(docs, n, numHashes, bands)

  /** Persist [[dedupIndex]] BUCKETED on its join key — the layout that makes
    * every future increment join against the index without re-shuffling the
    * index side (only the day's increment moves; the corpus-sized table never
    * does again). `sortBy` keeps each bucket sorted so the sort-merge join
    * skips the index-side sort too. Spec-pinned: a probe join against the
    * written table plans exactly ONE exchange — the increment's. At 100 TB
    * the bucket count is sized to the cluster (buckets ≈ executors × a small
    * factor), not this test default. */
  def writeDedupIndex(index: DataFrame, tableName: String,
      buckets: Int = 16): Unit =
    graft.util.BucketedTable.write(index, tableName, buckets, "band", "bucket")

  /** Incremental near-dup dedup — the production shape: flag NEW documents
    * that near-duplicate an EXISTING corpus, without ever comparing new docs
    * to each other or old docs to each other (a daily increment is deduped
    * against the index, then self-deduped separately if desired). For each
    * flagged new document: its best old match (max Jaccard, min old doc_id on
    * ties — deterministic) and how many old documents it matched. New
    * documents with no near-dup in the corpus are absent.
    *
    * Scale shape: signatures and band buckets per side, a new×old
    * bucket-equality join (fan-out bounded by band-bucket occupancy, never
    * |new|×|old|), exact-Jaccard verify on candidates only, then one window
    * over the FLAGGED set. In production the old side's buckets and postings
    * are a precomputed, persisted index that only the increment is joined
    * against — recomputed here so the driver query stays self-contained.
    * Recall: identical banding to [[minhashPairs]] (same ~2e-4 miss at
    * J = 0.8, documented at the x3/x33 oracles). */
  def incrementalDedup(newDocs: DataFrame, oldDocs: DataFrame, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = DefaultJaccardThreshold): DataFrame = {
    val candidates = bandBuckets(newDocs, n, numHashes, bands).as("a")
      .join(bandBuckets(oldDocs, n, numHashes, bands).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    val verified = verifyJaccard(candidates,
      sizedPostings(newDocs, n), sizedPostings(oldDocs, n), threshold)
    val byNew = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id_1"))
    // rank on the ROUNDED similarity (the reported value), so the winner is
    // engine-independent even when two matches differ by an ulp
    val best = byNew.orderBy(round(col("jaccard"), 6).desc, col("doc_id_2"))
    verified
      .withColumn("rn", row_number().over(best))
      .withColumn("n_matches", count(lit(1)).over(byNew))
      .filter(col("rn") === 1)
      .select(col("doc_id_1").as("doc_id"),
        col("doc_id_2").as("matched_doc_id"),
        round(col("jaccard"), 6).as("jaccard"), col("n_matches"))
  }

  /** Apply the dedup decision — the final ladder step after
    * [[dedupClusters]]: drop every cluster member except its canonical
    * survivor and return the surviving corpus. Documents that never appeared
    * in a near-dup pair are untouched (they are absent from the cluster
    * table). This is the step that actually shrinks the training set; the
    * rungs before it only decide.
    *
    * Scale shape: one anti-join keyed on doc_id against the drop list
    * (cluster members whose id is not the canonical minimum). The drop list
    * is the near-dup population — usually a small fraction of the corpus —
    * so AQE broadcasts it when it fits; no hint, because a pathological
    * all-duplicates corpus would OOM a forced broadcast. */
  def applyDedup(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Per-source boilerplate report — the web-scrape curation signal
    * [[crossDocSpans]] aggregates per DOCUMENT, flipped to name the SPANS:
    * for each source, the `topK` token windows shared by the most of its own
    * documents (headers, footers, navigation chrome, license blurbs — text a
    * scrape repeats across a domain's pages). `n_docs` counts documents, not
    * occurrences — [[shingles]] is distinct-per-document, so the plain count
    * IS the document frequency; `df_frac` normalizes by the source's doc
    * count (1.0 = every page carries it, the classic template fingerprint).
    *
    * Scale shape: one (source, gram)-keyed map-side-partial aggregate (skew
    * bounded by a single domain's window vocabulary), the per-source doc
    * totals broadcast (source-cardinality bounded, like X22's bench side),
    * and the top-k window partitions on the source.
    *
    * `hashGrams = true` is the 100 TB shuffle-width switch: the corpus-sized
    * doc-frequency shuffle keys on `xxhash64(gram)` (8 bytes, vs a
    * `spanTokens`-token string), and — unlike [[crossDocSpans]] — the OUTPUT
    * here names the winning spans, so the strings are recovered afterwards
    * for candidates only: `rank() <= topK` over the hashed counts (rank, not
    * row_number, so every tie that could place top-k under the string
    * tiebreak survives — lossless), broadcast back onto the narrow gram
    * stream, then the final (n_docs desc, gram) ordering is applied to the
    * recovered strings. Only the tiny candidate set ever shuffles with its
    * string attached. Spec-pinned equal to the string-keyed path. */
  def boilerplateReport(docs: DataFrame, spanTokens: Int = SpanTokens,
      topK: Int = BoilerplateTopK, hashGrams: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val grams = docs.select(col("source"), col("doc_id"),
      explode(shingles(tokens(col("text")), spanTokens)).as("gram"))
    // shingles() is distinct-per-document, so the plain count IS the doc freq
    val df =
      if (!hashGrams)
        grams.groupBy(col("source"), col("gram"))
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= BoilerplateMinDf)
      else {
        val dfh = grams.select(col("source"), xxhash64(col("gram")).as("gh"))
          .groupBy(col("source"), col("gh")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= BoilerplateMinDf)
        val cand = dfh.withColumn("rk", rank().over(
            w.partitionBy(col("source")).orderBy(col("n_docs").desc)))
          .filter(col("rk") <= topK).drop("rk")
        // NO broadcast hint: rank()-with-ties keeps the candidate set
        // unbounded on a heavily templated source (every gram tied at the
        // same df ranks 1), and a forced broadcast of a vocabulary-sized
        // tie set would OOM — AQE broadcasts it when it is actually small,
        // the same no-forced-hint discipline as applyDedup's drop list
        grams.select(col("source"), col("gram"), xxhash64(col("gram")).as("gh"))
          .join(cand, Seq("source", "gh"))
          .select(col("source"), col("gram"), col("n_docs"))
          .distinct()
      }
    val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("src_docs"))
    df.join(broadcast(tot), "source")
      .withColumn("rank", row_number().over(
        w.partitionBy(col("source")).orderBy(col("n_docs").desc, col("gram"))))
      .filter(col("rank") <= topK)
      .select(col("source"), col("gram"), col("n_docs"), col("rank"),
        round(col("n_docs").cast("double") / col("src_docs"), 6).as("df_frac"))
  }

  /** Dedup cluster formation — the FINAL rung of the dedup ladder: given
    * near-dup PAIRS (from [[ngramJaccardPairs]] / [[minhashPairs]] /
    * [[simhashPairs]]), form connected components and elect the minimum doc id
    * as each cluster's canonical survivor (every other member is the drop
    * list). Pregel-style min-label propagation, converging in O(component
    * diameter) rounds — near-dup clusters are shallow by nature, so a handful
    * of rounds suffice at any corpus size (the driver loop only checks a
    * converged flag, it never collects the data).
    *
    * Per-iteration cost is ONE shuffle, a CONSTANT-SIZE plan, and BOUNDED
    * storage:
    *  - both edge directions come from one `explode` over the pair stream (a
    *    `union` of two selects would compute the upstream candidate pipeline
    *    twice when the cache first materializes);
    *  - edges are hash-partitioned on `src` once and cached, so the
    *    per-iteration join never re-shuffles the (larger) edge side — only the
    *    label rows move;
    *  - the aggregate carries each node's previous label through (its own row
    *    contributes `prev = label`, neighbor contributions `prev = MaxValue`,
    *    `min(prev)` recovers it), so convergence ("no label decreased") is a
    *    count over the new round itself — never a second join against the old
    *    labels. The checkpoint is LAZY and that convergence count is its
    *    materializing action, so each round is ONE Spark job (shuffle +
    *    persist + check fused), not a checkpoint job plus a check job;
    *  - each round ends in a `localCheckpoint`, because the loop body
    *    references `labels` twice (join + union): building on the previous
    *    round's plan would DOUBLE the logical plan per round — exponential
    *    analysis/codegen cost that OOMs the driver near ~15 rounds — while a
    *    checkpoint keeps every round's plan flat. The PREVIOUS round's
    *    checkpoint is freed as soon as the new round materializes, so at most
    *    two label tables are ever held, not one per round. (Deployments that
    *    must survive executor loss mid-computation swap in reliable
    *    `checkpoint` against the cluster checkpoint dir — same shape.)
    *
    * Throws if the components have not converged after `maxIterations` rounds
    * (diameter > maxIterations) — partially-propagated labels are silently
    * WRONG cluster ids, so refusing beats returning them.
    *
    * @param onConverged called once with the converged round count (after the
    *                    free star-init round) — scaling harnesses assert the
    *                    count stays FLAT as the corpus grows; never called on
    *                    the non-convergence throw
    * @return (doc_id, cluster_id) for every document that appears in a pair. */
  def dedupClusters(pairs: DataFrame, maxIterations: Int = 20,
      onConverged: Int => Unit = _ => ()): DataFrame = {
    // fail loudly if a Spark upgrade ever stops exposing the checkpoint as a
    // bare LogicalRDD — silently returning nothing here would quietly degrade
    // the documented two-table memory bound to one-table-per-round. (The
    // FINAL round's checkpoint backs the returned labels and is released by
    // the ContextCleaner once the caller drops the result.)
    def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.getOrElse(throw new IllegalStateException(
        "localCheckpoint no longer yields a bare LogicalRDD plan — " +
          "dedupClusters' per-round checkpoint release needs re-wiring"))
    val edges = pairs
      .select(explode(array(
        struct(col("doc_id_1").as("src"), col("doc_id_2").as("dst")),
        struct(col("doc_id_2").as("src"), col("doc_id_1").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .repartition(col("src"))
      .persist()
    try {
      // star-init: seed each node with min(self, neighbors) — the same single
      // shuffle a bare `distinct` would cost (groupBy on the symmetrized src),
      // but it runs the first propagation round for free, so star-shaped and
      // small-diameter components (the common near-dup case) converge one
      // join+agg round earlier
      var labels = edges.groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("nmin"))
        .select(col("node"), least(col("node"), col("nmin")).as("label"))
        .localCheckpoint()
      var labelsRdd = checkpointRdd(labels)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIterations) {
        val next = labels
          .select(col("node"), col("label"), col("label").as("prev"))
          .union(edges.join(labels, col("src") === col("node"))
            .select(col("dst").as("node"), col("label"),
              lit(Long.MaxValue).as("prev")))
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
          .localCheckpoint(false) // lazy: marked, not yet computed
        // the full-scan count is the checkpoint's materializing action: every
        // partition computes (and persists) exactly once, and the same job
        // answers convergence — one Spark job per round, not checkpoint+check
        converged = next.filter(col("label") < col("prev")).count() == 0L
        labelsRdd.unpersist(false) // free the superseded round NOW
        labels = next.select(col("node"), col("label"))
        labelsRdd = checkpointRdd(next)
        iter += 1
      }
      require(converged,
        s"dedupClusters did not converge within $maxIterations rounds — " +
          "a component's diameter exceeds the bound; raise maxIterations")
      onConverged(iter)
      labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    } finally edges.unpersist()
  }

  /** Cross-source overlap matrix — the dedup GOVERNANCE report: given near-dup
    * pairs (from [[minhashPairs]] et al.) and the corpus, how many near-dup
    * pairs link each pair of sources, and how similar the worst one is. This
    * is the audit that tells a curation team which domains are mirroring each
    * other (and whether within-domain duplication dominates cross-domain).
    * Source pairs are name-ordered (`least`/`greatest`) so the matrix is one
    * row per unordered pair; `max_jaccard` (order-independent, rounded) keeps
    * the output oracle-exact where an order-sensitive double `avg` would not
    * be.
    *
    * Scale shape: the pair set is the (bounded) near-dup output, the source
    * map is one narrow projection of the corpus; the two keyed joins shuffle
    * on doc id — no broadcast hint, because the source map is per-document
    * sized (AQE broadcasts the pair side if it turns out small). The final
    * aggregate is at most |sources|² rows. */
  def crossSourceOverlap(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.as("sa"), col("doc_id_1") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_id_2") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"),
        col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
  }

  /** Benchmark decontamination — the eval-leak check every training corpus runs
    * before release: flag training documents sharing at least one word n-gram
    * with a held-out benchmark set, reporting how many of the document's
    * distinct shingles are contaminated. The benchmark here is the
    * deterministic `doc_id % benchMod == 0` slice; in deployment it is the eval
    * suites themselves.
    *
    * Scale shape: the benchmark shingle set is bounded by the EVAL SUITE size,
    * not the corpus, so broadcasting it is the correct plan at 100 TB — the
    * training side then semi-joins against it with no shuffle of the corpus
    * postings at all. The train side is shingled ONCE: each posting carries
    * its document's shingle-set size alongside the explode, so no second
    * scan-and-shingle pass (the hottest stage of every dedup operator) and no
    * join to re-attach sizes. Shingle sets are distinct per document, so the
    * hit count is a plain `count`, no `countDistinct` re-shuffle. */
  def decontaminationReport(docs: DataFrame, n: Int = 3,
      benchMod: Long = DefaultBenchMod): DataFrame = {
    val isBench = col("doc_id") % benchMod === 0
    val benchShingles = postings(docs.filter(isBench), n)
      .select(col("s")).distinct()
    docs.filter(!isBench)
      .select(col("doc_id"), shingles(tokens(col("text")), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("s"))
      .join(broadcast(benchShingles), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contaminated_frac"))
  }

  /** x59 — [[decontaminationReport]] behind a BLOOM PREFILTER, the plan for
    * benchmark/blocklist sets too large to hash-join cheaply against every
    * posting: the bench shingle set is folded once into a driver-held bloom
    * filter (`functions.BloomGate` — bits ∝ set size, ~1.2 MB per 1M
    * shingles at 1% fpp), the corpus postings are gated by a NARROW
    * codegen'd `might_contain` before any join, and only the surviving
    * ~fpp fraction reaches the exact broadcast semi-join that kills the
    * bloom's false positives. No false negatives exist, so the output is
    * BIT-IDENTICAL to [[decontaminationReport]] (same oracle) — the bloom
    * changes the plan, never the answer. At 100 TB the gate drops ~99% of
    * postings before the join probe; the blob broadcasts as a literal, so
    * the same gate composes unchanged onto an ingest stream. */
  def decontaminationReportBloom(docs: DataFrame, n: Int = 3,
      benchMod: Long = DefaultBenchMod, fpp: Double = 0.01): DataFrame = {
    val isBench = col("doc_id") % benchMod === 0
    // persisted for the two EAGER consumers inside this call (the sizing
    // count and the bloom fold), then released in the finally — a lazy
    // persist would sit in the session CacheManager forever (it holds cached
    // plans strongly; the ContextCleaner never reclaims them). The third
    // consumer — the exact-verify broadcast in the returned lazy plan —
    // re-reduces the bench side once at consumption time: that side is
    // bounded by the EVAL SUITE size, so one extra reduction is noise next
    // to the corpus scan it verifies.
    val benchShingles = postings(docs.filter(isBench), n)
      .select(col("s")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // two control-plane driver syncs, both bounded by the eval-suite size:
    // the distinct-shingle count sizes the filter, the build collects it
    val bloom = try {
      val expected = math.max(1L, benchShingles.count())
      graft.functions.BloomGate.build(benchShingles, "s", expected, fpp)
    } finally benchShingles.unpersist(blocking = false)
    docs.filter(!isBench)
      .select(col("doc_id"), shingles(tokens(col("text")), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("s"))
      .filter(graft.functions.BloomGate.mightContain(bloom, col("s")))
      .join(broadcast(benchShingles), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contaminated_frac"))
  }

  /** Engine-neutral 32-bit SimHash: bit i of the signature is the sign of the
    * token-frequency-weighted sum of bit i of md5(token), where "bit i" is the high
    * bit of the i-th hex nibble. md5 (not xxhash) so the DuckDB oracle reproduces
    * the signature exactly. Computed per document in one compiled pass — see
    * [[graft.functions.Simhash32]]: the signature is a per-document scalar, so the
    * previous explode → 32-conditional-sums → groupBy shape paid a one-row-PER-TOKEN
    * shuffle for nothing. ZERO shuffles now. */
  def simhash(docs: DataFrame): DataFrame =
    // NULL text has no tokens and no fingerprint (winnowFingerprint's
    // convention); the condition is filtered on the INPUT (Simhash32 is
    // NULL iff its token array is, i.e. iff text is NULL) — a result-side
    // `simhash.isNotNull` filter would push the whole md5-per-token
    // expression below any upstream exchange and re-evaluate it in the
    // scan-side stage (winnowFingerprint's measured 5× lesson)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.Simhash32(tokens(col("text"))).as("simhash"))

  /** Span width (tokens) for [[crossDocSpans]]'s driver query — shared with
    * the x37 oracle generator so the two cannot drift. Wider than the 3-gram
    * near-dup shingles: this signal targets verbatim boilerplate runs. */
  val SpanTokens: Int = 5

  /** Top-k spans per source and the minimum doc-frequency floor for
    * [[boilerplateReport]]'s driver query — shared with the x48 oracle
    * generator (the SpanTokens pattern) so the two cannot drift. */
  val BoilerplateTopK: Int = 3
  val BoilerplateMinDf: Int = 2

  /** Cross-document duplicated-span report — the per-document signal behind
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): for each document, the fraction of its
    * `spanTokens`-token window positions whose window also occurs in at least
    * one OTHER document. Duplication is by document frequency — intra-document
    * repetition (x21's job) does not count. High `dup_span_frac` = shared
    * boilerplate (headers, licenses, templates) that inflates memorization.
    * Documents shorter than one window are absent.
    *
    * Scale shape: no self-join anywhere (unlike pairwise x2) — the postings
    * stream shuffles once keyed on the window to build the document
    * frequency table (map-side partial after a narrow per-doc distinct), and
    * once more to join frequencies back; both are linear in corpus size.
    * `hashGrams = true` is the 100 TB shuffle-width switch: both shuffles key
    * on `xxhash64(window)` — 8 bytes instead of a `spanTokens`-token string —
    * which the per-doc aggregate output never exposes, so the result is
    * identical up to 64-bit collisions (~N²/2⁶⁵: negligible at any corpus
    * size that fits on a cluster; a collision can only over-count one
    * window position as duplicated). Spec-pinned equal to the string-keyed
    * path on the fixture corpus. */
  def crossDocSpans(docs: DataFrame, spanTokens: Int = SpanTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    // array materialized once per row; slice inside the lambda reads it
    val gramsExpr = s"transform(sequence(1, size(ws) - ${spanTokens - 1}), " +
      s"i -> array_join(slice(ws, i, $spanTokens), ' '))"
    val posStr = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= spanTokens)
      .select(col("doc_id"), explode(expr(gramsExpr)).as("g"))
    // the hash projection is NARROW (before either shuffle), so the wide
    // strings never leave the scan-side stage
    val pos = if (hashGrams)
      posStr.select(col("doc_id"), xxhash64(col("g")).as("g"))
    else posStr
    val df = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    pos.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_positions"))
      .withColumn("dup_span_frac",
        round(col("n_dup_positions").cast("double") / col("n_positions"), 6))
  }

  /** Minimum span length (tokens) for [[duplicatedSpans]]' driver query —
    * Lee et al. 2022's ExactSubstr threshold (50 tokens), shared with the
    * x99 oracle generator so the two cannot drift. */
  val ExactSubstrMinTokens: Int = 50

  /** X99 — exact-substring duplicate SPANS at ExactSubstr length (Lee et
    * al. 2022 §4.1: report/remove verbatim duplicated substrings of ≥ 50
    * tokens, the published dedup tier above window-level x37/x83): per
    * document, every MAXIMAL run of consecutive duplicated window
    * positions whose covered span reaches `minTokens`, as
    * (doc_id, start_pos, n_span_tokens, span_text). A window position is
    * duplicated exactly as in [[crossDocSpans]]: its `spanTokens`-token
    * window occurs in ≥ 2 distinct documents (intra-document repetition
    * does not count). Adjacent duplicated positions chain: a run of
    * window STARTS [a..b] covers tokens [a .. b+spanTokens−1], so span
    * length = b − a + spanTokens.
    *
    * Relation to the suffix-array formulation (the paper builds one):
    * chained fixed windows are the keyed-linear equivalent with one
    * one-sided error. NO FALSE NEGATIVES — a true verbatim span of ≥
    * `minTokens` tokens shared by two documents has every one of its
    * windows duplicated, so a maximal detected run COVERS it (both
    * copies). The approximation is a possible OVER-extension: consecutive
    * windows may be duplicated against DIFFERENT partner documents, so a
    * reported span need not occur verbatim in any single other document —
    * chains splice at shared `spanTokens−1`-token seams exactly like
    * x83's coverage semantics (documented there; same trade, same
    * defense: at dedup time over-removal of boilerplate seams is the
    * conservative direction). Tightening `spanTokens` toward `minTokens`
    * shrinks the splice surface at shuffle-width cost.
    *
    * Scale shape (the reason this is NOT a distributed suffix array): the
    * gram-df stage is [[crossDocSpans]]' two linear gram-keyed shuffles —
    * nothing pairwise, skew bounded by the most-viral gram; the run-merge
    * is one per-document window over DUPLICATED positions only (bounded
    * by document length — a per-doc key can never concentrate a corpus);
    * the span-text fetch joins the bounded run table back to the token
    * arrays on doc_id. `hashGrams = true` is the x37 shuffle-width
    * switch; a 64-bit collision can merge two gram families and extend a
    * run (~G²/2⁶⁵ — measurement noise; the string path is what the
    * oracle pins). Reference scope note: the reference pipeline
    * (hri-flink-pipeline-core) has no dedup plane at all — this extends
    * the training-data surface alongside x37/x83. */
  def duplicatedSpans(docs: DataFrame, spanTokens: Int = SpanTokens,
      minTokens: Int = ExactSubstrMinTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " be reported — every detected span covers at least one window")
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val pos = positionalGrams(ws, spanTokens, hashGrams)
    val df = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    // (doc, pos) is unique by construction (one window per position), so
    // the df probe needs no distinct
    mergeSpanRuns(ws,
      pos.join(df, "g").filter(col("df") >= 2)
        .select(col("doc_id"), col("pos")),
      spanTokens, minTokens)
  }

  /** X100 — [[duplicatedSpans]]' increment twin: exact-substring spans of
    * an ARRIVING batch against a FROZEN reference span vocabulary
    * ([[spanVocabulary]], typically persisted) — the ingest-time screen
    * that reports, per new document, every maximal ≥ `minTokens` run of
    * window positions whose window the existing corpus already contains
    * (long verbatim overlap = memorization fodder / license boilerplate —
    * what a curation pipeline inspects BEFORE folding a crawl in; x22
    * flags eval leakage binarily, x54 scores gram mass, this one hands
    * back the actual spans). The x84/x40 role split verbatim: spans
    * duplicated only WITHIN the increment are deliberately absent — they
    * are the next snapshot's [[duplicatedSpans]] problem, not the frozen
    * vocabulary's — so when increment documents share spans only with the
    * reference, the report equals the self-contained x99 run on
    * reference ∪ increment restricted to increment rows (spec-pinned
    * decomposition, splice caveat and all: consecutive windows may match
    * DIFFERENT reference documents and chain).
    *
    * `hashGrams` must match how the vocabulary was built (loud at
    * construction, the novelty-plane rule); a 64-bit collision can only
    * extend a run — the conservative direction for a screen.
    *
    * Scale shape: the increment explodes once; ONE gram-keyed semi-join
    * against the vocabulary (reading in place when persisted/bucketed —
    * the reference corpus is never re-read, the x40/x51/x54/x60
    * persisted-probe discipline); the run merge is the per-document
    * islands window over matched positions only; the span-text fetch
    * joins the bounded run table back to the increment's token arrays. */
  def duplicatedSpansAgainst(newDocs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = SpanTokens, minTokens: Int = ExactSubstrMinTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " be reported — every detected span covers at least one window")
    requireVocabMode(refGrams, hashGrams, "duplicatedSpansAgainst")
    val ws = newDocs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    mergeSpanRuns(ws,
      positionalGrams(ws, spanTokens, hashGrams)
        .join(refGrams.select(col("g")), Seq("g"), "left_semi")
        .select(col("doc_id"), col("pos")),
      spanTokens, minTokens)
  }

  /** The islands-and-gaps run merge + span-text fetch [[duplicatedSpans]]
    * and [[duplicatedSpansAgainst]] share, so their maximal-run and bounds
    * definitions cannot drift: merge consecutive duplicated positions
    * (pos − row_number constant exactly on a run; the per-document window
    * ranks duplicated positions only — bounded by document length, a
    * per-doc key can never concentrate a corpus), gate on the covered
    * length, slice the span text from the token arrays. */
  private def mergeSpanRuns(ws: DataFrame, dup: DataFrame,
      spanTokens: Int, minTokens: Int): DataFrame =
    maximalRuns(dup, spanTokens, minTokens)
      .select(col("doc_id"), col("a").cast("long").as("start_pos"),
        col("n_span_tokens"))
      .join(ws, "doc_id")
      .select(col("doc_id"), col("start_pos"), col("n_span_tokens"),
        array_join(slice(col("ws"), col("start_pos").cast("int"),
          col("n_span_tokens").cast("int")), " ").as("span_text"))

  /** The ONE islands key ([[maximalRuns]] and [[runQualified]] both build
    * on it, so the run definition cannot drift): pos − row_number over
    * per-document pos order is constant exactly on a consecutive run.
    * Extra columns (e.g. a removability flag) ride through untouched;
    * `(doc_id, pos)` must be unique (one window per position — true for
    * every caller by construction). The per-document window ranks
    * DUPLICATED positions only — bounded by document length, a per-doc
    * key can never concentrate a corpus. */
  private def runGroups(dup: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    dup.withColumn("grp", col("pos") - row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
  }

  /** The ONE maximal-run definition ([[duplicatedSpans]],
    * [[duplicatedSpansAgainst]], [[spanScrubLong]]): islands-and-gaps over
    * `(doc_id, pos)` duplicated window starts ([[runGroups]]), gated on
    * covered span length. Returns `(doc_id, a, b, n_span_tokens)` with
    * [a..b] the run's window-start range. */
  private def maximalRuns(dup: DataFrame, spanTokens: Int,
      minTokens: Int): DataFrame =
    runGroups(dup)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("a"), max(col("pos")).as("b"))
      .withColumn("n_span_tokens",
        col("b") - col("a") + lit(spanTokens.toLong))
      .filter(col("n_span_tokens") >= minTokens)
      .select(col("doc_id"), col("a"), col("b"), col("n_span_tokens"))

  /** Per-POSITION run qualification — [[maximalRuns]] without the
    * aggregate collapse: every input position annotated with the covered
    * length of ITS maximal run (min/max over the `(doc_id, grp)` islands
    * window — no join back, so there is no positions × runs fan-out; a
    * boilerplate-heavy document with thousands of runs pays exactly two
    * doc-keyed window passes, never a per-doc cross product). Positions in
    * runs shorter than `minTokens` are dropped; extra input columns ride
    * through. */
  private def runQualified(dup: DataFrame, spanTokens: Int,
      minTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"), col("grp"))
    runGroups(dup)
      .withColumn("n_span_tokens",
        max(col("pos")).over(w) - min(col("pos")).over(w)
          + lit(spanTokens.toLong))
      .filter(col("n_span_tokens") >= minTokens)
      .drop("grp", "n_span_tokens")
  }

  /** x83 — cross-document span SCRUB: [[crossDocSpans]] detects verbatim
    * duplicated runs; this op applies the remedy (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * occurrence of a `spanTokens`-token window that also appears in another
    * document is removed EXCEPT in the gram's canonical document (the
    * minimal doc_id containing it — keep-one-copy per GRAM). A token
    * survives iff no removed-span window covers its position; surviving
    * tokens re-join in order. Position-coverage semantics (the standard
    * ExactSubstr behavior): each gram's canonical occurrence is never
    * removed BY THAT GRAM, but a token inside it can still be clipped by an
    * overlapping removal of a DIFFERENT duplicated gram whose canonical
    * home is elsewhere — so a span straddling two gram families with
    * different canonical docs is not guaranteed a fully intact copy
    * anywhere. What IS guaranteed: text whose grams are all unique is
    * untouched, and total duplicated-window mass drops to ≤ one canonical
    * occurrence per gram.
    *
    * Reconstruction is LOSSLESS on the kept range: split-on-space preserves
    * empty tokens for runs/leading/trailing spaces, and `array_join` puts
    * them back, so an untouched document round-trips byte-identically.
    * Documents shorter than one span pass through unchanged; a NULL text
    * yields NULL scrubbed/n_tokens/n_removed (the m2
    * skip-with-documented-semantics convention); a document that is PURE
    * duplicated span (fully covered, non-canonical) scrubs to ''.
    *
    * Scale shape: positional grams explode once (narrow, scan-side); the
    * distinct (doc, gram) → per-gram (df, min_doc) aggregate is the x37
    * shuffle; coverage is one bounded explode (`spanTokens` rows per
    * removed occurrence) + distinct; the rebuild is one anti-join and one
    * per-doc sort-aggregate. Everything keyed on gram or doc_id — nothing
    * pairwise, nothing quadratic; skew bounded by the most-viral gram's df,
    * which the keep-one-copy rule itself is busy deleting. The gram-keyed
    * shuffles carry `spanTokens`-token STRINGS; `hashGrams = true` keys
    * them on `xxhash64` instead (the x33/x54 shuffle-width switch — grams
    * never reach the output). Unlike the probe-only uses, a collision here
    * merges two gram FAMILIES (their df and min_doc), so in the worst case
    * one span's canonical copy is removed along with the rest —
    * ~G²/2⁶⁵ expected events corpus-wide, measurement noise at training
    * scale; the default string path is exact and is what the oracle pins. */
  def spanScrub(docs: DataFrame, spanTokens: Int = SpanTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val pos = positionalGrams(ws, spanTokens, hashGrams)
    val st = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("min_doc"))
    val cov = spanCoverage(
      pos.join(st, "g")
        .filter(col("df") >= 2 && col("doc_id") =!= col("min_doc")),
      spanTokens)
    rebuildScrubbed(ws, cov)
  }

  /** X101 — exact-substring scrub at ExactSubstr length: Lee et al.
    * 2022's ACTUAL remedy ([[spanScrub]] removes every duplicated window —
    * aggressive; the paper removes only duplicated substrings of ≥ 50
    * tokens, leaving short incidental overlaps alone). An occurrence is
    * removed iff its window is cross-document duplicated (df ≥ 2), its
    * document is not the gram's canonical home (min doc_id — x83's
    * keep-one-copy rule), AND it lies inside a maximal duplicated run
    * covering ≥ `minTokens` tokens ([[maximalRuns]], x99's definition —
    * runs are a property of the document's duplication structure, so
    * canonical occurrences count toward a run's LENGTH while never being
    * removed themselves). Same output schema and rebuild conventions as
    * [[spanScrub]] (lossless split/join, NULL text → NULL outputs, fully
    * covered docs → ''). Degenerate pin: `minTokens = spanTokens` gates
    * nothing (every duplicated window is its own ≥ w run), so it equals
    * [[spanScrub]] bit for bit — spec-pinned, which keeps the two scrub
    * tiers one definition apart, not two implementations apart.
    *
    * Scale shape: x83's gram-df shuffles + TWO doc-keyed window passes
    * over duplicated positions ([[runQualified]]: the x99 islands key,
    * then per-run min/max over the `(doc_id, grp)` window) — each position
    * learns its OWN run's length in place, so there is no join of
    * positions to runs at all (an earlier doc_id-keyed join + range filter
    * materialized |dup positions| × |qualifying runs| rows per document —
    * a per-doc quadratic term for boilerplate-heavy documents; the islands
    * key removes it exactly, since runs are disjoint and a position
    * belongs to exactly one). Nothing pairwise; `hashGrams` is the usual
    * shuffle-width switch with x83's family-merge collision caveat. */
  def spanScrubLong(docs: DataFrame, spanTokens: Int = SpanTokens,
      minTokens: Int = ExactSubstrMinTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " gate anything — every duplicated window covers spanTokens tokens")
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val pos = positionalGrams(ws, spanTokens, hashGrams)
    val st = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("min_doc"))
    val marked = pos.join(st, "g").filter(col("df") >= 2)
      .select(col("doc_id"), col("pos"),
        (col("doc_id") =!= col("min_doc")).as("removable"))
    // runs measure over ALL duplicated positions (canonical included);
    // only removable ones inside a qualifying run reach coverage — the
    // removable filter must run AFTER qualification, never before
    val cov = spanCoverage(
      runQualified(marked, spanTokens, minTokens)
        .filter(col("removable"))
        .select(col("doc_id"), col("pos")),
      spanTokens)
    rebuildScrubbed(ws, cov)
  }

  /** The RETIRED x101 coverage stage — duplicated positions joined to the
    * qualifying-run table on doc_id alone, range-filtered after — kept
    * package-private ONLY as the ladder referee pricing the [[runQualified]]
    * rewrite (the join materializes |dup positions| × |qualifying runs|
    * rows per document before the filter prunes: a per-doc quadratic term
    * for boilerplate-heavy documents; see SCALING.md "x101 boilerplate").
    * Value-equal to [[spanScrubLong]] on every input — the x31/x79
    * retired-referee convention. NOT part of the API. */
  private[graft] def spanScrubLongJoinReferee(docs: DataFrame,
      spanTokens: Int = SpanTokens, minTokens: Int = ExactSubstrMinTokens,
      hashGrams: Boolean = false): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val pos = positionalGrams(ws, spanTokens, hashGrams)
    val st = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("min_doc"))
    val marked = pos.join(st, "g").filter(col("df") >= 2)
      .select(col("doc_id"), col("pos"),
        (col("doc_id") =!= col("min_doc")).as("removable"))
    val runs = maximalRuns(marked.select(col("doc_id"), col("pos")),
      spanTokens, minTokens)
    val cov = spanCoverage(
      marked.filter(col("removable"))
        .join(runs.select(col("doc_id"), col("a"), col("b")), Seq("doc_id"))
        .filter(col("pos") >= col("a") && col("pos") <= col("b"))
        .select(col("doc_id"), col("pos")),
      spanTokens)
    rebuildScrubbed(ws, cov)
  }

  /** `(doc_id, pos, g)` positional `spanTokens`-token window grams over a
    * `(doc_id, ws)` frame — the builder [[spanScrub]], [[spanVocabulary]],
    * and [[spanScrubAgainst]] share so their gram definitions cannot drift.
    * `hashGrams` keys on `xxhash64(gram)` (the 100 TB shuffle-width switch —
    * grams never reach any output). */
  private def positionalGrams(ws: DataFrame, spanTokens: Int,
      hashGrams: Boolean): DataFrame = {
    val p = ws.filter(size(col("ws")) >= spanTokens)
      .select(col("doc_id"),
        posexplode(spanGrams(col("ws"), spanTokens)).as(Seq("i0", "g")))
      .select(col("doc_id"), (col("i0") + 1).as("pos"), col("g"))
    if (hashGrams) p.select(col("doc_id"), col("pos"),
      xxhash64(col("g")).as("g")) else p
  }

  /** A probe-mode/vocabulary mismatch must fail at CONSTRUCTION, not as an
    * ANSI cast error deep in the query (or, ANSI off, a silent zero-match
    * no-op scrub — the exact silent-degrade class this library loud-fails).
    * Every `*Against` probe of a span or line vocabulary checks it. */
  private def requireVocabMode(refGrams: DataFrame,
      hashGrams: Boolean, who: String): Unit = {
    val gType = refGrams.schema("g").dataType
    val expected: org.apache.spark.sql.types.DataType =
      if (hashGrams) org.apache.spark.sql.types.LongType
      else org.apache.spark.sql.types.StringType
    require(gType == expected,
      s"$who: vocabulary g column is $gType but hashGrams = $hashGrams" +
        s" probes expect $expected — the probe mode must match how the" +
        " vocabulary was built")
  }

  /** The span-window gram expression itself, behind [[positionalGrams]].
    * Caller must pre-filter `size(ws) >= spanTokens`: `sequence`'s default
    * step walks DOWNWARD when stop < start. */
  private def spanGrams(ws: Column, spanTokens: Int): Column =
    transform(sequence(lit(1), size(ws) - lit(spanTokens - 1)),
      i => array_join(slice(ws, i, lit(spanTokens)), " "))

  /** Removed occurrences → the token positions they cover (each window
    * covers `spanTokens` positions; DISTINCT collapses overlaps). */
  private def spanCoverage(removed: DataFrame, spanTokens: Int): DataFrame =
    removed.select(col("doc_id"), explode(sequence(col("pos"),
        col("pos") + lit(spanTokens - 1))).as("tp"))
      .distinct()

  /** The scrub rebuild both span scrubbers share: tokens not covered by
    * `cov` re-join in order; NULL-text docs yield NULL outputs, fully
    * covered docs ''. */
  private def rebuildScrubbed(ws: DataFrame, cov: DataFrame): DataFrame = {
    val toks = ws
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("t0", "tok")))
      .select(col("doc_id"), (col("t0") + 1).as("tp"), col("tok"))
    val rebuilt = toks.join(cov, Seq("doc_id", "tp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("tp"), col("tok")))),
          x => x.getField("tok")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    ws.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_tokens").isNotNull,
          coalesce(col("kept_text"), lit(""))).as("scrubbed"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** The distinct span-gram vocabulary of a reference corpus — what
    * [[spanScrubAgainst]] probes. Persist it with [[writeVocabulary]] (the
    * same `(g)` shape and bucketed layout as the novelty vocabulary) and
    * every ingest increment probes it in place. */
  def spanVocabulary(refDocs: DataFrame, spanTokens: Int = SpanTokens,
      hashGrams: Boolean = false): DataFrame =
    positionalGrams(
      refDocs.select(col("doc_id"), split(col("text"), " ").as("ws")),
      spanTokens, hashGrams)
      .select(col("g")).distinct()

  /** x84 — INCREMENTAL span scrub: scrub arriving documents against a
    * FROZEN reference corpus's span vocabulary ([[spanVocabulary]],
    * typically persisted). The reference is canonical for every span it
    * contains — an arriving document's occurrence of ANY reference span is
    * removed (there is no keep-one-copy contest: the reference CONTAINED
    * that span when the vocabulary was frozen; whether its own copy
    * survived the reference's scrub is [[spanScrub]]'s position-coverage
    * caveat, not this op's), which is exactly [[spanScrub]]'s verdict for the
    * increment whenever reference doc_ids precede arriving ones
    * (spec-pinned decomposition). Spans duplicated only WITHIN the
    * increment are deliberately untouched — they are the NEXT snapshot's
    * keep-one-copy problem, not the frozen vocabulary's.
    *
    * `hashGrams` must match how the vocabulary was built (a hashed
    * vocabulary cannot answer string probes — the novelty-plane rule); a
    * 64-bit collision can only over-remove one window, the conservative
    * direction for a dedup scrub.
    *
    * Scale shape: the increment explodes once; ONE gram-keyed semi-join
    * against the vocabulary (reading in place when persisted/bucketed);
    * the rebuild touches only increment rows. The reference corpus is
    * never re-read — the persisted-probe discipline (x40/x51/x54/x60). */
  def spanScrubAgainst(newDocs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = SpanTokens, hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    requireVocabMode(refGrams, hashGrams, "spanScrubAgainst")
    val ws = newDocs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val cov = spanCoverage(
      positionalGrams(ws, spanTokens, hashGrams)
        .join(refGrams.select(col("g")), Seq("g"), "left_semi"),
      spanTokens)
    rebuildScrubbed(ws, cov)
  }

  /** X102 — INCREMENTAL exact-substring scrub at ExactSubstr length: the
    * ingest-time remedy completing the tier symmetry (x83 self-contained ↔
    * x84 against; x99 ↔ x100; x101 ↔ THIS — before it, an ingest pipeline
    * wanting Lee et al. 2022's ≥ 50-token remedy on an arriving crawl had
    * to re-run the self-contained [[spanScrubLong]] over reference ∪
    * increment, re-shuffling the whole corpus per ingest — exactly the
    * cost the against forms exist to avoid). An increment occurrence is
    * removed iff its window is in the FROZEN reference span vocabulary
    * ([[spanVocabulary]], typically persisted) AND it lies inside a
    * maximal matched run covering ≥ `minTokens` tokens (the x99/x101
    * islands definition, [[runQualified]] shared). The canonical-home rule
    * anchors to the reference side, as in [[spanScrubAgainst]]: the
    * reference CONTAINED every matched span when the vocabulary was
    * frozen, so there is no keep-one-copy contest — every qualifying
    * matched occurrence is removable. Spans duplicated only WITHIN the
    * increment are deliberately untouched (the next snapshot's
    * [[spanScrubLong]] problem, not the frozen vocabulary's).
    *
    * Two spec-pinned anchors keep it one definition away from its
    * siblings, not two implementations away: degenerate `minTokens =
    * spanTokens` gates nothing, so it equals [[spanScrubAgainst]] bit for
    * bit; and when increment documents share spans only with the reference
    * and reference doc_ids precede arriving ones, it equals the
    * self-contained [[spanScrubLong]] on reference ∪ increment restricted
    * to increment rows (the x84/x100 decomposition pin — matched runs are
    * then exactly the union's duplicated runs on increment docs, and
    * min_doc is always a reference doc, so removability is total).
    *
    * Scale shape: the increment explodes once; ONE gram-keyed semi-join
    * against the vocabulary (reading in place when persisted/bucketed —
    * the reference corpus is never re-read, the x40/x51/x54/x60
    * persisted-probe discipline); then [[runQualified]]'s two doc-keyed
    * window passes over matched positions only (no positions × runs
    * join — the x101 fix, inherited) and the bounded rebuild over
    * increment rows. `hashGrams` must match the vocabulary's build mode
    * (loud at construction); a 64-bit collision can only extend a run or
    * over-remove one window — the conservative direction for a scrub. */
  def spanScrubLongAgainst(newDocs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = SpanTokens, minTokens: Int = ExactSubstrMinTokens,
      hashGrams: Boolean = false): DataFrame = {
    require(spanTokens >= 2, "a span of one token is just the unigram table")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " gate anything — every matched window covers spanTokens tokens")
    requireVocabMode(refGrams, hashGrams, "spanScrubLongAgainst")
    val ws = newDocs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val matched = positionalGrams(ws, spanTokens, hashGrams)
      .join(refGrams.select(col("g")), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val cov = spanCoverage(
      runQualified(matched, spanTokens, minTokens), spanTokens)
    rebuildScrubbed(ws, cov)
  }

  /** Minimum span length (tokens) for [[decontaminationSpans]] — GPT-3's
    * published decontamination filter length (Brown et al. 2020, Appendix
    * C: 13-gram overlap with any benchmark), shared with the x103 oracle
    * generator so the two cannot drift. Deliberately far below
    * [[ExactSubstrMinTokens]]: benchmark questions are short, and a leak
    * audit that only sees ≥ 50-token overlaps misses most of them. */
  val DecontamMinTokens: Int = 13

  /** X103 — span-level decontamination report: WHAT leaked, not just that
    * something did. [[decontaminationReport]] (x22) flags eval leakage
    * binarily (any shared 3-gram) and x54 scores gram mass; this hands the
    * release-gate audit the actual verbatim spans — per training document,
    * every maximal ≥ `minTokens`-token run of window positions present in
    * the BENCHMARK slice's span vocabulary, with the leaked text (the
    * composition the x100 screen was built for: benchmark slice →
    * [[spanVocabulary]] → [[duplicatedSpansAgainst]], packaged as one
    * named operator so the audit is a query, not a recipe). Benchmark
    * membership follows x22's convention (`doc_id % benchMod == 0`);
    * benchmark rows themselves report nothing (they ARE the reference).
    * Default length gate is GPT-3's 13 tokens ([[DecontamMinTokens]]), not
    * ExactSubstr's 50 — leak spans are short; the splice caveat inherited
    * from x100 (consecutive windows may match DIFFERENT benchmark docs and
    * chain) is again the conservative direction for an audit.
    *
    * Scale shape: x100's verbatim — the benchmark side collapses to its
    * distinct span vocabulary once (persist it via [[writeVocabulary]] and
    * the audit re-probes it in place per release), one gram-keyed
    * semi-join, [[runQualified]]-free islands merge over matched positions
    * only. Nothing pairwise; benchmark vocabularies are small enough that
    * the semi-join usually broadcasts. */
  def decontaminationSpans(docs: DataFrame, spanTokens: Int = SpanTokens,
      minTokens: Int = DecontamMinTokens, benchMod: Long = DefaultBenchMod,
      hashGrams: Boolean = false): DataFrame = {
    val isBench = col("doc_id") % benchMod === 0
    duplicatedSpansAgainst(
      docs.filter(!isBench),
      spanVocabulary(docs.filter(isBench), spanTokens, hashGrams),
      spanTokens, minTokens, hashGrams)
  }

  /** X105 — [[decontaminationSpans]] behind a BLOOM PREFILTER: x59's plan
    * applied to the span-level leak audit, for benchmark suites whose span
    * vocabulary is too large to broadcast-join cheaply against every
    * window position of a 100 TB corpus (a full eval collection's windows
    * run to the tens of millions — past the broadcast threshold, the
    * vocabulary semi-join becomes a shuffle join and BOTH sides pay an
    * exchange). The vocabulary folds once into a driver-held bloom
    * (`functions.BloomGate` — bits ∝ vocabulary size, ~1.2 MB per 1M
    * grams at 1% fpp), the corpus's positional window grams are gated by
    * the NARROW codegen'd `might_contain` before any join, and only the
    * surviving ~overlap+fpp fraction reaches the exact semi-join that
    * kills the bloom's false positives. No false negatives exist and the
    * maximal-run merge sees the identical matched-position set, so the
    * output is BIT-IDENTICAL to [[decontaminationSpans]] (same oracle) —
    * the bloom changes the plan, never the answer. At 100 TB the gate
    * drops ~99% of gram rows before the join, and the corpus side never
    * shuffles on the gram key. */
  def decontaminationSpansBloom(docs: DataFrame, spanTokens: Int = SpanTokens,
      minTokens: Int = DecontamMinTokens, benchMod: Long = DefaultBenchMod,
      hashGrams: Boolean = false, fpp: Double = 0.01): DataFrame = {
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " be reported — every detected span covers at least one window")
    val isBench = col("doc_id") % benchMod === 0
    // persisted for the two EAGER consumers inside this call (the sizing
    // count and the bloom fold), then released — the x59 discipline; the
    // third consumer, the exact semi-join in the returned lazy plan,
    // re-reduces the bench side once at consumption (bounded by the eval
    // suite, noise next to the corpus scan it verifies)
    val vocab = spanVocabulary(docs.filter(isBench), spanTokens, hashGrams)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = try {
      val expected = math.max(1L, vocab.count())
      graft.functions.BloomGate.build(vocab, "g", expected, fpp)
    } finally vocab.unpersist(blocking = false)
    val ws = docs.filter(!isBench)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    mergeSpanRuns(ws,
      positionalGrams(ws, spanTokens, hashGrams)
        .filter(graft.functions.BloomGate.mightContain(bloom, col("g")))
        .join(vocab.select(col("g")), Seq("g"), "left_semi")
        .select(col("doc_id"), col("pos")),
      spanTokens, minTokens)
  }

  /** x54 — n-gram novelty score: for each NEW document, the fraction of its
    * distinct `n`-gram shingles that never occur in a REFERENCE corpus — the
    * continuous companion to binary decontamination
    * (`TextStats.decontaminate` flags ANY overlap with an eval set; this
    * SCORES overlap against an arbitrary reference). Low novelty against
    * the existing training set = the document adds near-zero new text mass
    * (memorization fodder); curation pipelines threshold or weight by it
    * when folding a new crawl into an established corpus. Documents shorter
    * than one shingle are absent (no score, matching the dedup ladder's
    * "no postings → no row" convention).
    *
    * Scale shape: the reference side collapses to its distinct-gram
    * vocabulary once (map-side-partial distinct), then ONE linear
    * gram-keyed join of the new side's postings against it — the
    * [[crossDocSpans]] shape, never a pairwise self-join. `hashGrams = true`
    * keys both sides on `xxhash64(gram)` (the 100 TB shuffle-width switch;
    * grams never reach the output, so the result is identical up to 64-bit
    * collisions — a collision can only mark one gram as seen). In
    * production the reference vocabulary is persisted once and re-probed by
    * every increment, amortizing the heavy side to zero. */
  def noveltyScore(newDocs: DataFrame, refDocs: DataFrame, n: Int = 3,
      hashGrams: Boolean = false): DataFrame =
    noveltyScoreAgainst(newDocs, vocabulary(refDocs, n, hashGrams),
      n, hashGrams)

  private def gramPostings(df: DataFrame, n: Int,
      hashGrams: Boolean): DataFrame = {
    val g = df.select(col("doc_id"),
      explode(shingles(tokens(col("text")), n)).as("g"))
    if (hashGrams) g.select(col("doc_id"), xxhash64(col("g")).as("g")) else g
  }

  /** The distinct-gram vocabulary of a reference corpus — what
    * [[noveltyScore]] probes, exposed so a deployment builds it ONCE and
    * persists it ([[writeVocabulary]]) instead of re-reducing the reference
    * corpus per increment. */
  def vocabulary(refDocs: DataFrame, n: Int = 3,
      hashGrams: Boolean = false): DataFrame =
    gramPostings(refDocs, n, hashGrams).select(col("g")).distinct()

  /** Persist [[vocabulary]] BUCKETED on the gram key — [[writeDedupIndex]]'s
    * layout discipline applied to the novelty plane: every future
    * increment's probe join re-shuffles ONLY the increment's postings; the
    * reference vocabulary reads in place, pre-sorted for the merge join.
    * Spec-pinned to a plan whose only exchanges are increment-side. */
  def writeVocabulary(vocab: DataFrame, tableName: String,
      buckets: Int = 16): Unit =
    graft.util.BucketedTable.write(vocab, tableName, buckets, "g")

  /** [[noveltyScore]] against a pre-built (typically persisted, bucketed)
    * vocabulary frame. `n`/`hashGrams` must match how the vocabulary was
    * built — a hashed vocabulary cannot answer string probes. */
  def noveltyScoreAgainst(newDocs: DataFrame, vocab: DataFrame, n: Int = 3,
      hashGrams: Boolean = false): DataFrame =
    gramPostings(newDocs, n, hashGrams)
      .join(vocab.withColumn("seen", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))

  /** Doc-frequency floor above which [[lineScrub]] removes a line — shared
    * with the x58 oracle generator so the two cannot drift. */
  val LineScrubMinDf: Int = 2

  /** Deterministic multi-line fixture for [[lineScrub]] (the x28/x29 fixture
    * pattern): the synthetic corpus is single-line, so this rebuilds every
    * document as LINES (each 6 tokens become one) and plants the
    * cross-document boilerplate the scrub exists to remove — a newsletter
    * header on every even doc and a rights footer on every doc_id % 3 == 0
    * — so the hash check exercises removal, survival, AND position-stable
    * reassembly non-vacuously. */
  def paragraphFixture(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val nLines = ceil(size(ws).cast("double") / 6).cast("int")
    val body = array_join(transform(sequence(lit(0), nLines - 1),
      i => array_join(slice(ws, i * 6 + 1, lit(6)), " ")), "\n")
    docs.withColumn("text", concat(
      when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter\n"))
        .otherwise(lit("")),
      body,
      when(col("doc_id") % 3 === 0, lit("\nall rights reserved"))
        .otherwise(lit(""))))
  }

  /** x58 — line-level boilerplate scrub, the C4 / RefinedWeb staple (Raffel
    * et al. 2020 drop repeated spans; RefinedWeb dedups at line level):
    * remove from every document each line whose exact text occurs in at
    * least `minDf` DISTINCT documents (self-repetition within one document
    * never counts, the x37/x48 convention; blank/whitespace-only lines are
    * exempt — paragraph separators are structure, not boilerplate), and
    * return the rebuilt text
    * with surviving lines in their original order. Emits
    * `(doc_id, n_lines, n_removed, text)` — the counts make the scrub
    * auditable per document; a document that was pure boilerplate comes
    * back with empty text, not a dropped row (dropping is a downstream
    * length-gate decision, x32's job).
    *
    * [[boilerplateReport]] NAMES a source's top templates for a human;
    * this operator APPLIES the removal corpus-wide.
    *
    * Scale shape: one posexplode (narrow), one line-keyed doc-frequency
    * aggregate (map-side partial after a per-doc distinct — the X37 shape),
    * one join of the line stream against the df table, and one per-doc
    * reassembly aggregate. Nothing pairwise. `hashKeys = true` keys the df
    * aggregate and its join on `xxhash64(line)` — 8 bytes instead of the
    * line text on the df side (the hot shuffle at 100 TB); the reassembly
    * side necessarily carries the line text either way. Spec-pinned equal
    * to the string-keyed output. */
  def lineScrub(docs: DataFrame, minDf: Int = LineScrubMinDf,
      hashKeys: Boolean = false): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val keyed =
      if (hashKeys) lines.withColumn("lk", xxhash64(col("line")))
      else lines.withColumn("lk", col("line"))
    val df = keyed.select(col("doc_id"), col("lk")).distinct()
      .groupBy(col("lk")).agg(count(lit(1)).as("line_df"))
    // blank/whitespace-only lines are NEVER boilerplate: any two documents
    // using blank-line paragraph separators push df("") past minDf, and
    // scrubbing them would collapse paragraph structure corpus-wide while
    // inflating n_removed with formatting artifacts (real C4/RefinedWeb-style
    // scrubs floor the line content the same way)
    val removable = col("line_df") >= minDf && trim(col("line")) =!= ""
    keyed.join(df, "lk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(removable, 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(!removable,
            struct(col("pos").as("pos"), col("line").as("line"))))),
          s => s.getField("line"))).as("text"))
  }

  /** The frozen line-level boilerplate vocabulary for [[lineScrubAgainst]]
    * (x109): every distinct NON-BLANK line whose doc frequency over the
    * reference corpus is at least `minDf − 1`. The off-by-one is the
    * decomposition contract, not an accident: [[lineScrub]] removes at
    * union df ≥ `minDf`, and an arriving document's own occurrence always
    * contributes 1 — so a reference df of `minDf − 1` is exactly the floor
    * at which ANY increment occurrence would cross the self-contained
    * threshold. Emits one `g` column (the line, or `xxhash64(line)` under
    * `hashKeys` — [[writeVocabulary]]'s bucketed layout applies
    * unchanged, so the vocabulary persists once and every ingest probes
    * it in place). */
  def lineVocabulary(refDocs: DataFrame, minDf: Int = LineScrubMinDf,
      hashKeys: Boolean = false): DataFrame = {
    val lines = refDocs
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .filter(trim(col("line")) =!= "")
    lines.select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf - 1)
      .select(if (hashKeys) xxhash64(col("line")).as("g")
        else col("line").as("g"))
  }

  /** X109 — INCREMENTAL line scrub: drop reference-boilerplate lines from
    * arriving documents against a FROZEN [[lineVocabulary]] (typically
    * persisted/bucketed), without re-reading the reference corpus — the
    * ingest twin completing the last asymmetric scrub tier (x83/x84,
    * x99/x100, x101/x102 all had one; line-level boilerplate — the
    * C4/RefinedWeb staple — didn't, so a daily-ingest pipeline had to
    * re-run the corpus-wide df pass per ingest). An arriving line is
    * removed iff it is non-blank AND in the vocabulary; blank lines stay
    * exempt ([[lineScrub]]'s paragraph-structure rule). Same output
    * contract as [[lineScrub]]: `(doc_id, n_lines, n_removed, text)` with
    * surviving lines in original order, a pure-boilerplate document
    * coming back empty, never dropped.
    *
    * Decomposition pin (the x84/x100/x102 convention, spec-pinned): the
    * against form REMOVES A SUBSET of what self-contained [[lineScrub]]
    * over reference ∪ increment removes on increment rows — always — and
    * EQUALS it whenever no non-blank line below the vocabulary floor is
    * shared by two or more distinct increment documents (such a line is
    * the NEXT snapshot's keep-or-scrub problem; the frozen vocabulary by
    * design never adjudicates increment-internal repetition).
    *
    * Scale shape: the increment explodes once (narrow); ONE line-keyed
    * left-semi-shaped join against the vocabulary (reading in place when
    * persisted/bucketed — the reference is never re-read, the
    * x40/x51/x54/x60 persisted-probe discipline); one per-doc reassembly
    * aggregate over increment rows only. `hashKeys` must match the
    * vocabulary's build mode (loud at construction); a 64-bit collision
    * can only over-remove one line — the conservative direction for a
    * boilerplate scrub. */
  def lineScrubAgainst(newDocs: DataFrame, vocab: DataFrame,
      hashKeys: Boolean = false): DataFrame = {
    requireVocabMode(vocab, hashKeys, "lineScrubAgainst")
    val lines = newDocs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val keyed =
      if (hashKeys) lines.withColumn("lk", xxhash64(col("line")))
      else lines.withColumn("lk", col("line"))
    // distinct defensively: the left join must stay row-preserving on the
    // line side (n_lines counts lines, not vocabulary matches), and a
    // caller-built vocabulary is not guaranteed key-unique the way
    // [[lineVocabulary]]'s is. On a bucketed vocabulary the distinct
    // reuses the bucketing — no extra shuffle.
    val hits = keyed.join(
      vocab.select(col("g").as("lk")).distinct().withColumn("hit", lit(1)),
      Seq("lk"), "left")
    val removable = col("hit").isNotNull && trim(col("line")) =!= ""
    hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(removable, 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(!removable,
            struct(col("pos").as("pos"), col("line").as("line"))))),
          s => s.getField("line"))).as("text"))
  }

  /** Near-dup pairs by SimHash Hamming distance, blocked on the 4 signature bytes.
    * Lossless for maxHamming <= 3 (pigeonhole over 4 chunks). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking is only lossless up to Hamming 3")
    val sig = simhash(docs)
    val chunked = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 8).bitwiseAND(lit(255L)).as("v"))): _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk"), col("cc.v"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** `is_dup ⟺ lev · EditDupDen ≤ max_len` — i.e. edit similarity
    * `1 − lev/max_len ≥ 1 − 1/EditDupDen` (0.8 at the default 5). Integer
    * comparison by design: the similarity RATIO is never materialized, so
    * there is no float rounding to tie-break (the playbook's round-a-ratio
    * trap — `lev/max_len` lands on exact 7-decimal half-ties whenever
    * `max_len` has a 2⁷·5^k factor). Shared with the x80 oracle generator so
    * the two cannot drift. */
  val EditDupDen: Int = 5

  /** X80 — edit-distance verification of sketch near-dup candidates: the
    * character-level verifier at the end of the dedup ladder. [[simhashPairs]]
    * (or any candidate generator) proposes; Levenshtein distance — the
    * classical measure a bag-of-tokens signal cannot fake (it sees order,
    * so two documents with identical vocabulary but shuffled sentences score
    * far apart) — disposes. Emits every candidate pair with its `hamming`
    * evidence, `lev`, `max_len` (characters), and the integer-exact `is_dup`
    * verdict (see [[EditDupDen]]); downstream, `is_dup` pairs feed the same
    * cluster/apply machinery as the Jaccard verifier's.
    *
    * Built on Spark's codegen'd `levenshtein` (one O(|a|·|b|) banded DP per
    * pair, code-point semantics). The DuckDB oracle's `levenshtein` is
    * BYTE-based — identical on ASCII (this corpus, and the parity fixture's
    * degenerate rows) but divergent on multi-byte text, where the engine's
    * code-point count is the semantically right unit; the oracle, not the
    * engine, is the approximation there.
    *
    * Scale shape: the quadratic risk lives entirely in the candidate
    * generator (already blocked/bounded); this adds two doc_id-keyed hash
    * joins to fetch pair texts — the candidate side is miss-bounded and
    * AQE-broadcastable — and a per-pair DP whose cost is bounded by document
    * length. At 100 TB use [[editVerifyBanded]]: the same contract with the
    * DP banded under the dup threshold, the `abs(len_a − len_b) ·
    * EditDupDen > max_len` length prefilter built in (length difference
    * lower-bounds lev, so such pairs never touch a DP cell), and an optional
    * verified-prefix cap (`capChars`). */
  def editVerifyPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    editVerify(simhashPairs(docs, maxHamming), docs)

  /** [[editVerifyPairs]] over an arbitrary candidate-pair frame — exposed so
    * a deployment verifies MinHash-band or persisted-index candidates with
    * the same contract. `candidates` must carry `doc_id_1`/`doc_id_2`; every
    * other column (x5's `hamming`, x3's `jaccard`, …) rides through as the
    * pair's generator evidence, followed by `max_len`, `lev`, `is_dup`.
    *
    * A candidate id that does not resolve in `docs` FAILS LOUDLY
    * (`raise_error`, the persisted-artifact doctrine): the advertised replay
    * of persisted candidates against a corpus snapshot makes a stale pair —
    * one member since removed — reachable, and silently dropping it would
    * turn a dedup verdict into a silent dedup miss (the surviving twin
    * stays). A doc that resolves with NULL text is different: the pair IS
    * verifiable-in-principle but carries no text now, so `lev`/`is_dup`
    * are NULL (the m2 skip-with-documented-semantics convention).
    * The gate rides EVERY verdict column (`max_len`, `lev`, `is_dup` —
    * [[editVerdictCols]]), so any consumer that reads a verdict enforces
    * it; the one shape that prunes it away is a projection keeping only
    * the candidate passthrough, i.e. not consuming the verifier at all.
    *
    * The two text fetches are SHUFFLE_HASH-hinted with the candidate frame
    * as the build side — the one deliberate join hint in the corpus plane,
    * and the exception that proves the no-hints doctrine: left alone, the
    * static planner broadcasts the CORPUS-TEXT side whenever its parquet
    * stats sit under the broadcast threshold, and text compresses so well
    * (repetitive natural language) that a corpus far past any sane broadcast
    * size still looks "small" on disk — measured +12 s over the bare
    * generator at the 30× ladder cell, growing linearly with corpus size,
    * against +2 s for the shuffled-hash build on the bounded candidate
    * frame. The hint assumes only that verified pairs are smaller than the
    * corpus that produced them — true at every scale by the generator's
    * blocking contract — and AQE's skew-join split still applies to
    * shuffled-hash joins, so a viral doc_id cannot pin a reducer. */
  def editVerify(candidates: DataFrame, docs: DataFrame): DataFrame =
    editVerifyWith(candidates, docs)(editVerdictCols)

  /** The ONE join shape both verifiers share — two SHUFFLE_HASH-hinted text
    * fetches (the hint doctrine argued on [[editVerify]]) feeding a verdict
    * kernel. Factored so a future change to the joins (hint, gate message,
    * passthrough) cannot silently miss one twin. */
  private def editVerifyWith(candidates: DataFrame, docs: DataFrame)(
      kernel: (Column, Column, Column, Column) => (Column, Column, Column))
      : DataFrame = {
    def side(i: Int) = docs.select(col("doc_id").as(s"doc_id_$i"),
      col("text").as(s"t$i"), lit(true).as(s"__has$i"))
    val (maxLen, lev, isDup) = kernel(col("t1"), col("t2"),
      col("__has1").isNull || col("__has2").isNull,
      concat(lit("editVerify: candidate pair ("), col("doc_id_1"),
        lit(", "), col("doc_id_2"),
        lit(") references a doc_id absent from the corpus")))
    val passthrough = candidates.columns.map(col).toSeq
    candidates.hint("shuffle_hash")
      .join(side(1), Seq("doc_id_1"), "left")
      .hint("shuffle_hash")
      .join(side(2), Seq("doc_id_2"), "left")
      .select(passthrough :+ maxLen.as("max_len") :+ lev.as("lev") :+
        isDup.as("is_dup"): _*)
  }

  /** The x80 verdict kernel [[editVerify]] applies: `(max_len, lev,
    * is_dup)` for a text pair, with the loud out-of-sync gate
    * (`missing` → `raise_error(msg)`) folded into EVERY returned column: Catalyst prunes unreferenced projections, so a gate
    * riding only one column would silently vanish for consumers that read
    * the others. The verified-prefix cap and the length-difference
    * prefilter live in the banded twin, [[editVerdictColsBanded]]. */
  private def editVerdictCols(newText: Column, oldText: Column,
      missing: Column, msg: Column): (Column, Column, Column) = {
    def gated(c: Column) =
      when(missing, raise_error(msg).cast("long")).otherwise(c)
    val lev = gated(levenshtein(newText, oldText).cast("long"))
    val maxLen = gated(greatest(length(newText), length(oldText)).cast("long"))
    (maxLen, lev, lev * EditDupDen <= maxLen)
  }

  /** [[editVerdictCols]]' banded twin — same `(max_len, lev, is_dup)`
    * contract and missing-gate, but the DP runs UNDER the dup bound: the
    * threshold `t = max_len div EditDupDen` is exactly the largest lev that
    * can still be a dup (`lev·Den ≤ max_len ⟺ lev ≤ t`, integer lev), so
    * Spark's 3-arg `levenshtein` (a) refutes on the length difference before
    * touching any DP cell — `|len(a)−len(b)| > t ⇒ −1`, the exact lower
    * bound `lev ≥ |len(a)−len(b)|` the [[editVerify]] scaladoc promises as
    * the prefilter — and (b) otherwise fills only the (2t+1)-wide band,
    * O(t·min(n,m)) instead of O(n·m). At the default Den = 5, t ≤ n/5: a
    * ~10× cut on the dominant all-but-dup pairs.
    *
    * The one contract change vs the exact kernel: `lev` is NULL on refuted
    * pairs (the band never materializes a distance it only bounded), so
    * `is_dup` is authoritative everywhere and `lev` is exact precisely where
    * a dup verdict needs it (`is_dup` true ⇒ `lev` = the true distance;
    * spec-pinned against the exact kernel). `capChars > 0` additionally
    * verifies on the leading `capChars` characters of both texts — the
    * verified-prefix cost cap for heavy-tailed document lengths; max_len,
    * lev, and is_dup all read on the capped texts (a documented
    * approximation, not a hidden one). */
  private def editVerdictColsBanded(newText: Column, oldText: Column,
      missing: Column, msg: Column, capChars: Int = 0): (Column, Column, Column) = {
    def capped(c: Column) =
      if (capChars > 0) substring(c, 1, capChars) else c
    val a = capped(newText)
    val b = capped(oldText)
    val rawMax = greatest(length(a), length(b)).cast("long")
    // graft.functions.BandedLevenshtein, NOT the built-in 3-arg
    // levenshtein: same contract (distance if <= t else -1, code-point
    // semantics, property-pinned equal), but the built-in decodes UTF-8
    // per cell access and its banded path runs ~6x the per-cell work of
    // its own unbounded loop — measured SLOWER than the exact kernel on
    // long documents at Den = 5, where the band is 2/5 of the matrix.
    // The replacement decodes once and fills the band over two int rows.
    val d = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.BandedLevenshtein(
        org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b),
        org.apache.spark.sql.GraftExpressionBridge.expression(
          (rawMax / EditDupDen).cast("int"))))
    def gated(c: Column) =
      when(missing, raise_error(msg).cast("long")).otherwise(c)
    val lev = gated(when(d >= 0, d.cast("long")))
    val maxLen = gated(rawMax)
    // NULL texts propagate: d is NULL, so is_dup is NULL — the m2
    // skip-with-documented-semantics convention, same as the exact kernel
    (maxLen, lev,
      when(missing, raise_error(msg).cast("boolean")).otherwise(d >= 0))
  }

  /** [[editVerify]] with the banded verdict kernel
    * ([[editVerdictColsBanded]]): identical join shape, passthrough, and
    * missing-gate; `lev` is NULL on non-dup pairs (the band refutes without
    * materializing a distance) and exact on every dup. The scale path for
    * verifier-dominated ladders — the DP drops from O(n·m) to O(t·min(n,m))
    * with t = max_len/[[EditDupDen]], and length-refuted pairs (the common
    * case on heterogeneous corpora) never touch a DP cell at all. */
  def editVerifyBanded(candidates: DataFrame, docs: DataFrame,
      capChars: Int = 0): DataFrame =
    editVerifyWith(candidates, docs)(
      editVerdictColsBanded(_, _, _, _, capChars))
}
