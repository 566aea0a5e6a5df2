package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twins of the batch corpus/relational operators that need
  * event-time semantics — watermarked so state is bounded at any input volume:
  *
  *  - [[hourlyEventCounts]] — the streaming twin of the q6 batch aggregate:
  *    tumbling 1-hour windows, append-mode-safe (a window only emits once the
  *    watermark passes its end, so downstream sinks see each window exactly
  *    once, finalized).
  *  - [[dedupByContent]] — the streaming rung of the dedup ladder (X1):
  *    first-occurrence-wins on the content digest, with
  *    `dropDuplicatesWithinWatermark` so the digest state ages out instead of
  *    growing with the corpus — the only way exact streaming dedup survives
  *    unbounded input.
  *  - [[flagContaminated]] — the stream-static twin of X22 (benchmark
  *    decontamination): ingest-time eval-leak quarantine against a broadcast
  *    static shingle set.
  *
  * Both operate on event time (`ts`), never processing time: replays and
  * out-of-order arrival inside the allowed lateness produce identical results.
  *
  * The NARROW per-document operators (language ID, quality, token stats,
  * stopword scrub, repetition stats, quota sampling, media metadata/resize
  * planning) need no streaming twins at all — stateless projections apply to
  * a streaming DataFrame unchanged; only the stateful shapes (aggregation,
  * sessionization, dedup, stream-static join) live here.
  */
object StreamOps {

  /** Per-hour, per-type counts and value sums over a streaming `events` frame
    * (`ts TIMESTAMP, event_type STRING, value DOUBLE`). State per live window ×
    * type; the watermark closes windows and frees state. */
  def hourlyEventCounts(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("event_hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming dense-candidate generator SPI for [[topKNeighbors]] — the
    * streaming twin of [[graft.corpus.Retrieval.DenseCandidates]] (x71's
    * lesson, applied where a full corpus scan per trigger hurts most). The
    * batch SPI's shapes cannot run on an unbounded stream (per-query rank
    * windows and driver-side query collects are both illegal on the
    * streaming side), so the streaming contract is RESTRICTION-ONLY:
    * `(static normalized corpus (vec_id, e), streaming normalized queries
    * (qid, qe)) => (qid, qe, vec_id, e)` candidate rows, built from
    * stateless narrow transforms and stream-static equality joins only.
    * A generator restricts WHICH corpus vectors each arriving query is
    * scored against — relevance is always re-scored EXACTLY on the fetched
    * unit vectors downstream (x93's discipline) and the bounded
    * `topk_pairs` aggregate does the cut, so swapping generators changes
    * only pool membership, never a score. */
  type StreamCandidates = (DataFrame, DataFrame) => DataFrame

  /** The exact streaming generator (default): every corpus vector is a
    * candidate for every arriving query (self excluded) — one stream-static
    * theta join, a full corpus scan per trigger. The correctness baseline;
    * it KEEPS degenerate (NULL-e) corpus rows so their NULL relevance ranks
    * last by the id tiebreak (x6's contract riding the aggregate's NULL
    * ordering). Past the point where per-trigger scans dominate, swap
    * [[ivfStreamCandidates]] (cells recomputed from the static corpus) or
    * [[ivfIndexStreamCandidates]] (cells read from a persisted index). */
  val exactStreamCandidates: StreamCandidates = (corpus, queries) =>
    queries.join(corpus, col("vec_id") =!= col("qid"))

  /** Per-arriving-query coarse-cell probe — the streaming IVF prelude
    * shared by [[ivfStreamCandidates]] and [[ivfIndexStreamCandidates]]:
    * each query's `nprobe` closest cells from a FROZEN centroid literal
    * (bounded driver artifact, the codebook discipline), computed
    * STATELESSLY with array transforms (a rank window over (query, cell)
    * pairs — the batch probe's shape — is illegal on a stream). Sort key
    * is (dot desc, cid asc) via a (−dot, cid) struct sort; Spark's SQL
    * double ordering compares −0.0 equal to 0.0, so the tiebreak matches
    * the batch probe's. A degenerate (NULL-qe) query gets NULL dots and
    * probes its `nprobe` LOWEST-ID cells (sort sends NULL-dot structs by
    * the cid tiebreak) — deterministic, and its scores are all-NULL
    * downstream either way. */
  private def probeCells(queries: DataFrame,
      centroids: Seq[(Long, Seq[Double])], nprobe: Int): DataFrame = {
    require(centroids.nonEmpty, "probeCells: empty centroid table")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val centArr = typedLit(centroids)
    queries.withColumn("__probe", explode(slice(array_sort(
        transform(centArr, c => struct(
          (-graft.functions.VectorOps.dotp(col("qe"), c.getField("_2")))
            .as("nd"),
          c.getField("_1").as("cid")))), 1, nprobe)))
      .select(col("qid"), col("qe"), col("__probe").getField("cid").as("cid"))
  }

  /** IVF streaming generator: the static corpus is cell-assigned once per
    * trigger with the frozen centroids (one narrow BestMatch pass — the
    * [[graft.corpus.Quantization.ivfPqIndex]] kernel), each arriving query
    * probes its `nprobe` closest cells, and only probed-cell members are
    * scored. Full probe (`nprobe >= centroids.size`) makes every
    * non-degenerate corpus vector a candidate — spec-pinned batch-equal to
    * [[graft.corpus.Similarity.cosineTopKAgg]]. Degenerate corpus vectors
    * drop (no cell — the batch IVF contract); the exact default keeps
    * them, the one documented membership difference. */
  def ivfStreamCandidates(centroids: Seq[(Long, Seq[Double])],
      nprobe: Int = graft.corpus.Similarity.DefaultIvfNprobe)
      : StreamCandidates = (corpus, queries) => {
    val assigned = corpus.filter(col("e").isNotNull)
      .withColumn("__bm",
        graft.functions.VectorOps.bestMatch(col("e"), centroids))
      .select(col("vec_id"), col("e"), (-col("__bm").getField("nid")).as("cid"))
    probeCells(queries, centroids, nprobe)
      .join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("vec_id"), col("e"))
  }

  /** The persisted-index streaming generator — the 100 TB tier: cell
    * membership comes from a (typically persisted, cid-PARTITIONED)
    * [[graft.corpus.Quantization.ivfPqIndex]] table (only `vec_id` and
    * `cid` are read; any cell-membership table of that shape works), so
    * the per-trigger corpus-scale work drops to the membership probe plus
    * ONE vector fetch against the static corpus for the candidates — the
    * x93 deployment shape. The index, centroids, and corpus must describe
    * the same snapshot ([[graft.streaming.StreamOps.indexEmbeddings]]
    * keeps the index current as vectors arrive). Full probe over an index
    * built from the same corpus is spec-pinned batch-equal to
    * [[graft.corpus.Similarity.cosineTopKAgg]] (degenerate corpus vectors
    * excepted — they have no index row). */
  def ivfIndexStreamCandidates(index: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      nprobe: Int = graft.corpus.Similarity.DefaultIvfNprobe)
      : StreamCandidates = (corpus, queries) =>
    probeCells(queries, centroids, nprobe)
      .join(index.select(col("cid"), col("vec_id")), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .join(corpus.filter(col("e").isNotNull), Seq("vec_id"))
      .select(col("qid"), col("qe"), col("vec_id"), col("e"))

  /** Streaming per-query exact top-k — the streaming twin of
    * [[graft.corpus.Similarity.cosineTopKAgg]] (x96), and the reason the
    * bounded [[graft.functions.TopKPairs]] aggregate exists: a window
    * (`row_number`) top-k cannot run on an unbounded stream at all, and a
    * `collect_list`-then-sort aggregation would hold every candidate ever
    * seen in the state store. This holds exactly ONE O(k) buffer per query:
    * arriving query vectors join the STATIC corpus (broadcast the query
    * micro-batch side never — the corpus frame is the static side of a
    * stream-static join), each (query, candidate) cosine feeds
    * `topk_pairs`, and update-mode output emits each query's current top-k
    * array as it improves. The candidate stage runs behind the
    * [[StreamCandidates]] SPI: the exact default scans the corpus per
    * trigger; [[ivfStreamCandidates]] / [[ivfIndexStreamCandidates]]
    * restrict the scan to probed cells at larger N — relevance is always
    * re-scored exactly on the fetched unit vectors, so the swap changes
    * only pool membership. Degenerate (NULL-normalized) corpus vectors
    * rank last by the id tiebreak under the exact default (the IVF
    * generators drop them — no cell); degenerate query vectors produce
    * all-NULL scores, k rows by id. The caller `posexplode`s `top` to flat
    * rows when a sink needs them. State: |live queries| × k entries,
    * nothing corpus-sized, no watermark needed (a query's top-k only
    * refines; drop the key when the sink has consumed its final update). */
  def topKNeighbors(queryVecs: DataFrame, corpus: DataFrame,
      k: Int = graft.corpus.Similarity.DefaultTopK,
      candidates: StreamCandidates = exactStreamCandidates): DataFrame = {
    val base = graft.corpus.Similarity.normalizedCorpus(corpus)
    val q = queryVecs
      .select(col("vec_id").as("qid"),
        graft.functions.VectorOps.normalizeVec(
          graft.corpus.Similarity.toDoubleVec(col("embedding"))).as("qe"))
    candidates(base, q)
      .select(col("qid"), col("vec_id").as("cid"),
        graft.functions.VectorOps.dotp(col("qe"), col("e")).as("rel"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKPairs.topK(col("rel"), col("cid"), k)
        .as("top"))
  }

  /** Streaming sessionization — the streaming twin of the q7 batch query:
    * per-user sessions that close after `gap` of event-time silence
    * (`session_window` merges and extends under the hood; a session emits once
    * the watermark passes its close). State per OPEN session only — bounded by
    * live users, not history. */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Exact streaming dedup by content digest: keeps the FIRST arrival of each
    * distinct content, drops subsequent duplicates that arrive within the
    * watermark delay of each other. Digest state expires with the watermark —
    * bounded regardless of corpus size.
    *
    * NULL-text documents (an upstream extraction failure, not content) pass
    * through UN-deduped: md5(NULL) is NULL, and state-store dedup compares
    * null keys EQUAL, so a bare digest key would silently drop every
    * null-text doc after the first as a "duplicate" of unknown contents. The
    * digest is made per-doc unique for them instead, which also keeps the
    * operator a single pipeline (no stream split/union). */
  def dedupByContent(docs: DataFrame, textCol: String = "text",
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash",
        coalesce(md5(encode(col(textCol), "UTF-8")),
          concat(lit("null-text:"), col("doc_id").cast("string"))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming decontamination — the stream-static twin of
    * [[graft.corpus.TextDedup.decontaminationReport]]: flag arriving documents
    * that share a word n-gram with a STATIC benchmark shingle set
    * (`benchShingles(s STRING)`), e.g. to quarantine eval-leaking documents at
    * ingest instead of in a batch sweep. The shingle explosion is narrow; the
    * stream-static join broadcasts the benchmark side (bounded by the eval
    * suite); the watermarked doc_id dedup collapses the per-shingle matches
    * back to one row per flagged document with state that ages out — the whole
    * pipeline holds no corpus-sized state at any input volume. */
  def flagContaminated(docs: DataFrame, benchShingles: DataFrame, n: Int = 3,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), explode(
        graft.corpus.TextDedup.shingles(
          graft.corpus.TextDedup.tokens(col("text")), n)).as("s"))
      .join(broadcast(benchShingles), Seq("s"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))

  /** Streaming near-dup flagging against a persisted dedup index — the
    * ingest-time twin of [[graft.corpus.TextDedup.incrementalDedup]]: each
    * arriving document's MinHash band buckets (a NARROW compiled projection —
    * `MinHashSig` made the signature stateless, which a groupBy build could
    * never be on a stream) are semi-joined against the static
    * `(doc_id, band, bucket)` index from
    * [[graft.corpus.TextDedup.dedupIndex]]; bucket collisions flag the doc.
    *
    * Flags are LSH CANDIDATES (same banding recall/precision as x3's
    * candidate stage, before its exact-Jaccard verify): the production
    * pattern quarantines candidates at ingest and batch-verifies them —
    * exact verification needs the old side's posting lists, which is a batch
    * join, not a per-record decision. State: only the watermarked doc_id
    * dedup; the index is static; nothing grows with stream volume. */
  def flagNearDupCandidates(docs: DataFrame, index: DataFrame, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      watermarkDelay: String = "1 hour"): DataFrame =
    bandRows(docs, Nil, n, numHashes, bands, watermarkDelay)
      .join(index, Seq("band", "bucket"), "left_semi")
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts"))

  /** The shared band-probe prefix of [[flagNearDupCandidates]] and
    * [[verifyNearDupsAgainst]] — ONE definition of the probe geometry
    * (signature, empty-signature policy, band explode) so the flag and
    * verify twins can never drift. `extra` columns ride the exploded rows:
    * the flag twin probes slim; the verify twin threads `text` through
    * (see its amplification note). */
  private def bandRows(docs: DataFrame, extra: Seq[String], n: Int,
      numHashes: Int, bands: Int, watermarkDelay: String): DataFrame = {
    val sig = graft.functions.MinHashSig(
      graft.corpus.TextDedup.shingles(
        graft.corpus.TextDedup.tokens(col("text")), n), numHashes)
    val keep = (Seq("doc_id", "ts") ++ extra).map(col)
    docs
      .withWatermark("ts", watermarkDelay)
      .select(keep :+ sig.as("sig"): _*)
      .filter(size(col("sig")) > 0)
      .select(keep :+ explode(graft.corpus.TextDedup.bandStructs(
        col("sig"), numHashes, bands)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+
        col("bb.bucket").as("bucket"): _*)
  }

  /** Streaming VERIFIED near-dup decisions — [[flagNearDupCandidates]]
    * completed to a per-record verdict. The flag twin deliberately stops at
    * LSH candidates because its exact-Jaccard verifier needs the old side's
    * posting AGGREGATES (a batch join); the edit-distance verifier
    * ([[graft.corpus.TextDedup.editVerify]]'s contract) needs only the old
    * side's TEXT — one static column — so the whole decision becomes two
    * stream-static joins plus a per-pair scalar DP: stateless but for the
    * watermarked pair dedup, and ingest gains what batch-verify-later could
    * not give it, a same-trigger verdict. Emits one row per (arriving doc,
    * colliding index doc): `(doc_id, ts, matched_doc_id, max_len, lev,
    * is_dup)` with the [[graft.corpus.TextDedup.EditDupDen]] integer
    * verdict; novel docs are absent (the flag twin's convention). An index
    * doc with no `corpusText` row FAILS the query loudly (editVerify's
    * stale-artifact doctrine — the index and its text table must describe
    * the same corpus snapshot); a corpus row with NULL text yields NULL
    * `lev`/`is_dup` (verifiable-in-principle, no text now).
    *
    * Scale shape: band probe against the persisted bucketed index (zero
    * index-side shuffle, the flag twin's plan), pair dedup keyed on the
    * bounded collision set, then one text fetch against the static corpus —
    * per-trigger cost rides the increment, never the corpus. The text fetch
    * is SHUFFLE_HASH-hinted with the pair side as build
    * ([[graft.corpus.TextDedup.editVerify]]'s lesson: compressed parquet
    * stats understate a text corpus far past any sane broadcast size, and a
    * static broadcast here would rebuild per micro-batch); persist
    * `corpusText` bucketed on `doc_id` (the `writeDedupIndex` discipline)
    * and the static side reads in place per trigger. One honest cost the
    * flag twin doesn't pay: the arriving document's TEXT rides its
    * `bands`-way band explode into the probe shuffle (a stream cannot
    * re-join its own text back — that would be a stream-stream join), a
    * bands× per-trigger byte amplification; verify on a capped prefix or
    * with fewer bands when arriving documents are large.
    *
    * `banded = true` swaps in the banded verdict kernel
    * ([[graft.corpus.TextDedup.editVerdictColsBanded]], batch twin
    * `editVerifyBanded`): DP under the dup threshold with the
    * length-difference prefilter built in; `lev` NULL on refuted pairs,
    * `is_dup` identical — the 100 TB ingest default, where most collisions
    * are refuted without touching a DP cell. `capChars` (banded mode only)
    * verifies on the leading prefix, the amplification remedy above. */
  def verifyNearDupsAgainst(docs: DataFrame, index: DataFrame,
      corpusText: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, watermarkDelay: String = "1 hour",
      banded: Boolean = false, capChars: Int = 0): DataFrame = {
    // the exact kernel has no cap parameter: accepting capChars with
    // banded=false would silently hand the hot streaming path the unbounded
    // full-text DP the caller explicitly configured against
    require(capChars == 0 || banded,
      "verifyNearDupsAgainst: capChars requires banded = true")
    val msg = concat(lit("verifyNearDupsAgainst: index doc "),
      col("matched_doc_id"),
      lit(" has no corpus text row — index and text table out of sync"))
    val (maxLen, lev, isDup) =
      if (banded) graft.corpus.TextDedup.editVerdictColsBanded(
        col("text"), col("old_text"), col("__has").isNull, msg, capChars)
      else graft.corpus.TextDedup.editVerdictCols(
        col("text"), col("old_text"), col("__has").isNull, msg)
    bandRows(docs, Seq("text"), n, numHashes, bands, watermarkDelay)
      .join(index.select(col("band"), col("bucket"),
        col("doc_id").as("matched_doc_id")), Seq("band", "bucket"))
      .dropDuplicatesWithinWatermark("doc_id", "matched_doc_id")
      .hint("shuffle_hash")
      .join(corpusText.select(col("doc_id").as("matched_doc_id"),
        col("text").as("old_text"), lit(true).as("__has")),
        Seq("matched_doc_id"), "left")
      .select(col("doc_id"), col("ts"), col("matched_doc_id"),
        maxLen.as("max_len"), lev.as("lev"), isDup.as("is_dup"))
  }

  /** Streaming relevance gating against a frozen BM25 model — the
    * ingest-time twin of [[graft.corpus.Retrieval.bm25TopKAgainst]]: each
    * arriving document carries its best query-sheet match (score bit-equal
    * to the batch scorer, spec-pinned in `RetrievalSpec`), docs matching no
    * sheet term drop. The gate is
    * [[graft.corpus.Retrieval.bm25IngestGate]]'s single stateless narrow
    * projection, so it needs NO watermark, NO state, and survives any
    * output mode — the simplest possible streaming operator shape (the
    * [[graft.corpus.Semantic.embedDecontamAgainst]] family). `passthrough`
    * columns (timestamps, source, payload pointers) ride along. */
  def gateByRelevance(docs: DataFrame,
      model: graft.corpus.Retrieval.Bm25Model,
      passthrough: String*): DataFrame =
    graft.corpus.Retrieval.bm25IngestGate(docs, model, passthrough: _*)

  /** Streaming hybrid ingest screen (X73) — BM25 task-relevance AND
    * embedding-space benchmark decontamination AND screenability, decided
    * per arriving `(doc_id, text, embedding)` record against the two frozen
    * driver-held models in ONE stateless narrow projection
    * ([[graft.corpus.Retrieval.hybridIngestGate]]): no watermark, no state,
    * any output mode — the [[gateByRelevance]] /
    * [[graft.corpus.Semantic.embedDecontamAgainst]] family composed. Flags
    * (and the fused `keep`) are emitted rather than filtered so a
    * deployment can route: keep → train pool, contaminated → audit,
    * unscreenable → quarantine. */
  def screenIngest(docs: DataFrame,
      model: graft.corpus.Retrieval.Bm25Model,
      bench: Seq[(Long, Seq[Double])], tau: Double,
      passthrough: String*): DataFrame =
    graft.corpus.Retrieval.hybridIngestGate(
      docs, model, bench, tau, passthrough: _*)

  /** Streaming PQ encoding against frozen codebooks — compress each
    * arriving embedding to its code vector at ingest, the index-maintenance
    * half of the x66 compression plane: the batch build encodes the corpus
    * snapshot; THIS keeps the code table current as vectors arrive, without
    * re-reading the corpus. One stateless narrow codegen'd projection
    * ([[graft.functions.PqEncode]] — codes batch-equal by construction,
    * spec-pinned), so NO watermark, NO state, any output mode. Degenerate
    * or wrong-dimension vectors DROP (the NULL-codes contract — they can
    * never be ADC candidates). `passthrough` columns (timestamps, labels,
    * payload pointers) ride the same projection. */
  def encodeEmbeddings(vecs: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      dim: Int = graft.corpus.Quantization.DefaultDim,
      passthrough: Seq[String] = Nil): DataFrame =
    graft.corpus.Quantization.encoded(vecs, codebooks, dim, passthrough)

  /** Streaming SQ8 encoding against frozen per-dimension stats — the
    * [[encodeEmbeddings]] twin for the scalar-quantization tier (x74):
    * compress each arriving embedding to its 0..255 code vector at ingest
    * so the byte-width code table stays current without re-reading the
    * corpus. One stateless narrow projection
    * ([[graft.corpus.Quantization.sq8Encoded]] — codes batch-equal by
    * construction, spec-pinned); degenerate or wrong-dimension vectors
    * DROP. Stats are a corpus-snapshot artifact ([[graft.corpus
    * .Quantization.sq8Stats]]) — recompute them on re-snapshot, not per
    * batch (a drifting range would silently re-scale old codes). */
  def encodeSq8(vecs: DataFrame, mins: Array[Double], diffs: Array[Double],
      dim: Int = graft.corpus.Quantization.DefaultDim,
      passthrough: Seq[String] = Nil): DataFrame =
    graft.corpus.Quantization.sq8Encoded(vecs, mins, diffs, dim, passthrough)

  /** Streaming IVF-PQ index maintenance — [[encodeEmbeddings]] plus the
    * cell assignment, emitting full `(vec_id, cid, codes)` index rows for
    * each arriving vector under frozen centroids + codebooks: append them
    * to the cid-partitioned store
    * ([[graft.corpus.Quantization.writeIvfPqIndex]]'s layout) and the
    * persisted index stays searchable
    * ([[graft.corpus.Quantization.ivfAdcTopKAgainst]]) without ever
    * re-reading the corpus. One stateless narrow pass (both kernels are
    * codegen'd projections — rows batch-equal by construction,
    * spec-pinned); degenerate/wrong-dim vectors drop. */
  def indexEmbeddings(vecs: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      centroids: Seq[(Long, Seq[Double])],
      dim: Int = graft.corpus.Quantization.DefaultDim): DataFrame =
    graft.corpus.Quantization.ivfPqIndex(vecs, codebooks, centroids, dim)

  /** Streaming quality gating — each arriving document's margin/prob under a
    * FROZEN trained classifier ([[graft.corpus.Classifier]]'s X76 kernel),
    * plus `keep = prob ≥ tau`: the discriminative quality filter applied at
    * ingest. The model is a driver-held buckets-bounded array literal; the
    * whole gate is ONE stateless narrow projection (exact fixed-point margin
    * fold — batch-equal scores by construction, spec-pinned), so NO
    * watermark, NO state, any output mode. Flags are emitted, not filtered —
    * the x73 routing doctrine (keep → train pool, rest → audit). Retraining
    * is the batch side's job ([[graft.corpus.Classifier.trainQualityLr]] on
    * a corpus snapshot); this twin keeps scoring current between retrains. */
  def gateByQuality(docs: DataFrame,
      model: graft.corpus.Classifier.LrModel, tau: Double): DataFrame =
    graft.corpus.Classifier.qualityGate(docs, model, tau)

  /** Streaming URL/domain gate — each arriving document canonicalized and
    * routed by [[graft.corpus.Curation.domainGate]]'s policy (x108): the
    * FIRST filter a live crawl frontier applies, before any text op. The
    * block/allow lists are bounded driver-held constants rendered into
    * codegen'd `isin`s; the whole gate (URL parse + canonicalize +
    * registrable domain + disposition) is ONE stateless narrow projection,
    * so NO watermark, NO state, any output mode — batch-equal by
    * construction, spec-pinned through a live query. Flags are emitted,
    * not filtered (the x73 routing doctrine: allowed → fetch/curate,
    * blocked/unlisted/malformed → audit). */
  def gateByDomain(docs: DataFrame,
      blocklist: Seq[String] = graft.corpus.Curation.DefaultDomainBlocklist,
      allowlist: Seq[String] = Seq.empty,
      urlCol: String = "url"): DataFrame =
    graft.corpus.Curation.domainGate(docs, blocklist, allowlist, urlCol)

  /** Streaming canonical-URL dedup against a FROZEN [[graft.corpus
    * .TextDedup.urlIndex]] — [[graft.corpus.TextDedup.urlDedupAgainst]]'s
    * ingest twin (x112): each arriving document canonicalized and probed
    * against the persisted index, emitting `(doc_id, url_norm,
    * canonical_doc_id)` for the known-URL hits (the frontier's "already
    * crawled" verdict). The whole operator is a narrow parse plus ONE
    * stream-static equi-join (stream side left — the supported shape), so
    * NO watermark, NO state, any output mode — batch-equal by
    * construction, spec-pinned through a live query. Unknown URLs are
    * ABSENT, exactly the batch contract. */
  def dedupUrlsAgainst(docs: DataFrame, index: DataFrame,
      urlCol: String = "url"): DataFrame =
    graft.corpus.TextDedup.urlDedupAgainst(docs, index, urlCol)

  /** Streaming meta-robots gate — [[graft.corpus.Html.robotsGate]] (x114)
    * on an arriving page stream: ONE stateless narrow projection (two
    * anchored regexes + array ops), so NO watermark, NO state, any output
    * mode — batch-equal by construction, spec-pinned through a live
    * query. Flags, not filters: route `noindex` pages out of the corpus
    * and `nofollow` pages out of the edge extractor downstream. */
  def gateByRobots(docs: DataFrame, htmlCol: String = "html"): DataFrame =
    graft.corpus.Html.robotsGate(docs, htmlCol)

  /** Streaming robots.txt gate — [[graft.corpus.Robots.robotsTxtGate]]
    * (x117) against a FROZEN parsed rule table ([[graft.corpus.Robots
    * .parseRules]] on a robots snapshot, batch-side): each arriving URL
    * canonicalized and judged under RFC 9309 longest-match /
    * allow-wins-tie semantics. The rules collapse to one bounded array
    * row per domain, so the whole gate is ONE stream-static left
    * equi-join (stream side left — the supported shape) plus a narrow
    * higher-order-function verdict — NO watermark, NO state, any output
    * mode, batch-equal by construction, spec-pinned through a live
    * query. Flags, not filters: `allowed` → fetch, `blocked` → skip,
    * `malformed` → audit. */
  def gateByRobotsTxt(docs: DataFrame, rules: DataFrame,
      urlCol: String = "url"): DataFrame =
    graft.corpus.Robots.robotsTxtGate(docs, rules, urlCol)

  /** Streaming redirect resolution against a FROZEN compiled redirect
    * map ([[graft.corpus.WebGraph.compileRedirects]] on a crawl
    * snapshot's observed redirects, batch-side) — [[graft.corpus
    * .WebGraph.resolveRedirectsAgainst]]'s ingest twin (x126): each
    * arriving URL canonicalized and mapped to its post-redirect
    * identity (`final_url`/`n_hops`/`redirect_disposition`). ONE
    * stream-static left equi-join (stream side left — the supported
    * shape) plus narrow verdict arithmetic, so NO watermark, NO state,
    * any output mode — batch-equal by construction, spec-pinned through
    * a live query. Compose before [[dedupUrlsAgainst]] with
    * `urlCol = "final_url"` and the frontier dedups on the identity the
    * SERVER declares. */
  def resolveRedirectsAgainst(docs: DataFrame, compiled: DataFrame,
      urlCol: String = "url"): DataFrame =
    graft.corpus.WebGraph.resolveRedirectsAgainst(docs, compiled, urlCol)

  /** Streaming sitemap discovery against a FROZEN [[graft.corpus
    * .TextDedup.urlIndex]] — [[graft.corpus.Robots.sitemapDiscovery]]
    * (x125) on an arriving stream of parsed sitemap entries (parse
    * batch-side, or compose [[graft.corpus.Robots.parseSitemaps]]
    * upstream — its explode is stateless too): each declared URL
    * canonicalized and judged `malformed`/`foreign`/`known`/`new`. ONE
    * stream-static left equi-join plus narrow verdicts — NO watermark,
    * NO state, any output mode, batch-equal by construction, spec-pinned
    * through a live query. The `new` rows are the live fetch-candidate
    * feed the frontier scores alongside outlink candidates. */
  def discoverFromSitemaps(entries: DataFrame, index: DataFrame): DataFrame =
    graft.corpus.Robots.sitemapDiscovery(entries, index)

  /** Streaming declared-canonical keying — [[graft.corpus.Html
    * .canonicalKey]] (x115) on an arriving page stream: ONE stateless
    * narrow projection (two anchored regexes + the UrlNormalize kernel),
    * batch-equal by construction, spec-pinned through a live query.
    * Compose BEFORE [[dedupUrlsAgainst]] with `urlCol = "canonical_key"`
    * — the frontier then dedups on the identity the page itself declares. */
  def canonicalizeUrls(docs: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    graft.corpus.Html.canonicalKey(docs, urlCol, htmlCol)

  /** Streaming HTML → text extraction — [[graft.corpus.Html.extractText]]
    * (x110) on an arriving page stream: ONE stateless narrow codegen'd
    * projection (staged regexp columns), so NO watermark, NO state, any
    * output mode — batch-equal by construction, spec-pinned through a
    * live query. The crawl-ingest head of the pipeline: fetch → extract →
    * gate → scrub, all composable in one streaming query with
    * [[gateByDomain]] and [[scrubLinesAgainst]]. */
  def extractHtml(docs: DataFrame, htmlCol: String = "html"): DataFrame =
    graft.corpus.Html.extractText(docs, htmlCol)

  /** Streaming content-block extraction — [[graft.corpus.Html
    * .contentBlocks]] (x121) on an arriving page stream: narrow regex
    * stages plus ONE bounded explode (blocks per page), so NO watermark,
    * NO state, any output mode — batch-equal by construction,
    * spec-pinned through a live query. The per-block verdicts ride with
    * the rows; the keep-content fold (`Html.mainContent`) is an
    * aggregate and belongs batch-side or behind a watermarked regroup —
    * at ingest, route on the flags instead. */
  def extractContentBlocks(docs: DataFrame,
      htmlCol: String = "html"): DataFrame =
    graft.corpus.Html.contentBlocks(docs, htmlCol)

  /** Streaming BPE segmentation — each arriving document segmented under a
    * FROZEN merge list ([[graft.corpus.TextStats.applyBpe]]'s X81 kernel):
    * the tokenizer-side twin of the frozen-model gates. The merge list is a
    * bounded driver artifact (train batch-side with
    * [[graft.corpus.TextStats.trainBpe]] on a corpus snapshot); the whole
    * segmentation is ONE stateless narrow codegen'd projection
    * (`functions.BpeSegment`), so NO watermark, NO state, any output mode —
    * batch-equal by construction, spec-pinned through a live query. */
  def segmentBpe(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.corpus.TextStats.applyBpe(docs, merges)

  /** Streaming span scrub against a FROZEN reference span vocabulary —
    * [[graft.corpus.TextDedup.spanScrubAgainst]]'s ingest twin (x84): strip
    * every span the reference corpus already contains from each arriving
    * document, spec-pinned batch-equal. Emits `(doc_id, ts, scrubbed,
    * n_tokens, n_removed)`.
    *
    * Shape: the batch rebuild (anti-join + per-doc re-aggregation) would be
    * a stream-stream self-join, which SS forbids for anti joins — so the
    * stream path restructures to ONE watermarked aggregation and zero
    * stream-stream joins: explode positional grams (the SHARED
    * `TextDedup.spanGrams` definition), LEFT-join the static vocabulary for
    * per-occurrence hit flags, re-group per (doc_id, ts) collecting the hit
    * START positions — the token array rides ONLY the pos-1 gram row
    * (`first(ignoreNulls)`), so state carries O(tokens), not
    * O(tokens × grams) — then rebuild the text with ORDER-PRESERVING
    * higher-order functions (filter positions covered by any hit window).
    * Documents with no gram at all (shorter than one span, NULL text) ride
    * a second, STATELESS branch unioned in: they emit same-trigger and
    * untouched, exactly the batch conventions (NULL → NULL outputs).
    * Aggregated rows finalize when the watermark passes their event time
    * (append mode) — the price of a per-document regroup at ingest. */
  def scrubSpansAgainst(docs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = graft.corpus.TextDedup.SpanTokens,
      hashGrams: Boolean = false,
      watermarkDelay: String = "1 hour"): DataFrame = {
    graft.corpus.TextDedup.requireVocabMode(refGrams, hashGrams,
      "scrubSpansAgainst")
    val base = spanTokenized(docs, watermarkDelay)
    val toks = transform(col("ws"),
      (tok, i) => struct((i + 1).as("tp"), tok.as("tok")))
    val kept = filter(toks, s => !exists(col("hits"),
      p => s("tp") >= p && s("tp") <= p + lit(spanTokens - 1)))
    spanHits(base, refGrams, spanTokens, hashGrams)
      .select(col("doc_id"), col("ts"),
        array_join(transform(kept, s => s("tok")), " ").as("scrubbed"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(kept)).cast("long").as("n_removed"))
      .unionByName(spanlessUntouched(base, spanTokens))
  }

  /** The span twins' input: `(doc_id, ts, ws)` under the event-time
    * watermark, `ws` the text's space-split tokens (NULL for NULL text). */
  private def spanTokenized(docs: DataFrame, watermarkDelay: String): DataFrame =
    docs.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), split(col("text"), " ").as("ws"))

  /** Has the document at least one `spanTokens` window? `size(NULL ws)` is
    * NULL: coalesce so NULL-text docs land on the span-less side rather
    * than vanishing from both (and `spanGrams`' sequence needs the
    * pre-filter — its default step walks DOWNWARD when stop < start). */
  private def hasWindow(spanTokens: Int) =
    coalesce(size(col("ws")) >= spanTokens, lit(false))

  /** The span twins' gram-hit step over [[spanTokenized]] rows: explode
    * each windowed document's positional grams (the SHARED
    * `TextDedup.spanGrams` definition), stream-static LEFT join the
    * vocabulary for per-occurrence hit flags, and ONE watermarked
    * aggregation per (doc_id, ts) collecting the SORTED matched start
    * positions as `hits`. The token array rides only the pos-1 gram row
    * (`first(ignoreNulls)`), so state carries O(tokens), not
    * O(tokens × grams). Emits `(doc_id, ts, ws, hits)`. */
  private def spanHits(base: DataFrame, refGrams: DataFrame,
      spanTokens: Int, hashGrams: Boolean): DataFrame =
    base.filter(hasWindow(spanTokens))
      .select(col("doc_id"), col("ts"), col("ws"),
        posexplode(graft.corpus.TextDedup.spanGrams(col("ws"), spanTokens))
          .as(Seq("i0", "g")))
      .select(col("doc_id"), col("ts"),
        when(col("i0") === 0, col("ws")).as("ws1"),
        (col("i0") + 1).as("pos"),
        (if (hashGrams) xxhash64(col("g")) else col("g")).as("g"))
      .join(refGrams.select(col("g"), lit(true).as("__hit")), Seq("g"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(first(col("ws1"), ignoreNulls = true).as("ws"),
        sort_array(collect_set(when(col("__hit"), col("pos")))).as("hits"))

  /** The span scrubs' STATELESS branch: documents with no window (shorter
    * than one span, NULL text) emit same-trigger and untouched, in the
    * scrub output shape — NULL text gives NULL outputs, the batch
    * conventions. */
  private def spanlessUntouched(base: DataFrame, spanTokens: Int): DataFrame =
    base.filter(!hasWindow(spanTokens)).select(col("doc_id"), col("ts"),
      when(col("ws").isNotNull, array_join(col("ws"), " ")).as("scrubbed"),
      size(col("ws")).cast("long").as("n_tokens"),
      when(col("ws").isNotNull, lit(0L)).as("n_removed"))

  /** The islands fold over the sorted `hits` column: the hit starts fold
    * left into maximal consecutive runs `struct(s, e)` (a start one past
    * the open run's end extends it, any other opens a new one — O(hits)
    * per document), and only runs covering ≥ `minTokens` tokens
    * (`e - s + spanTokens`) are kept. */
  private def qualifyingRuns(spanTokens: Int, minTokens: Int) =
    filter(expr(
      "aggregate(hits, cast(array() as array<struct<s:int,e:int>>)," +
        " (acc, p) -> if (size(acc) > 0 and element_at(acc, -1).e + 1 = p," +
        " concat(slice(acc, 1, size(acc) - 1)," +
        "   array(named_struct('s', element_at(acc, -1).s, 'e', p)))," +
        " concat(acc, array(named_struct('s', p, 'e', p)))))"),
      r => r.getField("e") - r.getField("s") + lit(spanTokens) >= minTokens)

  /** Streaming incremental line scrub —
    * [[graft.corpus.TextDedup.lineScrubAgainst]]'s ingest twin (x109):
    * drop from each arriving document every non-blank line the FROZEN
    * reference line vocabulary ([[graft.corpus.TextDedup.lineVocabulary]],
    * typically persisted/bucketed) contains — the C4/RefinedWeb line-level
    * boilerplate scrub at ingest, without re-reading the reference corpus.
    * Emits `(doc_id, ts, n_lines, n_removed, text)`, spec-pinned
    * batch-equal (NULL-text documents produce no row, exactly the batch
    * contract — a line explode has nothing to rebuild from).
    *
    * Shape: [[scrubSpansAgainst]]'s one-aggregation restructure, one tier
    * simpler because lines don't overlap like span windows: posexplode the
    * lines, stream-static LEFT join the vocabulary for per-line hit flags
    * (blanks exempt at the probe, [[graft.corpus.TextDedup.lineScrub]]'s
    * paragraph-structure rule), ONE watermarked aggregation per
    * (doc_id, ts) collecting removable positions — the line array rides
    * only the pos-0 row (`first(ignoreNulls)`), so state carries
    * O(lines), not O(lines²) — then an ORDER-PRESERVING higher-order
    * rebuild. Zero stream-stream joins; append mode; rows finalize when
    * the watermark passes their event time. `hashKeys` must match the
    * vocabulary's build mode (loud at construction). */
  def scrubLinesAgainst(docs: DataFrame, vocab: DataFrame,
      hashKeys: Boolean = false,
      watermarkDelay: String = "1 hour"): DataFrame = {
    graft.corpus.TextDedup.requireVocabMode(vocab, hashKeys,
      "scrubLinesAgainst")
    val base = docs.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), split(col("text"), "\n").as("ls"))
      .filter(col("ls").isNotNull)
    val lines = base
      .select(col("doc_id"), col("ts"), col("ls"),
        posexplode(col("ls")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("ts"), col("pos"), col("line"),
        when(col("pos") === 0, col("ls")).as("ls1"),
        (if (hashKeys) xxhash64(col("line")) else col("line")).as("lk"))
    val marked = lines
      .join(vocab.select(col("g").as("lk")).distinct()
        .withColumn("__hit", lit(true)), Seq("lk"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(first(col("ls1"), ignoreNulls = true).as("ls"),
        collect_set(when(col("__hit") && trim(col("line")) =!= "",
          col("pos"))).as("rm"))
    val toks = transform(col("ls"), (l, i) => struct(i.as("p"), l.as("line")))
    val kept = filter(toks, s => !array_contains(col("rm"), s("p")))
    marked.select(col("doc_id"), col("ts"),
      size(col("ls")).cast("long").as("n_lines"),
      size(col("rm")).cast("long").as("n_removed"),
      array_join(transform(kept, s => s("line")), "\n").as("text"))
  }

  /** Streaming incremental exact-substring scrub at ExactSubstr length —
    * [[graft.corpus.TextDedup.spanScrubLongAgainst]]'s ingest twin (x102):
    * strip from each arriving document only the matched runs covering ≥
    * `minTokens` tokens against the FROZEN reference span vocabulary (Lee
    * et al. 2022's published remedy on the stream — short incidental
    * vocabulary hits survive, unlike [[scrubSpansAgainst]]'s scrub-every-hit
    * tier). Emits `(doc_id, ts, scrubbed, n_tokens, n_removed)`, spec-pinned
    * batch-equal.
    *
    * Shape: [[scrubSpansAgainst]]'s one-aggregation restructure composed
    * with [[duplicatedSpansAgainst]]'s within-row islands fold — explode
    * positional grams (the SHARED `TextDedup.spanGrams` definition),
    * stream-static LEFT join the vocabulary, ONE watermarked aggregation
    * per (doc_id, ts) collecting the SORTED matched start positions (the
    * token array rides only the pos-1 row), then the batch twin's per-doc
    * islands window becomes the within-row fold: sorted hits merge into
    * maximal consecutive runs, the length gate filters, and coverage is
    * each qualifying run's closed token range [s, e + spanTokens − 1]
    * (within a run every start is matched, so per-window coverage and
    * run-range coverage coincide). Gram-less documents ride the stateless
    * untouched branch (NULL → NULL outputs, the batch conventions).
    * `hashGrams` must match the vocabulary's build mode (loud at
    * construction). */
  def scrubSpansLongAgainst(docs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = graft.corpus.TextDedup.SpanTokens,
      minTokens: Int = graft.corpus.TextDedup.ExactSubstrMinTokens,
      hashGrams: Boolean = false,
      watermarkDelay: String = "1 hour"): DataFrame = {
    graft.corpus.TextDedup.requireVocabMode(refGrams, hashGrams,
      "scrubSpansLongAgainst")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " gate anything — every matched window covers spanTokens tokens")
    val base = spanTokenized(docs, watermarkDelay)
    val toks = transform(col("ws"),
      (tok, i) => struct((i + 1).as("tp"), tok.as("tok")))
    val kept = filter(toks, t => !exists(col("qr"),
      r => t("tp") >= r("s") && t("tp") <= r("e") + lit(spanTokens - 1)))
    spanHits(base, refGrams, spanTokens, hashGrams)
      .withColumn("qr", qualifyingRuns(spanTokens, minTokens))
      .select(col("doc_id"), col("ts"),
        array_join(transform(kept, s => s("tok")), " ").as("scrubbed"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(kept)).cast("long").as("n_removed"))
      .unionByName(spanlessUntouched(base, spanTokens))
  }

  /** Streaming increment exact-substring spans —
    * [[graft.corpus.TextDedup.duplicatedSpansAgainst]]'s ingest twin
    * (x100): per arriving document, every maximal ≥ `minTokens` run of
    * window positions whose window the FROZEN reference span vocabulary
    * contains, as (doc_id, ts, start_pos, n_span_tokens, span_text) —
    * the live long-verbatim-overlap screen (x22 flags eval leakage, this
    * hands back the spans, on the stream).
    *
    * Shape: one stream-static left join of the document's positional
    * window grams against the vocabulary, ONE watermarked aggregation per
    * (doc_id, ts) collecting the matched start positions — and then the
    * batch twin's per-doc islands WINDOW, illegal on a stream, becomes a
    * WITHIN-ROW fold: the sorted hit array folds left into maximal
    * consecutive runs (`aggregate` extends the last run while starts stay
    * consecutive, else opens a new one — O(hits) per document, bounded by
    * document length), the length gate filters, and the qualifying runs
    * explode statelessly after the aggregation finalizes (append mode).
    * Spec-pinned batch-equal through a live query. Documents with no
    * qualifying run emit nothing (the batch contract — span-less and
    * NULL-text documents have no span rows to report). `hashGrams` must
    * match the vocabulary's build mode (loud at construction). */
  def duplicatedSpansAgainst(docs: DataFrame, refGrams: DataFrame,
      spanTokens: Int = graft.corpus.TextDedup.SpanTokens,
      minTokens: Int = graft.corpus.TextDedup.ExactSubstrMinTokens,
      hashGrams: Boolean = false,
      watermarkDelay: String = "1 hour"): DataFrame = {
    graft.corpus.TextDedup.requireVocabMode(refGrams, hashGrams,
      "duplicatedSpansAgainst")
    require(minTokens >= spanTokens,
      s"minTokens ($minTokens) below the window width ($spanTokens) cannot" +
        " be reported — every detected span covers at least one window")
    // span-less / NULL-text docs carry no windows: absent by contract
    val span = col("r.e") - col("r.s") + lit(spanTokens)
    spanHits(spanTokenized(docs, watermarkDelay), refGrams, spanTokens,
        hashGrams)
      .withColumn("r", explode(qualifyingRuns(spanTokens, minTokens)))
      .select(col("doc_id"), col("ts"),
        col("r.s").cast("long").as("start_pos"),
        span.cast("long").as("n_span_tokens"),
        array_join(slice(col("ws"), col("r.s"), span.cast("int")), " ")
          .as("span_text"))
  }

  /** Streaming CCNet bucket assignment — [[graft.corpus.Curation.ccnetAssign]]'s
    * ingest twin (x86): score each arriving `(doc_id, ts, lang, text)`
    * record against a FROZEN unigram LM and assign it to the FROZEN
    * per-language quality-bucket boundaries, spec-pinned batch-equal.
    *
    * Shape: the LM is corpus-vocabulary sized, so it stays a STATIC
    * DataFrame — explode the document's tokens, stream-static LEFT join the
    * LM for per-token log-probs, then ONE watermarked aggregation per
    * (doc_id, ts, lang) for the (n_tokens, n_known, sum_logprob) triple.
    * The boundary table, by contrast, is bounded (n_langs × k doubles —
    * [[graft.corpus.Curation.boundaryArtifact]]), so the bucket lookup is a
    * stateless literal-map projection AFTER the aggregation — a second
    * chained aggregation (the batch assigner's bounds-join + per-doc min)
    * is exactly what append mode forbids. All-OOV and zero-token documents
    * are absent from the output, the batch contract. Aggregated rows
    * finalize when the watermark passes their event time (append mode). */
  def assignBuckets(docs: DataFrame, lm: DataFrame,
      bounds: Map[String, Seq[Double]], buckets: Int = 3,
      watermarkDelay: String = "1 hour"): DataFrame = {
    require(buckets > 0, "bucket count must be positive")
    // a boundary artifact from a k > `buckets` reference run would mix two
    // bucket scales (the batch assigner's loud gate, checkable here at
    // construction because the artifact is driver-side)
    require(bounds.values.forall(_.size <= buckets),
      s"assignBuckets: bounds carry ${bounds.values.map(_.size).max} " +
        s"buckets > buckets=$buckets — frozen run used more buckets")
    val bLit = if (bounds.isEmpty) typedLit(Map(" " -> Seq.empty[Double]))
      else typedLit(bounds)
    val scored = docs.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .join(lm, Seq("w"), "left")
      .groupBy(col("doc_id"), col("ts"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("lp")).as("n_known"),
        sum(col("lp")).cast("double").as("sum_logprob"))
      .filter(col("n_known") > 0)
      .withColumn("s", col("sum_logprob") / col("n_known"))
    // first (best) bucket whose boundary s reaches; if it reaches NONE of
    // the language's boundaries — or the language is unknown — the tail.
    // `m > s` strict is the complement of the batch `s >= min_s`.
    val arr = element_at(bLit, col("lang"))
    val above = size(filter(arr, m => m > col("s")))
    scored.select(col("doc_id"), col("ts"), col("lang"), col("n_tokens"),
      col("n_known"), col("s"),
      when(arr.isNull || above === size(arr), lit(buckets))
        .otherwise(above + 1).cast("long").as("bucket"))
  }

  /** Streaming Pareto-acceptance resampling — [[gateByQuality]]'s
    * heavy-tailed sibling ([[graft.corpus.Classifier.paretoResample]], the
    * GPT-3 retention rule): each arriving `(doc_id, source, text)` record's
    * classifier score under the FROZEN model, its DETERMINISTIC acceptance
    * draw (namespaced identity hash — a replayed or duplicated record draws
    * the same value, so at-least-once delivery cannot flip a decision), and
    * `keep`. One stateless narrow projection: NO watermark, NO state, any
    * output mode. Flags emitted, not filtered (the x73 routing doctrine). */
  def resampleIngest(docs: DataFrame,
      model: graft.corpus.Classifier.LrModel): DataFrame =
    graft.corpus.Classifier.paretoResample(docs, model)
}
