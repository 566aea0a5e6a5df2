package graft.queries

import graft.corpus.{Similarity, TextDedup, TextStats}
import graft.multimodal.Media
import graft.util.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch queries for the training-data-pipeline operators (dedup, similarity
  * search, text analysis, multimodal) over the driver's `documents` and
  * `embeddings` tables. `x*` ids are corpus/text ops, `m*` multimodal. */
object CorpusQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")

  /** x1 — exact dedup by content digest. */
  def x1DedupExact(spark: SparkSession, dir: String): DataFrame =
    TextDedup.exact(docs(spark, dir))

  /** x2 — exact word-3-gram Jaccard near-dup pairs (J >= 0.8). */
  def x2NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    TextDedup.ngramJaccardPairs(docs(spark, dir))

  /** x3 — MinHash+LSH candidates, exact-verified to the same J >= 0.8 contract.
    * Oracle-checked against the exact-Jaccard SQL: banding at 16x4 has no false
    * negatives on this corpus (verified; misses would fail the driver compare). */
  def x3MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairs(docs(spark, dir))

  /** x20 — dedup clusters over the MinHash+LSH near-dup pairs: connected
    * components with the min doc id as the canonical survivor. */
  def x20DedupClusters(spark: SparkSession, dir: String): DataFrame =
    TextDedup.dedupClusters(TextDedup.minhashPairs(docs(spark, dir)))

  /** x4 — 32-bit SimHash fingerprint per document (md5-nibble construction). */
  def x4Simhash(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(docs(spark, dir))

  /** x5 — SimHash near-dup pairs within Hamming distance 3 (chunk-blocked). */
  def x5SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(docs(spark, dir))

  /** x6 — brute-force exact cosine top-5 for query vectors vec_id < 20. */
  def x6CosineTopk(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(emb(spark, dir))

  /** x7 — sign-LSH approximate nearest neighbor (best same-bucket neighbor). */
  def x7AnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.annLsh(emb(spark, dir))

  /** x12 — embedding-cosine near-dup pairs (exact upper-triangle baseline,
    * cosine >= 0.45 — this corpus's meaningful range). */
  def x12CosineNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(spark, dir))

  /** x13 — IVF ANN: deterministic first-16 coarse quantizer, nprobe=4, top-5. */
  def x13AnnIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.annIvf(emb(spark, dir))

  /** x8 — stopword-heuristic language ID. */
  def x8LangId(spark: SparkSession, dir: String): DataFrame =
    TextStats.langId(docs(spark, dir))

  /** x9 — heuristic quality score. */
  def x9Quality(spark: SparkSession, dir: String): DataFrame =
    TextStats.quality(docs(spark, dir))

  /** x10 — whitespace + BPE-ish regex token counts. */
  def x10TokenStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenStats(docs(spark, dir))

  /** x11 — winnowing fingerprint sketch (size + min) per document. */
  def x11Winnow(spark: SparkSession, dir: String): DataFrame =
    TextStats.winnowFingerprint(docs(spark, dir))

  /** m1 — multimodal metadata "decode" (SQL-expressible FakeCodec arithmetic). */
  def m1MediaMeta(spark: SparkSession, dir: String): DataFrame =
    Media.mediaMeta(docs(spark, dir))

  /** x18 — corpus vocabulary: top-20 tokens by occurrence, with doc frequency. */
  def x18Vocabulary(spark: SparkSession, dir: String): DataFrame =
    TextStats.vocabulary(docs(spark, dir))

  /** x19 — corpus-trained unigram log-prob score per document (LM quality filter). */
  def x19UnigramScore(spark: SparkSession, dir: String): DataFrame =
    TextStats.unigramLogProb(docs(spark, dir))

  /** x16 — stopword scrub: normalized text + removed-token counts. */
  def x16StopwordScrub(spark: SparkSession, dir: String): DataFrame =
    TextStats.stopwordScrub(docs(spark, dir))

  /** x21 — Gopher-style token-level repetition statistics (dup-n-gram and
    * top-token fractions). */
  def x21RepetitionStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.repetitionStats(docs(spark, dir))

  /** x22 — benchmark decontamination: training docs sharing a 3-gram with the
    * deterministic doc_id % 50 == 0 benchmark slice. */
  def x22Decontamination(spark: SparkSession, dir: String): DataFrame =
    TextDedup.decontaminationReport(docs(spark, dir))

  /** x23 — deterministic quota sampling: domain-mixing weights via a
    * reproducible content-hash gate (tiers by source suffix mod 3). */
  def x23QuotaSample(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.quotaSample(docs(spark, dir))

  /** x24 — per-domain quality selection: top-3 docs by quality per source. */
  def x24TopkQuality(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.topKByQuality(docs(spark, dir))

  /** x25 — mix report: per-source surviving doc/token composition after
    * quota sampling (the audit that confirms mixing weights landed). */
  def x25MixReport(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.mixReport(docs(spark, dir))

  /** x26 — TF-IDF keyword extraction: top-3 most distinctive tokens per doc. */
  def x26TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    TextStats.tfidfKeywords(docs(spark, dir))

  /** x27 — corpus-trained bigram conditional log-prob score (perplexity-style
    * LM quality filter). */
  def x27BigramScore(spark: SparkSession, dir: String): DataFrame =
    TextStats.bigramLogProb(docs(spark, dir))

  /** x32 — Gopher-style quality-gate rules report: per-rule 0/1 flags plus
    * the conjunctive keep decision. */
  def x32QualityGate(spark: SparkSession, dir: String): DataFrame =
    TextStats.qualityGate(docs(spark, dir))

  /** x33 — cross-source near-dup overlap matrix over the MinHash+LSH pair set
    * (the dedup governance report: which domains mirror each other). */
  def x33SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.crossSourceOverlap(TextDedup.minhashPairs(d), d)
  }

  /** x31 — sequence packing: per-source concat-then-chunk assignment of every
    * document to its fixed-token-budget training sequence. */
  def x31PackSequences(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.packSequences(docs(spark, dir))

  /** x34 — overlapping fixed-token-window chunking (retrieval/embedding prep):
    * every document split into [[graft.corpus.Curation.ChunkTokens]]-token
    * windows every [[graft.corpus.Curation.ChunkStride]] tokens. */
  def x34ChunkDocuments(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.chunkDocuments(docs(spark, dir))

  /** x35 — deterministic identity-hash train/val/test split assignment. */
  def x35SplitAssign(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.assignSplits(docs(spark, dir))

  /** x36 — top-k PMI collocations over adjacent token pairs (the
    * vocabulary/tokenizer audit: which multi-word units act as one token). */
  def x36PmiCollocations(spark: SparkSession, dir: String): DataFrame =
    TextStats.pmiCollocations(docs(spark, dir))

  /** x37 — cross-document duplicated-span report (the exact-substring-dedup
    * signal: per doc, the fraction of 5-token windows shared with another doc). */
  def x37CrossDocSpans(spark: SparkSession, dir: String): DataFrame =
    TextDedup.crossDocSpans(docs(spark, dir))

  /** x83 — keep-one-copy cross-document span scrub (x37's remedy). */
  def x83SpanScrub(spark: SparkSession, dir: String): DataFrame =
    TextDedup.spanScrub(docs(spark, dir))

  /** x99 — exact-substring duplicate spans at ExactSubstr length (Lee et
    * al. 2022): per doc, maximal duplicated-window runs covering ≥ 50
    * tokens, with the span text. */
  def x99ExactSubstrSpans(spark: SparkSession, dir: String): DataFrame =
    TextDedup.duplicatedSpans(docs(spark, dir))

  /** x101 — exact-substring scrub at ExactSubstr length: keep-one-copy
    * removal of duplicated runs covering ≥ 50 tokens (Lee et al. 2022's
    * published remedy; short incidental overlaps stay). */
  def x101SpanScrubLong(spark: SparkSession, dir: String): DataFrame =
    TextDedup.spanScrubLong(docs(spark, dir))

  /** x100 — exact-substring spans of the odd-id increment against the
    * even-id reference half's frozen span vocabulary (x40's split
    * convention): the ingest-time long-verbatim-overlap screen. */
  def x100IncrSubstrSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.duplicatedSpansAgainst(
      d.filter(col("doc_id") % 2 === 1),
      TextDedup.spanVocabulary(d.filter(col("doc_id") % 2 === 0)))
  }

  /** x84 — incremental span scrub: odd-id docs (the increment) scrubbed
    * against the frozen span vocabulary of the even-id reference half
    * (x40's split convention). */
  def x84IncrSpanScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.spanScrubAgainst(
      d.filter(col("doc_id") % 2 === 1),
      TextDedup.spanVocabulary(d.filter(col("doc_id") % 2 === 0)))
  }

  /** x102 — incremental exact-substring scrub at ExactSubstr length:
    * odd-id docs (the increment) scrubbed against the even-id reference
    * half's frozen span vocabulary (x40's split convention), removing only
    * matched runs covering ≥ 50 tokens — x101's ingest twin (x84 is x83's;
    * this completes the tier symmetry). */
  def x102IncrScrubLong(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.spanScrubLongAgainst(
      d.filter(col("doc_id") % 2 === 1),
      TextDedup.spanVocabulary(d.filter(col("doc_id") % 2 === 0)))
  }

  /** x103 — span-level decontamination report: the verbatim ≥ 13-token
    * spans (GPT-3's published filter length) each training document shares
    * with the doc_id % 50 == 0 benchmark slice — x22 says THAT something
    * leaked, this says WHAT. */
  def x103DecontamSpans(spark: SparkSession, dir: String): DataFrame =
    TextDedup.decontaminationSpans(docs(spark, dir))

  /** x105 — x103 behind the bloom prefilter: identical answer (shared
    * oracle — no false negatives, the exact semi-join kills false
    * positives), the plan for benchmark suites whose span vocabulary
    * cannot broadcast. */
  def x105DecontamSpansBloom(spark: SparkSession, dir: String): DataFrame =
    TextDedup.decontaminationSpansBloom(docs(spark, dir))

  /** x104 — the OPQ pre-encode rotation under the oracle: every embedding
    * rotated by the FIXED seeded orthonormal matrix
    * (`Quantization.fixedRotation` — the trained `opqRotation` is
    * SVD-iterative and not SQL-expressible, so the driver row pins the
    * APPLICATION kernel, `functions.RotateVector`, end-to-end instead),
    * reporting three rotated coordinates per vector (rows 1/32/64 of the
    * matrix — each a full 64-term dot whose left-to-right fold matches
    * DuckDB's `list_dot_product` op for op, the PqEncode parity
    * discipline), 6-dp rounded. */
  def x104RotateEncode(spark: SparkSession, dir: String): DataFrame = {
    val r = graft.corpus.Quantization.fixedRotation()
    val rotated = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.RotateVector(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          col("embedding").cast("array<double>")), r))
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), rotated.as("y"))
      .select(col("vec_id"),
        round(element_at(col("y"), 1), 6).as("y1"),
        round(element_at(col("y"), 32), 6).as("y32"),
        round(element_at(col("y"), 64), 6).as("y64"))
  }

  /** x85 — CCNet-style per-language quality buckets: head/middle/tail thirds
    * by length-normalized unigram LM score, skew-proof exact NTILE. */
  def x85CcnetBuckets(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.ccnetBuckets(docs(spark, dir))

  /** x86 — incremental CCNet bucketing: odd-id docs (the increment) scored
    * against the even-id reference half's frozen unigram LM and assigned to
    * its frozen bucket boundaries (x40's split convention). */
  def x86IncrCcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val frozen = d.filter(col("doc_id") % 2 === 0)
    graft.corpus.Curation.ccnetAssign(
      d.filter(col("doc_id") % 2 === 1),
      graft.corpus.Curation.unigramLm(frozen),
      graft.corpus.Curation.ccnetBoundaries(
        graft.corpus.Curation.ccnetBuckets(frozen)))
  }

  /** x87 — RM3 pseudo-relevance-feedback retrieval: BM25 feedback pass,
    * RM1 expansion terms, weighted second pass. */
  def x87Rm3(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Retrieval.rm3TopK(docs(spark, dir))

  /** x92 — RM3 over the persisted retrieval artifacts: the x87 pipeline
    * probing a frozen postings + index pair instead of re-tokenizing the
    * corpus (both built inline here from the sheet-excluded corpus — the
    * deployment persists them via writeBm25Postings/writeBm25Index). */
  def x92Rm3Against(spark: SparkSession, dir: String): DataFrame = {
    val R = graft.corpus.Retrieval
    val d = docs(spark, dir)
    val isQuery = R.querySheetCol()
    val corpus = d.filter(!isQuery)
    // the deployment probes FROZEN persisted parquet (read-in-place per
    // consumer); built inline here, the artifacts are materialized once so
    // rm3TopKAgainst's three postings consumers don't re-run the tokenize
    // pipeline 3x (the x85 localCheckpoint hygiene). At sf0.1 this is
    // cost-neutral (~5.3 s either way — the tokenize pass is cheap next to
    // the three scoring joins); the 3-scans-to-1 cut is the 100 TB
    // argument, and the persisted-parquet path (the flat ~2.5 s probe of
    // ScalingIncr, last at commit 5156bae) is what a deployment actually
    // runs. The two checkpoint materializations are independent tokenize
    // passes — they build on
    // concurrent dedicated driver threads (DriverPar, the r17 x49
    // pattern), closing most of the wall-vs-compute gap the r17 profile
    // measured on this query (the two collects INSIDE rm3TopKAgainst are
    // data-dependent — pass-1 scores feed the weight sheet — and cannot
    // overlap)
    val Seq(post, idx) = graft.util.DriverPar.settleAll(Seq(
      () => R.bm25Postings(corpus).localCheckpoint(),
      () => R.bm25Index(corpus).localCheckpoint()))
    R.rm3TopKAgainst(post, idx, d.filter(isQuery))
  }

  /** x88 — tokenizer fertility per (lang, source) under the corpus-trained
    * BPE: chars/token and tokens/word, the multilingual-tokenizer audit. */
  def x88TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenizerFertility(docs(spark, dir))

  /** x89 — MMR-diversified cosine top-k: greedy maximal-marginal-relevance
    * selection over the exact top-12 candidate pool per query. */
  def x89Mmr(spark: SparkSession, dir: String): DataFrame =
    Similarity.mmrTopK(emb(spark, dir))

  /** x90 — deterministic training order: seeded global shuffle positions. */
  def x90TrainingOrder(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.trainingOrder(docs(spark, dir))

  /** x93 — denoised hard-negative mining: per query, top-5 negatives clear
    * of the positive (its exact best match) by the 0.1 cosine margin. */
  def x93HardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(emb(spark, dir))

  /** x94 — recall@5 of the default IVF generator (first-16 coarse
    * quantizer, nprobe 4 — x13's settings) against the exact baseline. */
  def x94DenseRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.denseRecallEval(emb(spark, dir))

  /** x98 — the x94 recall audit pointed at the generator consumers
    * actually swap in at 100 TB: recall@5 of the IVF-PQ ADC generator
    * (x93's deployment generator) over a self-contained
    * [[graft.corpus.Quantization.ivfPqIndex]] vs the exact baseline —
    * pricing the codes-not-vectors tier the way x94 prices the IVF tier. */
  def x98AdcRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val cbs = graft.corpus.Quantization.sliceCodebooks(e)
    val cents = graft.corpus.Quantization.centroidSeeds(e)
    Similarity.denseRecallEval(e,
      dense = graft.corpus.Retrieval.ivfAdcDenseCandidates(
        graft.corpus.Quantization.ivfPqIndex(e, cbs, cents), cbs, cents))
  }

  /** x95 — packing-efficiency audit: per-source split/padding cost of the
    * x31 concat-then-chunk layout at the shared budget. */
  def x95PackEfficiency(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.packEfficiencyReport(docs(spark, dir))

  /** x96 — x6's exact top-k through the bounded one-pass TopKPairs
    * aggregate (hash-agg plan, no window sort); bit-identical output,
    * shares x6's oracle verbatim. */
  def x96TopkAgg(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopKAgg(emb(spark, dir))

  /** x97 — boundary-respecting next-fit packing at the shared budget:
    * no document ever splits, oversize docs flagged singletons. */
  def x97PackNextFit(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.packNextFit(docs(spark, dir))

  /** x91 — tokenizer-fertility drift: odd-id docs (the increment) audited
    * under the merge list trained on the even-id frozen half, against that
    * half's own fertility baseline (x40's split convention). */
  def x91FertilityDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val frozen = d.filter(col("doc_id") % 2 === 0)
    TextStats.fertilityDrift(
      d.filter(col("doc_id") % 2 === 1), frozen,
      TextStats.trainBpe(frozen).map(t => (t._1, t._2)))
  }

  /** x38 — per-source document-length profile (count/min/max/quartiles/total). */
  def x38LengthProfile(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Profiling.lengthProfile(docs(spark, dir))

  /** x40 — incremental dedup: odd doc_ids play the daily increment, even
    * doc_ids the existing corpus; each flagged new doc reports its best old
    * match. Never compares new-vs-new or old-vs-old. */
  def x40IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.incrementalDedup(
      d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0))
  }

  /** x39 — sequence assembly: the materialized training sequences downstream
    * of x31's packing (ordered member text per (source, seq_id)). */
  def x39AssembleSequences(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.assembleSequences(docs(spark, dir))

  /** x30 — DSIR hashed-bigram importance weights against the default target
    * domains ([[TextStats.DsirTargetSources]]). */
  def x30DsirWeights(spark: SparkSession, dir: String): DataFrame =
    TextStats.importanceWeights(docs(spark, dir))

  /** x28 — PII scan + scrub over the deterministic PII fixture (the synthetic
    * corpus carries no organic PII; the fixture makes the hash check
    * non-vacuous — see [[graft.corpus.Privacy.syntheticPiiFixture]]). */
  def x28PiiScrub(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Privacy.piiScrub(
      graft.corpus.Privacy.syntheticPiiFixture(docs(spark, dir)))

  /** x29 — canonical text normalization over the deterministic messy-text
    * fixture (case, whitespace runs, padding). */
  def x29Normalize(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Privacy.normalizeText(
      graft.corpus.Privacy.messyTextFixture(docs(spark, dir)))

  /** x41 — temperature-scaled (α = 0.5) source mixing weights + epochs to
    * fill the [[graft.corpus.Curation.MixBudgetTokens]] token budget. */
  def x41MixWeights(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.mixWeights(docs(spark, dir))

  /** x42 — embedding-space benchmark decontamination: best-match report for
    * corpus vectors within cosine ≥ τ of the deterministic benchmark slice. */
  def x42EmbedDecontam(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Semantic.embedDecontam(emb(spark, dir))

  /** x43 — character-class Shannon entropy (bits) per document. */
  def x43CharEntropy(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.TextStats.charClassEntropy(docs(spark, dir))

  /** x44 — deterministic k-means cluster assignment over the embeddings
    * (seeded from the k lowest vec_ids, fixed iteration budget). */
  def x44Kmeans(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Semantic.kmeansAssign(emb(spark, dir))

  /** x45 — SemDeDup-style semantic prune: within-cluster near-dup drops with
    * their keeper. */
  def x45SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Semantic.semanticDedup(emb(spark, dir))

  /** x46 — cluster profile: per (cluster, label) counts and within-cluster
    * share (the clustering-quality / purity audit over x44's clusters). */
  def x46ClusterProfile(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Semantic.clusterProfile(emb(spark, dir))

  /** x47 — embedding QA profile: per-label vector counts, dimension bounds,
    * zero-norm count, norm min/max/mean (the vector-plane x17). */
  def x47EmbeddingProfile(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Profiling.embeddingProfile(emb(spark, dir))

  /** x50 — dedup applied: the surviving corpus after dropping every near-dup
    * cluster member except its canonical minimum (composes x3 → x20 → apply). */
  def x50DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.applyDedup(d, TextDedup.dedupClusters(TextDedup.minhashPairs(d)))
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** x51 — incremental semantic dedup: odd vec_ids play the increment, even
    * vec_ids the existing corpus; clusters train on the old side only. */
  def x51IncrementalSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    graft.corpus.Semantic.incrementalSemanticDedup(
      e.filter(col("vec_id") % 2 === 1), e.filter(col("vec_id") % 2 === 0))
  }

  /** x52 — the temperature mix MATERIALIZED: per-source hash-gated sampling
    * at the rate x41's weights imply for the x52 token budget. */
  def x52ApplyMix(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.applyMixWeights(docs(spark, dir))

  /** x48 — per-source boilerplate report: top-3 five-token windows shared by
    * the most documents within each source (template/chrome fingerprints). */
  def x48Boilerplate(spark: SparkSession, dir: String): DataFrame =
    TextDedup.boilerplateReport(docs(spark, dir))

  /** x49 — dataset card: the one-row release summary (cardinalities, token
    * and char totals, exact-dup count, mean quality) plus the audit-plane
    * scalars (packing split/padding trade, generator recall, hard-negative
    * yield). */
  def x49DatasetCard(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Profiling.datasetCard(docs(spark, dir), emb(spark, dir))

  /** The synthetic snapshot pair shared by x53 and x56 (ONE carving site so
    * the "same pair of versions" invariant cannot drift): old = doc_id % 3
    * != 0, new = doc_id % 5 != 0 with a deterministic " v2" edit at
    * doc_id % 7 == 0 — every diff class (added, removed, changed, unchanged)
    * exercised non-vacuously. The oracle SQL interpolates the same moduli. */
  private def snapshots(d: DataFrame): (DataFrame, DataFrame) = (
    d.filter(col("doc_id") % 3 =!= 0),
    d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text"))))

  /** x53 — snapshot diff over the shared synthetic snapshot pair. */
  def x53SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(docs(spark, dir))
    graft.corpus.Profiling.snapshotDiff(oldSnap, newSnap)
  }

  /** x54 — n-gram novelty of the odd-id increment against the even-id
    * reference corpus (the x40 split convention). */
  def x54Novelty(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextDedup.noveltyScore(
      d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0))
  }

  /** x55 — one-row source-concentration audit (HHI, entropy, top share). */
  def x55Concentration(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Profiling.concentrationReport(docs(spark, dir))

  /** x56 — per-source unigram JSD over the SAME snapshot pair x53 diffs
    * (shared [[snapshots]] carving), so both drift gates read one pair of
    * versions. */
  def x56UnigramDrift(spark: SparkSession, dir: String): DataFrame = {
    val (oldSnap, newSnap) = snapshots(docs(spark, dir))
    graft.corpus.Profiling.unigramDrift(oldSnap, newSnap)
  }

  /** x57 — embedding drift between snapshot memberships (old = vec_id % 3
    * != 0, new = vec_id % 5 != 0 — the x53/x56 split convention on the
    * vector table; the differing memberships shift every label's mean).
    * Probe label -1 (vec_id % 11 == 0 rows re-labeled, OLD side emptied to
    * zero-length arrays) exercises the loud gate: a label whose old-side
    * vectors are all empty must still SURFACE as dim 0 vs 64 with NULL
    * metrics — the oracle pins that row shape, so a regression to an
    * inner join (which silently drops the label) fails parity. */
  def x57EmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probe = col("vec_id") % 11 === 0
    val oldSide = e.filter(col("vec_id") % 3 =!= 0)
    val newSide = e.filter(col("vec_id") % 5 =!= 0)
    graft.corpus.Profiling.embeddingDrift(
      oldSide.union(oldSide.filter(probe).select(col("vec_id"),
        array().cast("array<float>").as("embedding"), lit(-1).as("label"))),
      newSide.union(newSide.filter(probe).select(col("vec_id"),
        col("embedding"), lit(-1).as("label"))))
  }

  /** x59 — x22's decontamination behind the bloom prefilter: identical
    * output, prefiltered plan (the large-blocklist shape). */
  def x59BloomDecontam(spark: SparkSession, dir: String): DataFrame =
    TextDedup.decontaminationReportBloom(docs(spark, dir))

  /** x58 — line-level boilerplate scrub over the deterministic paragraph
    * fixture (the corpus is single-line; the fixture rebuilds documents as
    * lines and plants cross-document header/footer boilerplate). */
  def x58LineScrub(spark: SparkSession, dir: String): DataFrame =
    TextDedup.lineScrub(TextDedup.paragraphFixture(docs(spark, dir)))

  /** x106 — URL normalization over the deterministic URL fixture (the
    * corpus carries no URL column; the fixture engineers every policy
    * branch — case, www, default ports, trailing slash, tracking params,
    * fragments, multi-label suffixes, one malformed core). */
  def x106UrlNormalize(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.normalizeUrl(
      graft.corpus.Curation.urlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("url"), col("url_norm"), col("domain"))

  /** x107 — canonical-URL exact dedup over the URL fixture: every
    * 125-congruent doc_id group canonicalizes to one url_norm (the
    * fixture's engineered collisions), keep-min convention; the malformed
    * core is excluded (no identity key). */
  def x107UrlDedup(spark: SparkSession, dir: String): DataFrame =
    TextDedup.urlDedup(graft.corpus.Curation.urlFixture(docs(spark, dir)))

  /** x108 — domain block/allow gate over the URL fixture: registrable
    * domains against the default blocklist — flags, not filters
    * (malformed / blocked / allowed; the allowlist branch is spec-pinned,
    * an empty allowlist never emits `unlisted`). */
  def x108DomainGate(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.domainGate(
      graft.corpus.Curation.urlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("url"), col("domain"), col("disposition"))

  /** x109 — incremental line scrub: odd-id docs of the paragraph fixture
    * (the increment) scrubbed against the even-id reference half's frozen
    * line vocabulary (x40's split convention) — x58's ingest twin,
    * completing the last asymmetric scrub tier. */
  def x109IncrLineScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = TextDedup.paragraphFixture(docs(spark, dir))
    TextDedup.lineScrubAgainst(
      d.filter(col("doc_id") % 2 === 1),
      TextDedup.lineVocabulary(d.filter(col("doc_id") % 2 === 0)))
  }

  /** x110 — HTML → text extraction over the deterministic HTML fixture
    * (the corpus carries no HTML; the fixture rebuilds every document as a
    * page exercising every policy stage non-vacuously — comments wrapping
    * anchors, script/style bodies with `<` and braces, attribute-bearing
    * tags, the full entity subset with double-escaping, nav/relative/
    * single-quoted links). */
  def x110HtmlExtract(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.extractText(
      graft.corpus.Html.htmlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("text"), col("html_len"), col("text_len"))

  /** x111 — the domain-level web graph over the URL + HTML fixtures:
    * registrable-domain edges (src from the page's own canonicalized URL,
    * dst from each extracted absolute outlink), multiplicity counted; the
    * fixture's link arithmetic reuses the urlFixture Brand/tld branches so
    * link domains collide with page domains, and the commented-out anchor
    * (`evil.example`) pins comment-stripping into the edge hash. */
  def x111DomainEdges(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.domainEdges(
      graft.corpus.Html.htmlFixture(
        graft.corpus.Curation.urlFixture(docs(spark, dir))))

  /** x112 — incremental canonical-URL dedup: odd-id docs of the URL
    * fixture (the increment) probed against the even-id reference half's
    * frozen url index, with classes `(doc_id % 125) % 10 == 3` withheld
    * from the reference (the engineered index misses — those increments
    * are ABSENT, pinning the unknown-URL branch end-to-end). */
  def x112IncrUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val fx = graft.corpus.Curation.urlFixture(docs(spark, dir))
    val ref = fx.filter(col("doc_id") % 2 === 0 &&
      (col("doc_id") % 125) % 10 =!= 3)
    val inc = fx.filter(col("doc_id") % 2 === 1)
    TextDedup.urlDedupAgainst(inc, TextDedup.urlIndex(ref))
  }

  /** x113 — weighted domain PageRank over the x111 edge table (integer
    * micro-units, fixed iterations — the oracle unrolls the same
    * `WebGraph` constants, so the fixed point is exact on both engines);
    * the rank signal crawl curation weighs domains with. */
  def x113DomainPagerank(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.WebGraph.domainPageRank(
      graft.corpus.Html.domainEdges(
        graft.corpus.Html.htmlFixture(
          graft.corpus.Curation.urlFixture(docs(spark, dir)))))

  /** x114 — meta-robots gate over the HTML fixture: noindex/nofollow
    * flags from the page's own directive (planted on id%6 ∈ {2, 5}, the
    * second UPPERCASE with reversed attribute order — both patterns
    * exercised; everything else defaults to index,follow). */
  def x114RobotsGate(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.robotsGate(
      graft.corpus.Html.htmlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("noindex"), col("nofollow"))

  /** x115 — declared-canonical dedup over the URL + HTML fixtures: the
    * rel=canonical target (absolute only — the planted relative one falls
    * back to the fetch URL) replaces the fetch URL as the identity key,
    * merging the fixture's engineered neighboring-class groups; keep-min
    * + a census of how many members declared. */
  def x115CanonicalDedup(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.canonicalKey(
      graft.corpus.Html.htmlFixture(
        graft.corpus.Curation.urlFixture(docs(spark, dir))))
      .filter(col("canonical_key").isNotNull)
      .groupBy(col("canonical_key"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"),
        sum(when(col("canonical_src") === "declared", 1L).otherwise(0L))
          .as("n_declared"))

  /** x116 — warm-start PageRank: the previous snapshot is the fixture
    * graph WITHOUT any edge touching a `brandc` domain (the declared-
    * canonical targets — withheld the way x112 withholds index classes;
    * a DOC split cannot do this: any large doc subset covers every
    * fixture domain, so a doc-split "previous snapshot" would leave the
    * new-domain branch dead under the oracle). One warm round over the
    * full graph then meets dozens of domains the snapshot never ranked —
    * the uniform-share fallback is oracle-hashed, not just spec-pinned. */
  def x116WarmPagerank(spark: SparkSession, dir: String): DataFrame = {
    // the edge table feeds BOTH pipelines (the cold snapshot rank and the
    // warm round); checkpointing it once saves the second fixture+extract
    // chain evaluation (~1.2 s of the row's cost) — in production this is
    // the persisted edge table both consumers read anyway
    val edges = graft.corpus.Html.domainEdges(
      graft.corpus.Html.htmlFixture(
        graft.corpus.Curation.urlFixture(docs(spark, dir))))
      .localCheckpoint()
    val prev = graft.corpus.WebGraph.domainPageRank(edges.filter(
      !col("src_domain").startsWith("brandc") &&
        !col("dst_domain").startsWith("brandc")))
    graft.corpus.WebGraph.domainPageRankFrom(edges, prev, iters = 1)
  }

  /** x117 — robots.txt crawl gate over the URL fixture: per-domain files
    * from the deterministic robots fixture, parsed for [[graft.corpus
    * .Robots.CrawlerAgent]] (group selection: agent groups beat `*`,
    * shared headers, orphan rules dropped), then longest-match /
    * allow-wins-tie verdicts per URL — flags, not filters. */
  def x117RobotsTxtGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.{Curation, Robots}
    Robots.robotsTxtGate(
      Curation.urlFixture(docs(spark, dir)),
      Robots.parseRules(Robots.robotsFixture(docs(spark, dir))))
      .select(col("doc_id"), col("url"), col("domain"),
        col("robots_disposition"), col("matched_rule"))
  }

  /** x118 — anchor-text aggregation over the HTML fixture: what the
    * fixture's pages "say" about each target domain, as (domain, term)
    * mention/page counts — the rich anchor (id % 8 == 3) puts the inner
    * tag-strip and entity decode under the hash, the commented-out
    * anchor stays invisible, relative/ftp anchors contribute nothing. */
  def x118AnchorTerms(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.anchorTerms(
      graft.corpus.Html.htmlFixture(docs(spark, dir)))

  /** x119 — crawl-frontier scheduling over the URL + HTML fixtures: every
    * outlink canonicalized, deduped, already-fetched URLs dropped against
    * the fixture's own url index, scored by a rank snapshot computed WITH
    * the `brandc` domains withheld (the x116 convention — so the
    * uniform-share fallback for never-ranked domains is live under the
    * oracle hash), then per-domain politeness slots and the global
    * budget cut. */
  def x119CrawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.{Curation, Html, WebGraph}
    // one checkpoint feeds all three consumers (edges, candidates, the
    // fetched index) — in production these read the persisted crawl table
    val hfx = Html.htmlFixture(Curation.urlFixture(docs(spark, dir)))
      .localCheckpoint()
    val ranks = WebGraph.domainPageRank(Html.domainEdges(hfx).filter(
      !col("src_domain").startsWith("brandc") &&
        !col("dst_domain").startsWith("brandc")))
    WebGraph.crawlFrontier(hfx, TextDedup.urlIndex(hfx), ranks)
  }

  /** x120 — per-domain degree/reciprocity profile over the fixture web
    * graph: distinct partners and weights each way, self-loop weight,
    * and both-directions partner counts — the structural spam panel. */
  def x120DegreeProfile(spark: SparkSession, dir: String): DataFrame =
    // the degree panel reads the edge table FIVE times (out/in/self
    // aggregates + both sides of the reciprocity self-join); checkpointing
    // it once keeps the fixture+extract regex chain out of all five plan
    // instances (measured: the chain dominated the query's hottest stage,
    // 32 s task time, r19 profile) — in production this is the persisted
    // x111 edge table every consumer reads anyway (the x116 convention)
    graft.corpus.WebGraph.degreeProfile(
      graft.corpus.Html.domainEdges(
        graft.corpus.Html.htmlFixture(
          graft.corpus.Curation.urlFixture(docs(spark, dir))))
        .localCheckpoint())

  /** x121 — content-block extraction by link density over the HTML
    * fixture: per-block word/anchor-word counts and the integer
    * min-words + max-density verdict — the single-document boilerplate
    * heuristic (nav blocks fail on density, titles on length,
    * paragraphs pass). */
  def x121ContentBlocks(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.contentBlocks(
      graft.corpus.Html.htmlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("block_idx"), col("n_words"),
        col("n_anchor_words"), col("is_content"), col("text"))

  /** x122 — declared page language over the HTML fixture: the `lang`
    * attribute verbatim plus the lowercased primary subtag (both quote
    * styles, case variants, region subtags, not-first-attribute
    * placement, and the no-declaration NULL branch — all planted by
    * `id % 9`). */
  def x122DeclaredLang(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Html.declaredLanguage(
      graft.corpus.Html.htmlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("lang_attr"), col("lang_primary"))

  /** x123 — URL shape features + the C4-style word gate over the URL
    * fixture: depth/chars/digits/params as integer counts, the flag
    * live on the brand7 entry, NULL features on the malformed rows. */
  def x123UrlFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.urlFeatures(
      graft.corpus.Curation.urlFixture(docs(spark, dir)))
      .select(col("doc_id"), col("url_norm"), col("path_depth"),
        col("path_chars"), col("path_digits"), col("n_params"),
        col("url_flag"))

  /** x124 — the per-domain scorecard over the URL + HTML + robots
    * fixtures: census, rank, degree/reciprocity, robots rule count, and
    * the top anchor term, one row per rank∪census domain. Live under
    * the oracle: pages-0 linked-only domains, rule-count 0 (the b%7==3
    * no-file branch), NULL top anchor (census domains nobody anchors).
    * The NULL-rank branch (a fetched domain with no outlinks that no
    * page links to) is unreachable under this fixture — every fixture
    * page carries nav links — so it is spec-pinned instead
    * (`WebGraphSpec`). */
  def x124DomainScorecard(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.{Curation, Html, Robots, WebGraph}
    val d = docs(spark, dir)
    // the scorecard reads its page table THREE times (census, edge table,
    // anchor terms); checkpointing the fixture chain once keeps the
    // urlFixture+htmlFixture construction out of all three plan instances
    // (the x119/x120 convention — in production these consumers read the
    // persisted crawl table anyway). Measured r20: 2.64 s → see
    // OPTIMIZATION_r20.md for the after number.
    WebGraph.domainScorecard(
      Html.htmlFixture(Curation.urlFixture(d)).localCheckpoint(),
      Robots.robotsFixture(d))
  }

  /** x125 — sitemap URL discovery over the sitemap + URL fixtures: every
    * declared `<url>` entry parsed (child order, trim, milli-priority),
    * canonicalized, and judged against the fixture's own url index —
    * known/new decided BY the join (both live), foreign on the planted
    * cross-domain loc, malformed on the no-loc and garbage-loc plants. */
  def x125SitemapDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.{Curation, Robots}
    val d = docs(spark, dir)
    Robots.sitemapDiscovery(
      Robots.parseSitemaps(Robots.sitemapFixture(d)),
      TextDedup.urlIndex(Curation.urlFixture(d)))
  }

  /** x126 — redirect-chain resolution over the URL + redirect fixtures:
    * per-doc observed redirects collapse (through normalization) to one
    * edge per class, the map compiles by pointer doubling under the
    * [[graft.corpus.WebGraph.RedirectHopCap]] hop cap, and every doc
    * resolves to its post-redirect identity — chains of 1–4 hops, the
    * 101..123 long chain pinning the cap from both sides (108 resolves
    * at exactly 8 hops, 109 is over-cap), the 50↔55 cycle and the
    * 60→60 self-redirect unresolved, class 124 malformed, everything
    * else direct. */
  def x126ResolveRedirects(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.{Curation, WebGraph}
    val d = docs(spark, dir)
    WebGraph.resolveRedirects(
        Curation.urlFixture(d), WebGraph.redirectFixture(d))
      .select(col("doc_id"), col("url_norm"), col("final_url"),
        col("n_hops"), col("redirect_disposition"))
  }

  /** x127 — mirror-domain detection over the URL + content-class
    * fixtures: (domain, digest) distinct, the boilerplate cap at 4
    * (capping the fixture's 5-domain digest families — the branch is
    * live), pair generation only inside surviving families, integer
    * containment percent and the mirror/partial verdict. */
  def x127MirrorDomains(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.WebGraph.mirrorDomains(
      graft.corpus.WebGraph.mirrorFixture(docs(spark, dir)),
      maxDomains = 4, textCol = "mtext")

  /** x128 — URL path-template census over the URL fixture: digit runs
    * masked to `N` collapse the `/p/0..11` path space onto one
    * `(domain, /p/N)` shape per domain; the driver row's `minUrls = 3`
    * (the x127 explicit-parameter convention — the fixture's 125-class
    * URL space canonicalizes to at most ~4 distinct URLs per shape)
    * puts .com domains (3–4 path classes) at `trap` and the 1–2-class
    * co.uk/com.au domains at `ok` — both verdicts decided BY the
    * census. */
  def x128PathTemplates(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.pathTemplates(
      graft.corpus.Curation.urlFixture(docs(spark, dir)),
      minUrls = graft.corpus.Curation.TrapFixtureMinUrls)

  /** x129 — sitemap-driven recrawl scheduling over the sitemap +
    * fetch-log fixtures: even-brand domains hold full logs (refetch/
    * fresh decided BY the lexicographic lastmod-vs-fetched_at compare),
    * odd-brand domains were never crawled (`fetch`), foreign/malformed
    * entries route to `audit`. */
  def x129RecrawlVerdicts(spark: SparkSession, dir: String): DataFrame = {
    import graft.corpus.Robots
    val d = docs(spark, dir)
    Robots.recrawlVerdicts(
      Robots.parseSitemaps(Robots.sitemapFixture(d)),
      Robots.fetchLogFixture(d))
  }

  /** x130 — Sitemap declarations from the robots fixture: refs planted
    * at every structural position (pre-group, between groups with an
    * UPPERCASE field name and trailing comment, post-group relative →
    * malformed), extracted under parseRules' line policy and scoped
    * same_host/cross_host/malformed. */
  def x130SitemapRefs(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Robots.sitemapRefs(
      graft.corpus.Robots.robotsFixture(docs(spark, dir)))

  /** x17 — one-scan numeric data-quality profile of the lineitem fact table. */
  def x17Profile(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Profiling.numericProfile(
      Tables.table(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount"))

  /** m3 — deterministic evenly-spaced frame sampling with per-frame byte ranges. */
  def m3FrameSample(spark: SparkSession, dir: String): DataFrame =
    Media.frameSample(docs(spark, dir))

  /** m4 — aspect-preserving resize plan (fit in 128x96, never upscale). */
  def m4ResizePlan(spark: SparkSession, dir: String): DataFrame =
    Media.resizePlan(docs(spark, dir))

  /** m2 — batched media feature extraction through the codec SPI (mapPartitions
    * kernel; the ORACLE reproduces FakeCodec's arithmetic in SQL, so even the
    * imperative path is hash-checked). The feature vector is surfaced as ONE
    * comma-joined string of integer MILLI-units — `round(f * 1000)` of the
    * float-promoted double is half-away-from-zero in both engines and every
    * representable `k.5` at this magnitude is exact, so the rendering can never
    * disagree (a `%.3f` rendering did: Java formats HALF_UP, C printf
    * half-even, and float means hit exact `.xxx5` boundaries whenever the
    * slice length is a power of two). Flat string also keeps the dump sortable
    * — the driver comparator cannot sort an ARRAY column. */
  def m2MediaFeatures(spark: SparkSession, dir: String): DataFrame =
    Media.mediaFeatures(spark, docs(spark, dir)).toDF()
      .select(col("doc_id"), col("n_frames"), col("n_pixels"),
        concat_ws(",", transform(col("features"),
          f => round(f.cast("double") * 1000).cast("long").cast("string")))
          .as("features"))

  /** x60 — BM25 top-5 corpus documents per query-slice document. */
  def x60Bm25(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Retrieval.bm25TopK(docs(spark, dir))

  /** x61 — BPE merge-pair counts: top-20 adjacent character pairs. */
  def x61BpePairs(spark: SparkSession, dir: String): DataFrame =
    TextStats.bpePairCounts(docs(spark, dir))

  /** x62 — fixed-size reproducible stratified sample (4 docs per source). */
  def x62StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.stratifiedSample(docs(spark, dir))

  /** x63 — kNN label transfer onto the vec_id % 10 == 0 held-out slice. */
  def x63KnnLabels(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnLabelTransfer(emb(spark, dir))

  /** x64 — per-cluster farthest-from-centroid outlier report. */
  def x64EmbeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Semantic.outlierReport(emb(spark, dir))

  /** x65 — the stateless ingest relevance gate replayed over the corpus:
    * best query-sheet match per document under the frozen index model. The
    * gate's sheet is the GateQueryCount-sized task sheet (the per-row
    * scalar kernel's intended regime), NOT x60's full retrieval suite;
    * the corpus/index side stays x60's sheet-excluded convention. */
  def x65RelevanceGate(spark: SparkSession, dir: String): DataFrame = {
    val R = graft.corpus.Retrieval
    val all = docs(spark, dir)
    val corpus = all.filter(!R.querySheetCol())
    val gateSheet = all.filter(R.querySheetCol() &&
      col("doc_id") < R.QueryMod * R.GateQueryCount)
    R.bm25IngestGate(corpus, R.bm25Model(R.bm25Index(corpus), gateSheet))
  }

  /** x66 — PQ encode: per (vector, subspace), the slice-codebook codeword
    * minimizing squared L2, flattened to scalars for the compare. */
  def x66PqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.pqCodes(emb(spark, dir))

  /** x67 — ADC top-5 per query vector over the PQ code table. */
  def x67PqAnn(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.adcTopK(emb(spark, dir))

  /** x68 — recall@5 of the PQ search against the exact cosine baseline. */
  def x68PqRecall(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.pqRecall(emb(spark, dir))

  /** x69 — ADC-candidates + exact re-rank: the production PQ search. */
  def x69PqRerank(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.adcRerankTopK(emb(spark, dir))

  /** x70 — IVF-PQ: nprobe-cell-restricted ADC search (FAISS's IVFADC). */
  def x70IvfPq(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.ivfAdcTopK(emb(spark, dir))

  /** x71 — hybrid retrieval: BM25 + dense-cosine candidates fused by
    * reciprocal-rank fusion over the shared x60 query sheet. */
  def x71HybridRrf(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Retrieval.hybridRrfTopK(docs(spark, dir), emb(spark, dir))

  /** x72 — truncated-dimension two-stage ANN: prefix-dot shortlist,
    * exact full-dimension re-rank. */
  def x72TruncAnn(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTruncated(emb(spark, dir))

  /** x73 — hybrid ingest gate replayed over the corpus: per (bench-slice-
    * excluded) document, its BM25 task-sheet relevance (x65's frozen-model
    * kernel) AND its embedding decontamination screen (x42's frozen
    * reference set) in one narrow projection; keep = relevant ∧
    * ¬contaminated ∧ screenable. The embeddings table plays doc_id's
    * embedding (x71's positional linkage). */
  def x73HybridGate(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    hybridGateOver(docs(spark, dir), e, e)
  }

  /** x74 — SQ8 encode: per-dimension min/max scalar quantization to
    * 0..255 codes, flattened to (vec_id, s, code) for the compare. */
  def x74Sq8Codes(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.sq8Codes(emb(spark, dir))

  /** x75 — SQ8 ADC top-5: dequantized dot factored into a per-query
    * constant + an integer-code dot product. */
  def x75Sq8Ann(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Quantization.sq8TopK(emb(spark, dir))

  /** x76 — discriminative quality classifier: hashed-unigram logistic
    * regression trained by 2 full-batch GD passes against the DSIR target
    * domain, then scored over the corpus (fixed-point-exact margins). */
  def x76QualityLr(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.corpus.Classifier.scoreQualityLr(
      d, graft.corpus.Classifier.trainQualityLr(d))
  }

  /** x77 — GPT-3 Pareto-acceptance resampling over the x76 classifier's
    * scores (self-contained-query contract: retrains the same model). */
  def x77ClassifierResample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.corpus.Classifier.paretoResample(
      d, graft.corpus.Classifier.trainQualityLr(d))
  }

  /** x78 — classifier calibration report: predicted-probability deciles vs
    * empirical target rates (self-contained: retrains the same model). */
  def x78Calibration(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    graft.corpus.Classifier.calibrationReport(
      d, graft.corpus.Classifier.trainQualityLr(d))
  }

  /** x79 — balanced output-shard assignment: per-source token-rank snake
    * deal across ShardCount shards. */
  def x79ShardAssign(spark: SparkSession, dir: String): DataFrame =
    graft.corpus.Curation.assignShards(docs(spark, dir))

  /** x80 — edit-distance verification of the x5 SimHash candidates:
    * Levenshtein + integer-exact is_dup verdict per candidate pair. */
  def x80EditVerify(spark: SparkSession, dir: String): DataFrame =
    TextDedup.editVerifyPairs(docs(spark, dir))

  /** x81 — BPE tokenization: train the 8-merge list on the corpus
    * (Sennrich et al. argmax rounds), then segment every document with it
    * (self-contained train-then-apply, the x76 pattern). */
  def x81BpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    TextStats.applyBpe(d,
      TextStats.trainBpe(d).map(m => (m._1, m._2)))
  }

  /** x82 — Broder containment pairs: |A∩B|/|A| both directions over the
    * x2 capped shingle universe, either direction >= 0.8. */
  def x82Containment(spark: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(docs(spark, dir))

  /** The x73 driver query over explicit frames — the ONE construction both
    * the Verify gate and the scaling ladder run, so the measured cell can
    * never decouple from the verified query. `benchEmb` is the slice the
    * decontam benchmark collects from: the corpus itself for the driver
    * query; the FIXED base replica on the ladder (a benchmark is an eval
    * artifact — growing it with the corpus would grow every row's screen
    * cost, not a shape any deployment runs). */
  def hybridGateOver(all: DataFrame, e: DataFrame,
      benchEmb: DataFrame): DataFrame = {
    val R = graft.corpus.Retrieval
    val S = graft.corpus.Semantic
    val corpus = all.filter(!R.querySheetCol())
    val gateSheet = all.filter(R.querySheetCol() &&
      col("doc_id") < R.QueryMod * R.GateQueryCount)
    val model = R.bm25Model(R.bm25Index(corpus), gateSheet)
    val bench = S.decontamBench(benchEmb)
    val inp = corpus.filter(col("doc_id") % S.DecontamBenchMod =!= 0)
      .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    R.hybridIngestGate(inp, model, bench, S.DecontamTau)
  }
}
