package graft.corpus

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Similarity search over an embedding column (`embeddings(vec_id BIGINT,
  * embedding ARRAY<FLOAT>, label INT)`).
  *
  * Two tiers, mirroring how an ANN service is actually built:
  *  - [[cosineTopK]] — brute-force exact top-k: the correctness baseline. The query
  *    side is broadcast, so the big side streams through one narrow pass (no
  *    shuffle of the corpus); cost is O(|queries| x |corpus| x dim).
  *  - [[annLsh]] — the scale path: random-hyperplane (sign) LSH buckets the corpus,
  *    then searches only within buckets. The cross join disappears; the join is
  *    bucket-equality, fan-out bounded by bucket occupancy. Hyperplanes come from a
  *    fixed-seed generator so results are deterministic.
  *
  * All arithmetic is promoted to double BEFORE multiplying (`cast array<double>`),
  * both for accuracy and so the DuckDB oracle (which computes in double) matches
  * bit-for-bit; sums fold left-to-right in array order in both engines.
  */
object Similarity {

  /** Defaults shared with the DuckDB oracles (interpolated there, so a
    * retune cannot drift engine and oracle). */
  val DefaultTopKQueries: Int = 20
  val DefaultTopK: Int = 5
  val DefaultNearDupThreshold: Double = 0.45
  val DefaultLshBits: Int = 6
  val DefaultDim: Int = 64
  val DefaultIvfCentroids: Int = 16
  val DefaultIvfNprobe: Int = 4

  private def toDouble(c: Column): Column = c.cast("array<double>")

  /** Cosine similarity of two double arrays — the codegen'd
    * [[graft.functions.DotProduct]] expression (bit-identical accumulation order
    * to the `aggregate` fold and to DuckDB's `list_dot_product`, so oracle
    * parity holds; ~600× less per-pair overhead inside the O(N²) joins). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorOps.cosine(a, b)

  /** (vec_id, e) with e pre-normalized to unit length — ONE fused codegen'd
    * pass per row ([[graft.functions.NormalizeVector]]): sum-of-squares fold,
    * sqrt, element-wise divide, all in the [[graft.functions.DotProduct]]
    * operation order, so every oracle that normalizes with the same sequence
    * stays bit-equal. Every pair/assignment stage after this is a SINGLE
    * array walk (dot of unit vectors) instead of dot + two norm
    * recomputations.
    *
    * Degenerate embeddings — zero-norm, empty, or NULL — surface as `e` NULL,
    * NEVER as a NaN vector: 0/0 = NaN per element, and Spark orders NaN
    * GREATEST, so one NaN vector would win every max-cosine contest downstream
    * (every BestMatch assignment, every `cos DESC` window) and silently absorb
    * the corpus. NULL instead loses everywhere by construction: BestMatch
    * NULLs its struct, equality joins drop NULL buckets, and `>=` filters
    * fail — the same contract the NULL-embedding guards already pin. The
    * fused expression keeps this guard CHEAP when Catalyst re-evaluates it —
    * inferred IsNotNull join constraints get pushed to the scan as a Filter
    * that recomputes `e`, and with the old `when(n > 0, transform(...))`
    * form that meant an interpreted per-element lambda per row, twice
    * (measured 2× on the ANN suite). */
  private[corpus] def normalizedBase(emb: DataFrame, passthrough: String*): DataFrame =
    emb.select(col("vec_id") +: passthrough.map(col) :+
      graft.functions.VectorOps.normalizeVec(
        toDouble(col("embedding"))).as("e"): _*)

  private def dotp(a: Column, b: Column): Column = graft.functions.VectorOps.dotp(a, b)

  /** Public [[normalizedBase]] view: (vec_id, e) with `e`
    * unit-normalized, degenerate vectors surfacing as NULL. */
  def normalizedCorpus(emb: DataFrame): DataFrame = normalizedBase(emb)

  /** Exact top-k cosine neighbors for each query vector (vec_id < numQueries),
    * excluding self; rank ties broken by neighbor id. */
  def cosineTopK(emb: DataFrame, numQueries: Int = DefaultTopKQueries,
      k: Int = DefaultTopK): DataFrame =
    candidatePool(emb, numQueries, k)
      .select(col("qid"), col("cid").as("neighbor_id"), col("rank"),
        round(col("rel"), 6).as("cosine"))

  /** X96 — [[cosineTopK]] re-planned through the bounded one-pass
    * [[graft.functions.TopKPairs]] aggregate instead of a row_number
    * window: same scan, same broadcast, but per-query state is O(k) and
    * the candidate stream is never sorted — partial aggregation ships at
    * most k entries per query per input partition to the shuffle, where
    * the window plan shuffles and SORTS every (query, candidate) pair.
    * Output bit-identical to [[cosineTopK]] (spec-pinned on corpora with
    * ties, zero-norm and NULL vectors; the shared driver query reuses x6's
    * oracle verbatim — the x59/x92 shared-oracle precedent). The window
    * form stays the default at sf sizes (whole-stage codegen covers it);
    * this is the 100 TB candidate-stream shape, and the building block
    * that gives STREAMING per-query top-k bounded state. */
  def cosineTopKAgg(emb: DataFrame, numQueries: Int = DefaultTopKQueries,
      k: Int = DefaultTopK): DataFrame = {
    val all = normalizedBase(emb)
    val queries = all.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    all.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        dotp(col("qe"), col("e")).as("rel"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKPairs.topK(col("rel"), col("cid"), k)
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("col.score"), 6).as("cosine"))
  }

  /** x6's candidate stage: per query (vec_id < numQueries), every other
    * vector's cosine, ranked (rel desc, cid) and cut at `k` — (qid, cid,
    * rel, e, rank). x6 KEEPS degenerate (NULL-e) vectors — NULL cosines
    * rank last by the id tiebreak. (The drop-degenerate pools now live
    * behind the [[Retrieval.DenseCandidates]] SPI — spec-pinned equal to
    * this shape minus the NULL rows — so the former keepDegenerate
    * parameter had exactly one live value left and was inlined.) */
  private def candidatePool(emb: DataFrame, numQueries: Int, k: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normalizedBase(emb)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    base.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        dotp(col("qe"), col("e")).as("rel"), col("e"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))))
      .filter(col("rank") <= k)
  }

  /** Deterministic +-1 hyperplane matrix: `bits` hyperplanes x `dim` components. */
  private def hyperplanes(bits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** [[lshBucket]] without the NULL guard — bit b = [dot(e, H_b) > 0], a
    * statically NON-nullable bucket id. Callers must have dropped NULL-`e`
    * rows first ([[annLsh]] filters them at the scan): a NULL vector fed here
    * would land in bucket 0 alongside genuine bucket-0 vectors. The
    * non-nullable key matters at plan level — a nullable self-join key makes
    * Catalyst infer `IsNotNull(bucket)` and push the ENTIRE bucket expression
    * (bits × dim dot products) into a scan-side Filter, evaluating it twice
    * per row. */
  private def lshBucketRaw(e: Column, bits: Int, dim: Int): Column = {
    val hp = hyperplanes(bits, dim)
    (0 until bits).map { b =>
      val proj = graft.functions.VectorOps.dotp(e, typedLit(hp(b).toSeq))
      when(proj > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Sign-LSH bucket id for an embedding: bit b = [dot(e, H_b) > 0]. NULL
    * propagates (a NULL vector gets a NULL bucket, so bucket-equality joins
    * emit no row for it) — without the guard every `when` falls through to
    * its `otherwise(0)` and all degenerate vectors pile into bucket 0. */
  def lshBucket(e: Column, bits: Int, dim: Int): Column =
    when(e.isNotNull, lshBucketRaw(e, bits, dim))

  /** Bucket-bit sizing guide for [[annLsh]]: occupancy per bucket is ~N/2^bits,
    * and the within-bucket search is quadratic in occupancy, so `bits` must grow
    * ~log₂(N) to hold occupancy (and recall) constant — e.g. ~64 vectors/bucket
    * means bits ≈ log₂(N) - 6. The fixed default (6) suits the test corpus only;
    * a deployment sizes it from the corpus count. */
  def bitsFor(corpusSize: Long, targetOccupancy: Int = 64): Int =
    math.max(6, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, corpusSize / math.max(1, targetOccupancy)) - 1) )

  /** Approximate nearest neighbor via sign-LSH: bucket the corpus, then for every
    * vector return its best same-bucket neighbor (exact cosine within the bucket).
    * Vectors alone in their bucket produce no row — the recall/efficiency trade
    * a real ANN index makes — and degenerate (zero-norm/empty/NULL) vectors
    * produce no row either: their bucket is NULL, so the equality join skips
    * them instead of letting NaN cosines displace every bucket-mate's true
    * neighbor. Size `bits` with [[bitsFor]] at deployment scale. */
  def annLsh(emb: DataFrame, bits: Int = DefaultLshBits,
      dim: Int = DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // buckets from the NORMALIZED vector: sign(dot(e/||e||, H)) == sign(dot(e, H))
    // mathematically, and the oracle buckets from the same normalized doubles so
    // even a projection within float-ε of zero cannot disagree. Degenerate
    // vectors are dropped by an explicit e-IsNotNull filter (cheap — one fused
    // NormalizeVector re-evaluation at the scan), which lets the bucket stay
    // the statically non-nullable lshBucketRaw form: a nullable self-join key
    // would make Catalyst push the whole bits×dim bucket expression into a
    // second scan-side evaluation per row.
    val base = normalizedBase(emb).filter(col("e").isNotNull)
      .withColumn("bucket", lshBucketRaw(col("e"), bits, dim))
    val pairs = base.as("a")
      .join(base.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("neighbor_id"),
        dotp(col("a.e"), col("b.e")).as("cos"))
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") === 1)
      .select(col("vec_id"), col("bucket"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs — the dedup-ladder rung for embedded
    * content: all pairs (id₁ < id₂) with cosine ≥ threshold, EXACT by
    * upper-triangle self-comparison. This is the correctness baseline (O(N²/2)
    * comparisons); at corpus scale you block first — [[annLsh]]'s sign-LSH
    * machinery, whose recall is sharp exactly in the high-cosine regime real
    * dedup thresholds live in — and run this as the in-bucket verifier. The
    * default threshold sits in this synthetic corpus's meaningful range (its max
    * pairwise cosine is ~0.6; nothing reaches classic ≥0.9 dedup territory). */
  def cosineNearDupPairs(emb: DataFrame,
      threshold: Double = DefaultNearDupThreshold): DataFrame = {
    val base = normalizedBase(emb)
    base.as("a").join(base.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"),
        dotp(col("a.e"), col("b.e")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_1"), col("vec_id_2"), round(col("cos"), 6).as("cosine"))
  }

  /** IVF (inverted-file) ANN — the scale path past [[annLsh]]: a coarse quantizer
    * splits the corpus into `numCentroids` cells (assignment = max-cosine
    * centroid, ties to the lowest id); each query exhaustively searches only its
    * `nprobe` closest cells. Real deployments train the centroids with k-means
    * offline and pass them in via `centroids`; the default — the first
    * `numCentroids` vectors by id — is the deterministic stand-in that lets the
    * DuckDB oracle rebuild the index bit-for-bit.
    *
    * Scale shape: centroids broadcast (K rows); assignment is one narrow pass
    * over the corpus; the search join is keyed on cell id and touches ~nprobe/K
    * of the data; nothing quadratic in N anywhere. */
  def annIvf(emb: DataFrame, numCentroids: Int = DefaultIvfCentroids,
      nprobe: Int = DefaultIvfNprobe,
      numQueries: Int = DefaultTopKQueries, k: Int = DefaultTopK,
      centroids: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normalizedBase(emb)
    // caller-supplied centroids take the SAME (vec_id, embedding) shape as the
    // corpus and are normalized here — all scoring below is unit-vector dot
    // products, so an unnormalized centroid would bias assignment by its length
    val cents = centroids.map(normalizedBase(_))
      .getOrElse(base.filter(col("vec_id") < numCentroids))
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    // Corpus assignment is the N-scale half, so it must stay NARROW: the
    // centroid table is broadcast-sized by contract (K × dim), so collect it
    // and score with the loop-codegen'd BestMatch argmax — zero shuffle,
    // JIT-safe at any K, identical choice to the window it replaces (max
    // cosine, ties to the lowest cid; the crossJoin+row_number formulation
    // pushed N × K rows through a partition-by-vec_id exchange just to pick
    // each vector's max). The query-side probe ranking below keeps the
    // window shape: its input is bounded by numQueries × K rows — and it
    // reuses the COLLECTED rows as a local relation, so the centroid
    // sub-plan (scan + normalize) runs exactly once, in this collect.
    // a degenerate centroid — NULL, empty, or zero-norm embedding (all
    // surfaced as ce NULL by normalizedBase) — can never win an assignment
    // (its cosine is NULL, which loses every max contest — exactly how the
    // replaced window formulation treated it), so drop it BEFORE the
    // collect instead of NPE-ing on getSeq(null)
    val centRows = cents.filter(col("ce").isNotNull).collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq.toSeq).toSeq
    val spark = emb.sparkSession
    if (centRows.isEmpty)
      // empty corpus / empty centroid table: an empty RESULT (the pre-IVF
      // contract every caller, incremental zero-row runs included, relies
      // on), never a crash — with no cells there is nothing to search. The
      // schema comes from the real search PLAN (built with a dummy centroid,
      // never executed), so the two branches cannot drift apart
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        annIvfSearch(base, Seq(0L -> Seq(1.0)), nprobe, numQueries, k).schema)
    else annIvfSearch(base, centRows, nprobe, numQueries, k)
  }

  private def annIvfSearch(base: DataFrame, centRows: Seq[(Long, Seq[Double])],
      nprobe: Int, numQueries: Int, k: Int): DataFrame =
    annIvfSearchOn(base,
      base.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      centRows, nprobe, k)

  /** The IVF search core over an explicit corpus/query split — the entry the
    * hybrid fusion's pluggable dense generator uses
    * ([[Retrieval.ivfDenseCandidates]]), where the query sheet is NOT a
    * `vec_id < numQueries` prefix of the searched corpus. Both frames are
    * PRE-NORMALIZED ([[normalizedBase]] shape): `corpus` = (vec_id, e) with
    * non-NULL unit vectors, `queries` = (qid, qe) likewise — re-normalizing
    * here would perturb the low bits and break the full-probe ≡ exact-scan
    * equality the generator spec pins. Self-pairs (vec_id = qid) are excluded,
    * [[annIvf]]'s contract (a no-op when the two frames are disjoint). */
  private[corpus] def annIvfSearchOn(corpus: DataFrame, queries: DataFrame,
      centRows: Seq[(Long, Seq[Double])], nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = corpus
      .withColumn("__bm", graft.functions.VectorOps.bestMatch(col("e"), centRows))
      .select(col("vec_id"), col("e"),
        (-col("__bm").getField("nid")).as("cid"))
    val centsLocal = corpus.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(
        centRows.map { case (id, v) => Row(id, v) }).asJava,
      StructType(Seq(
        StructField("cid", LongType, nullable = false),
        StructField("ce", ArrayType(DoubleType), nullable = false))))
    val probes = queries
      .crossJoin(broadcast(centsLocal))
      .select(col("qid"), col("qe"), col("cid"),
        dotp(col("qe"), col("ce")).as("pc"))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("pc").desc, col("cid"))))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("qe"), col("cid"))
    // probes is bounded by numQueries × nprobe rows BY CONSTRUCTION — broadcast
    // it so the assigned corpus never shuffles for the search join (statistics
    // can't see this bound through the window, so the hint is load-bearing)
    broadcast(probes).join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        dotp(col("qe"), col("e")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Stage-1 prefix length for [[annTruncated]] — the leading slice of the
    * (unit-normalized) embedding that the shortlist pass scores on. */
  val DefaultTruncDim: Int = 16

  /** Shortlist size per query for [[annTruncated]]'s exact re-rank. */
  val DefaultTruncShortlist: Int = 20

  /** X72 — truncated-dimension two-stage ANN (the Matryoshka-retrieval
    * shape): stage 1 shortlists each query's top-`shortlist` candidates by
    * the dot product of the LEADING `dPrefix` components of the unit-
    * normalized vectors; stage 2 re-ranks only that shortlist with the exact
    * full-dimension cosine. The codebook-free sibling of the PQ re-rank tier
    * ([[Quantization.adcRerankTopK]]): where PQ compresses via trained
    * centroids, truncation just drops trailing components — the approximation
    * MRL-trained embedding models are optimized to make tight, and a cheap,
    * deterministic one on any embedding.
    *
    * Scale shape: the N-scale work is stage 1 — one narrow broadcast-queries
    * pass over the corpus at `dPrefix/dim` of the full-dot flops, emitting
    * SLIM (qid, neighbor_id, tcos) rows into the per-query shortlist window
    * (no vectors ride the rank exchange). Stage 2 re-fetches vectors for the
    * (numQueries × shortlist)-bounded id set by broadcasting it against the
    * corpus — at deployment scale an id-lookup against vector storage, here a
    * second scan pruned by the broadcast hash join — and re-scores exactly,
    * [[Quantization.adcRerankTopKWith]]'s fetch shape. Degenerate (zero-norm/
    * empty/NULL) vectors drop on both sides — the [[annLsh]] no-row contract.
    *
    * Output: (qid, neighbor_id, rank, cosine) — [[cosineTopK]]'s schema; the
    * two tiers' agreement is exactly the recall a deployment measures before
    * trusting the truncation. */
  def annTruncated(emb: DataFrame, dPrefix: Int = DefaultTruncDim,
      shortlist: Int = DefaultTruncShortlist,
      numQueries: Int = DefaultTopKQueries, k: Int = DefaultTopK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normalizedBase(emb).filter(col("e").isNotNull)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // stage 1: prefix dot on unit vectors — slim candidate rows only
    val cands = base.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        dotp(slice(col("qe"), 1, dPrefix), slice(col("e"), 1, dPrefix))
          .as("tcos"))
      .withColumn("srank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("tcos").desc, col("neighbor_id"))))
      .filter(col("srank") <= shortlist)
      .select(col("qid"), col("neighbor_id"))
    // stage 2: fetch the shortlist's vectors, score exact, rank top-k
    base.join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("neighbor_id"),
        dotp(col("qe"), col("e")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Held-out slice for [[knnLabelTransfer]]: vec_id % KnnHoldoutMod == 0
    * plays the unlabeled side, the rest is the labeled reference. */
  val KnnHoldoutMod: Long = 10L

  /** Neighbors voting per transferred label. */
  val KnnK: Int = 5

  /** X63 — k-nearest-neighbor label transfer: predict each held-out vector's
    * label by majority vote of its `k` nearest labeled vectors (exact cosine,
    * ties: higher cosine wins the neighborhood, smaller neighbor id breaks
    * rank ties; vote ties go to the SMALLER label). The weak-supervision
    * staple: propagate a small human-labeled seed set (quality tiers, topic
    * tags, safety labels) across an unlabeled corpus, and — run over a slice
    * whose labels are actually known, as here — the embedding-space QA that
    * measures how label-coherent the space is before trusting it for
    * SemDeDup blocking or stratified mixing. Reports predicted vs actual and
    * an agreement flag per held-out vector.
    *
    * Scale: the held-out/query side is the bounded seed set's complement
    * audit slice — bounded by construction (an audit never scores the whole
    * corpus; a full-corpus propagation run flips the roles and broadcasts
    * the seed set instead, same plan). The neighborhood search runs behind
    * the [[Retrieval.DenseCandidates]] SPI (x71's lesson): the exact
    * default streams the labeled corpus through ONE narrow broadcast-
    * queries pass into the per-query top-k window; at larger N swap
    * [[Retrieval.ivfDenseCandidates]] (spec-pinned bit-equal at full probe)
    * or — after its sizing rule's measured recall gate —
    * [[Retrieval.ivfAdcDenseCandidates]], without touching the vote
    * contract. The label fetch and vote aggregate read only the
    * (query × k)-bounded candidate ids. Degenerate (zero-norm/NULL) vectors
    * are dropped on BOTH sides (they have no meaningful neighbors and must
    * never vote — the [[normalizedBase]] NULL contract). */
  def knnLabelTransfer(emb: DataFrame, holdoutMod: Long = KnnHoldoutMod,
      k: Int = KnnK,
      dense: Retrieval.DenseCandidates = Retrieval.exactDenseCandidates)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = normalizedBase(emb, "label").filter(col("e").isNotNull)
    val isHeldOut = col("vec_id") % holdoutMod === 0
    val queries = base.filter(isHeldOut)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("label").as("actual_label"))
    val labeled = base.filter(!isHeldOut && col("label").isNotNull)
    // the candidate stage is the ONLY corpus-scale work, behind the x71
    // generator SPI: the exact default's (cos desc, doc_id) top-k contract
    // IS this operator's neighborhood contract, and the held-out and
    // labeled sides are disjoint so no self-exclusion is needed. The
    // returned id set is (|queries| × k)-bounded — the label fetch joins
    // broadcast it
    val ids = dense(labeled.select(col("vec_id"), col("e")),
      queries.select(col("query_id"), col("qe")), k)
    val neighbors = labeled.select(col("vec_id"), col("label"))
      .join(broadcast(ids), col("vec_id") === col("doc_id"))
      .join(broadcast(queries.select(col("query_id"),
        col("actual_label"))), "query_id")
    neighbors
      .groupBy(col("query_id").as("qid"), col("actual_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vrank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("n_votes").desc, col("label"))))
      .filter(col("vrank") === 1)
      .select(col("qid").as("vec_id"), col("label").as("predicted_label"),
        col("actual_label"), col("n_votes"),
        (col("label") === col("actual_label")).as("agree"))
  }

  /** Candidate-pool size for [[mmrTopK]] — shared with the oracle. */
  val MmrCandidates: Int = 12

  /** X89 — MMR-diversified top-k retrieval (Carbonell & Goldstein 1998
    * maximal marginal relevance, λ fixed at 1/2): for each query vector,
    * take the exact cosine top-[[MmrCandidates]] candidate pool, then
    * greedily select `k` results — the first by pure relevance, each next by
    * `mmr = rel/2 − max_sim_to_selected/2` — so near-duplicate neighbors
    * stop crowding the result list. The retrieval face of the dedup plane:
    * a near-dup-heavy corpus makes plain top-k return one document five
    * times, and diversified selection is also how curation picks k
    * REPRESENTATIVE examples per query/cluster rather than k copies.
    * Degenerate (NULL-normalized) vectors take no part, queries included;
    * pools smaller than `k` yield fewer steps. Ties at every argmax break
    * on the candidate id, so the greedy path is total and deterministic.
    *
    * Scale shape: the ONLY corpus-scale stage is the candidate pass,
    * behind the [[Retrieval.DenseCandidates]] SPI (x71's lesson): the exact
    * default is one narrow broadcast-queries scan reproducing x6's
    * [[candidatePool]] contract bit for bit (the generator proposes
    * `kCand + 1` ids so dropping self — cosine 1.0, always present on a
    * same-frame pool — still leaves the exact top-`kCand`; relevance is
    * then re-scored EXACTLY on the fetched unit vectors and re-ranked, so
    * an approximate generator changes only WHICH candidates enter the pool,
    * never how they are relevance-scored or greedily selected). Swap
    * [[Retrieval.ivfDenseCandidates]] (spec-pinned bit-equal at full probe)
    * or, where the [[Retrieval.ivfAdcDenseCandidates]] sizing rule's
    * measured recall gate clears, that codes-only tier at larger N. The pool
    * (queries × kCand rows, with unit vectors) and its pairwise-similarity
    * table are BOUNDED driver artifacts (the x87 weight-sheet discipline —
    * and a LAZY greedy chain would embed its own previous round three times
    * per step, 3^(k−1) plan copies, so the rounds run driver-side); every
    * similarity is still the codegen'd [[graft.functions.VectorOps.dotp]]
    * fold the oracle's `list_dot_product` replays — the driver never does
    * float ARITHMETIC of its own, only IEEE comparisons (`-0.0 == 0.0`,
    * matching both engines' orderings) and the `rel/2 − ms/2` combine both
    * JVMs execute identically — and the 6-dp output rounding happens in a
    * Spark expression, never a hand-rolled driver round.
    *
    * EAGER-SNAPSHOT SEMANTICS (API contract): the candidate pool and its
    * pair-sim table collect AT CONSTRUCTION TIME; the returned frame is a
    * local relation of the greedy result. Treat it as single-shot over an
    * immutable input — a changed `emb` source is NOT re-read by
    * re-executing the returned frame ([[graft.corpus.Retrieval.rm3TopK]]'s
    * contract). */
  def mmrTopK(emb: DataFrame, numQueries: Int = DefaultTopKQueries,
      kCand: Int = MmrCandidates, k: Int = DefaultTopK,
      dense: Retrieval.DenseCandidates = Retrieval.exactDenseCandidates)
      : DataFrame = {
    require(k > 0 && kCand >= k, s"need kCand >= k > 0, got kCand=$kCand k=$k")
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    val base = normalizedBase(emb).filter(col("e").isNotNull)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    // kCand + 1 then drop self: the query rides the corpus frame, so its
    // own vector (cosine 1.0) occupies at most one generator slot; removing
    // it leaves at least the exact top-kCand, and the exact re-rank below
    // cuts back to kCand — identical to the pre-SPI candidatePool
    val ids = dense(base, queries, kCand + 1)
      .filter(col("doc_id") =!= col("query_id"))
    // fetch the bounded pool's vectors (annTruncated's stage-2 shape),
    // re-score relevance EXACTLY on unit vectors, re-rank, cut
    val cand = base.join(broadcast(ids), col("vec_id") === col("doc_id"))
      .join(broadcast(queries), "query_id")
      .select(col("query_id").as("qid"), col("vec_id").as("cid"),
        dotp(col("qe"), col("e")).as("rel"), col("e"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))))
      .filter(col("rank") <= kCand)
      .select(col("qid"), col("cid"), col("rel"), col("e"))
    // bounded driver artifacts: numQueries × kCand pool rows, then their
    // complete pair-sim table (computed over the pool's LOCAL relation —
    // one tiny Spark job, same dot kernel as everything else)
    val pool = spark.createDataFrame(
      java.util.Arrays.asList(cand.collect(): _*), cand.schema)
    val rels: Array[(Long, Long, Double)] = pool
      .select(col("qid"), col("cid"), col("rel"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sims: Map[(Long, Long, Long), Double] = pool
      .select(col("qid"), col("cid").as("ca"), col("e"))
      .join(pool.select(col("qid"), col("cid").as("cb"), col("e").as("eb")),
        Seq("qid"))
      .filter(col("ca") =!= col("cb"))
      .select(col("qid"), col("ca"), col("cb"),
        dotp(col("e"), col("eb")).as("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // greedy argmax with IEEE equality and the cid tiebreak — an explicit
    // loop, not a tuple Ordering (java.lang.Double.compare separates ±0.0;
    // SQL orderings do not)
    def argmax(cands: Seq[(Long, Double)]): (Long, Double) =
      cands.reduceLeft { (best, c) =>
        if (c._2 > best._2 || (c._2 == best._2 && c._1 < best._1)) c else best
      }
    val out = rels.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val cands = rows.toSeq.map(r => (r._2, r._3))
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
      for (step <- 1 to math.min(k, cands.size)) {
        val remaining = cands.filterNot(c => sel.exists(_._1 == c._1))
        val scored = remaining.map { case (cid, rel) =>
          val mmr = if (step == 1) rel
            else rel / 2 - sel.map(s => sims((qid, cid, s._1))).max / 2
          (cid, mmr)
        }
        val (cid, mmr) = argmax(scored)
        sel += ((cid, cands.find(_._1 == cid).get._2, mmr))
      }
      sel.zipWithIndex.map { case ((cid, rel, mmr), i) =>
        (qid, cid, i + 1, rel, mmr)
      }
    }
    import spark.implicits._
    out.toDF("query_id", "neighbor_id", "step", "rel", "mmr")
      .select(col("query_id"), col("neighbor_id"), col("step"),
        round(col("rel"), 6).as("relevance"),
        round(col("mmr"), 6).as("mmr_score"))
  }

  /** Candidate-pool size for [[hardNegatives]] — shared with the oracle.
    * Must cover k negatives + the positive + every margin-suppressed
    * near-positive: the suppressed candidates are by definition the
    * TOP-scored ones, so a near-dup-heavy corpus eats pool slots from the
    * front (the reason the default reserves ~5× k). */
  val HardNegCandidates: Int = 32

  /** Denoising margin for [[hardNegatives]] — shared with the oracle. */
  val HardNegMargin: Double = 0.1

  /** X93 — denoised hard-negative mining (the DPR/ANCE/RocketQA
    * retriever-training staple): for each query vector, take the positive
    * as its exact best match (the distillation convention — the positive is
    * the current-best retrieval), then emit the top-`k` remaining
    * candidates as training negatives, SKIPPING any candidate scoring
    * within `margin` of the positive (`cos > pos_cos − margin`): on a
    * near-dup-heavy corpus the strongest "negatives" are unlabeled copies
    * of the positive, and training on them teaches the retriever to push
    * relevant documents apart (RocketQA's denoised-negative finding).
    * Output: one row per surviving negative — (query_id, pos_id, pos_cos,
    * neg_id, rank, cos), rank re-numbered 1..k over survivors by
    * (cos desc, id). A query whose every candidate is margin-suppressed
    * emits no rows (its pool is all near-positives — a dedup signal, not
    * training data); degenerate (NULL-normalized) vectors take no part on
    * either side (the [[normalizedBase]] NULL contract).
    *
    * Scale shape: the ONLY corpus-scale stage is the candidate pass,
    * behind the [[Retrieval.DenseCandidates]] SPI (x71's lesson) — the
    * exact default is one narrow broadcast-queries scan; swap
    * [[Retrieval.ivfDenseCandidates]] (spec-pinned bit-equal at full
    * probe) or, where the [[Retrieval.ivfAdcDenseCandidates]] sizing
    * rule's measured recall gate clears, that codes-only tier at larger N
    * (an approximate generator changes only pool MEMBERSHIP: relevance is
    * re-scored exactly on the fetched unit vectors, x89's discipline —
    * but measure the SHORTLIST SURVIVAL first: on the r16 sweep corpus it
    * fell 0.64→0.49 as nprobe widened, see the sizing rule).
    * Everything downstream — vector fetch, re-rank, the positive row, the
    * margin filter — reads the (queries × kCand)-bounded candidate set via
    * broadcast joins; the ranked pool localCheckpoints ONCE at
    * construction (two consumers — a lazy plan would embed the
    * corpus-scale candidate subtree twice), so the corpus passes exactly
    * once and the returned frame carries [[mmrTopK]]'s eager-snapshot
    * semantics: single-shot over an immutable input. The margin compare
    * runs on the RAW doubles both engines derive from the same
    * normalize-then-dot fold ([[cosine]]'s bit-parity argument), with
    * `pos_cos − margin` a single IEEE subtraction both execute
    * identically; the 6-dp rounding is presentation only. */
  def hardNegatives(emb: DataFrame, numQueries: Int = DefaultTopKQueries,
      k: Int = DefaultTopK, margin: Double = HardNegMargin,
      kCand: Int = HardNegCandidates,
      dense: Retrieval.DenseCandidates = Retrieval.exactDenseCandidates)
      : DataFrame =
    hardNegativesFor(emb.filter(col("vec_id") < numQueries), emb,
      k, margin, kCand, dense)

  /** [[hardNegatives]]' two-frame production shape: mine denoised negatives
    * for an ARRIVING query batch against a separate corpus — the increment
    * discipline (x40/x51/x86's role split) on the negative-mining plane.
    * Rows sharing a `vec_id` across the two frames are treated as self and
    * excluded (the embedded single-frame case above passes a corpus SLICE
    * as `queries`, so its self-exclusion falls out of exactly this rule);
    * disjoint-id deployments lose nothing to it. Pair with
    * [[Retrieval.ivfAdcDenseCandidates]] over a persisted
    * [[Quantization.ivfPqIndex]] — once its sizing rule's measured recall
    * gate clears — and the corpus-scale work per batch drops
    * to the probed-cell code scan plus ONE bounded-id vector fetch
    * (relevance is still re-scored exactly on fetched unit vectors —
    * an approximate generator changes only pool membership, never a
    * score). */
  def hardNegativesFor(queryVecs: DataFrame, corpus: DataFrame,
      k: Int = DefaultTopK, margin: Double = HardNegMargin,
      kCand: Int = HardNegCandidates,
      dense: Retrieval.DenseCandidates = Retrieval.exactDenseCandidates)
      : DataFrame = {
    require(k > 0 && kCand >= k + 1,
      s"need kCand >= k + 1 (positive slot) > 1, got kCand=$kCand k=$k")
    require(margin >= 0, s"margin must be non-negative, got $margin")
    import org.apache.spark.sql.expressions.Window
    val base = normalizedBase(corpus).filter(col("e").isNotNull)
    val queries = normalizedBase(queryVecs).filter(col("e").isNotNull)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    // kCand + 1 then drop self — x89's argument: a query sharing the
    // corpus's id space has its own vector (cosine 1.0) in at most one
    // generator slot
    val ids = dense(base, queries, kCand + 1)
      .filter(col("doc_id") =!= col("query_id"))
    // fetch the bounded pool's vectors, re-score EXACTLY on unit vectors,
    // re-rank (cos desc, id), cut back to kCand — x89's candidate stage.
    // The ranked pool feeds TWO consumers (the rank-1 positive branch and
    // the rank>1 negative stream); left lazy, the physical plan would
    // embed the corpus-scale candidate subtree twice and lean on exchange
    // reuse to dedup it (the failure mode rm3TopK documents), so the
    // (queries × kCand)-bounded pool materializes ONCE — the x85
    // localCheckpoint hygiene; construction therefore runs one eager job
    val cand = base.join(broadcast(ids), col("vec_id") === col("doc_id"))
      .join(broadcast(queries), "query_id")
      .select(col("query_id").as("qid"), col("vec_id").as("cid"),
        dotp(col("qe"), col("e")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .filter(col("rank") <= kCand)
      .localCheckpoint()
    // the positive: pool rank 1 — (numQueries)-bounded, broadcast back
    val pos = cand.filter(col("rank") === 1)
      .select(col("qid"), col("cid").as("pos_id"), col("cos").as("pos_cos"))
    cand.filter(col("rank") > 1)
      .join(broadcast(pos), "qid")
      // the denoising gate: survivors must sit CLEAR of the positive by
      // the margin; ties at exactly pos_cos − margin survive (<=)
      .filter(col("cos") <= col("pos_cos") - lit(margin))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .filter(col("neg_rank") <= k)
      .select(col("qid").as("query_id"), col("pos_id"),
        round(col("pos_cos"), 6).as("pos_cos"), col("cid").as("neg_id"),
        col("neg_rank").as("rank"), round(col("cos"), 6).as("cos"))
  }

  /** X94 — recall@k audit for ANY [[Retrieval.DenseCandidates]] generator
    * against the exact cosine baseline, per query: |generator top-k ∩ exact
    * top-k| / k. The measurement plane the generator SPI was missing:
    * every consumer (x71 fusion, x63 label transfer, x89 MMR, x93 hard
    * negatives) documents "swap the IVF/ADC generator at larger N" — this
    * is the report that prices that swap, the knob-tuning audit for
    * `nprobe`/centroid count (x68 is the same audit hardwired to the PQ
    * ADC path; this one takes the generator as a value, so one operator
    * audits every present and future candidate source). The exact side is
    * [[cosineTopK]]'s contract VERBATIM — degenerate queries keep their k
    * tiebreak rows and surface as a visible recall 0 (the x68 convention),
    * never a dropped row. The generator side proposes `k + 1` then drops
    * self (x89's argument); an empty generator result (e.g. an explicit
    * empty IVF index) scores recall 0 for every query.
    *
    * Scale shape: two corpus-scale passes — the exact baseline scan and
    * whatever the generator costs (that DIFFERENCE is the point of the
    * report) — then everything is (numQueries × k)-bounded: the hit join,
    * the per-query count, the left join back to the query universe. At
    * 100 TB the exact side caps the audit's cost, which is why a
    * deployment runs it on an AUDIT SLICE of queries (numQueries-bounded
    * here by construction), not per ingest — the x63 audit-slice
    * discipline. */
  def denseRecallEval(emb: DataFrame, numQueries: Int = DefaultTopKQueries,
      k: Int = DefaultTopK,
      dense: Retrieval.DenseCandidates = Retrieval.ivfDenseCandidates())
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val exact = cosineTopK(emb, numQueries, k)
      .select(col("qid"), col("neighbor_id"))
    val base = normalizedBase(emb).filter(col("e").isNotNull)
    val queries = base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val approx = dense(base, queries, k + 1)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dense_rank"))))
      .filter(col("arank") <= k)
      .select(col("query_id").as("qid"), col("doc_id").as("neighbor_id"))
    val hits = exact.join(approx, Seq("qid", "neighbor_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    // the query universe is the SLICE itself, one narrow bounded scan —
    // deriving it from `exact.select(qid).distinct()` would embed the
    // corpus-scale exact subtree a second time just to enumerate ids
    // (r15 review find), and a query with no candidates at all (singleton
    // corpus) now surfaces as a visible recall 0 instead of vanishing
    emb.select(col("vec_id").as("qid"))
      .filter(col("qid") < numQueries).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }
}
