package graft.corpus

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) over the embedding column — the vector plane's
  * COMPRESSION tier, completing the memory story the ANN tiers
  * ([[Similarity.annLsh]], [[Similarity.annIvf]]) leave open: at deployment
  * scale the raw float vectors themselves are the bottleneck (a 100 TB
  * corpus's 64-dim float32 embeddings are ~256 B/row; the PQ codes are m
  * small integers — bytes at ksub ≤ 256 — a ~32× compression), and
  * asymmetric-distance search (ADC) ranks against the CODES, so the
  * candidate scan never touches a full vector. Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011.
  *
  * Three operators:
  *  - [[pqCodes]] (X66) — encode: per vector, per subspace, the codeword
  *    minimizing squared L2 distance to the vector's slice.
  *  - [[adcTopK]] (X67) — search: per query, top-k corpus rows by the ADC
  *    score Σ_s lut[s][code_s], the PQ approximation of the cosine.
  *  - [[pqRecall]] (X68) — evaluate: recall@k of the PQ search against the
  *    exact [[Similarity.cosineTopK]] baseline — the QA gate a deployment
  *    runs before trusting the compressed index.
  *
  * Codebooks are DETERMINISTIC SLICES: codeword c of subspace s is the
  * s-slice of seed vector c (`vec_id < ksub`, non-degenerate) from the same
  * normalized base as every other vector op — the x13/x44 seed convention
  * that keeps the DuckDB oracle in exact lockstep (a k-means-trained
  * codebook improves reconstruction, not the plan shape; the training loop
  * is [[Semantic.trainCentroids]]'s, applied per subspace slice).
  *
  * Scale design: encoding is ONE narrow stateless codegen'd projection
  * ([[graft.functions.PqEncode]]) — streaming-safe, no shuffle, composes
  * onto an arriving micro-batch. Search broadcasts the (bounded) query
  * sheet's lookup tables and streams the code table through one narrow
  * pass into a per-query top-k window — the [[Similarity.cosineTopK]]
  * shape, but the corpus side carries m ints per row instead of the
  * vector. Nothing is quadratic in the corpus; at deployment the code
  * table is the persisted artifact (the x3 `dedupIndex` discipline) and
  * IVF cells ([[Similarity.annIvf]]) bound the scanned fraction.
  *
  * Exactness: ADC scores are exact INTEGERS (6-dp micro-units, the x19
  * round-then-exact-sum trick lifted to integer arithmetic), so ranking
  * compares longs — no float-comparison drift is possible between engines;
  * encode argmin uses the expanded `(‖x‖²+‖c‖²)−2⟨x,c⟩` form matching the
  * oracle's `list_dot_product` algebra bit-for-bit. */
object Quantization {

  /** Subspace count m (dim 64 → 8 dims per subspace). */
  val DefaultSubspaces: Int = 8

  /** Codewords per subspace (seed convention: vec_id < ksub). */
  val DefaultCodewords: Int = 16

  /** Expected embedding dimension; vectors of any other length are
    * excluded (the [[graft.functions.DotProduct]] mismatch contract —
    * a truncated slice would encode a plausible wrong code). */
  val DefaultDim: Int = Similarity.DefaultDim

  /** Query-sheet size and k, mirroring [[Similarity.cosineTopK]]'s
    * conventions so recall@k compares like for like. */
  val DefaultQueries: Int = Similarity.DefaultTopKQueries
  val DefaultTopK: Int = Similarity.DefaultTopK

  private def microOf(d: Double): Long =
    JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  private def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** Flat ADC lookup table for one query: lut[s·ksub + c] = 6-dp micro-round
    * of ⟨q_s, codeword_sc⟩. */
  private def lutFor(q: Array[Double], cbs: Array[Array[Array[Double]]],
      dsub: Int): Array[Long] = {
    val m = cbs.length
    val ksub = cbs(0).length
    val lut = new Array[Long](m * ksub)
    var s = 0
    while (s < m) {
      val qs = q.slice(s * dsub, (s + 1) * dsub)
      var c = 0
      while (c < ksub) {
        lut(s * ksub + c) = microOf(dotLR(qs, cbs(s)(c)))
        c += 1
      }
      s += 1
    }
    lut
  }

  /** Normalized, dimension-checked vectors: (vec_id, e). */
  private def cleanBase(emb: DataFrame, dim: Int): DataFrame =
    Similarity.normalizedBase(emb)
      .filter(col("e").isNotNull && size(col("e")) === dim)

  /** Deterministic slice codebooks: m × (≤ ksub) × dsub. Codeword c of
    * subspace s is the s-slice of the c-th SURVIVING seed in vec_id order
    * (a degenerate seed inside [0, ksub) compacts the indices after it —
    * the codebook array must stay dense for [[graft.functions.PqEncode]]'s
    * code→index and the ADC LUT layout; the oracle mirrors the compaction
    * with a ROW_NUMBER over surviving seeds). Driver-held and bounded
    * (≤ ksub vectors), the [[graft.functions.BestMatch]] broadcast
    * discipline. */
  def sliceCodebooks(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, dim: Int = DefaultDim):
      Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val seeds = cleanBase(emb, dim)
      .filter(col("vec_id") < ksub)
      .orderBy(col("vec_id"))
      .select(col("e")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty,
      "sliceCodebooks: no usable seed vectors (vec_id < ksub, non-degenerate)")
    Array.tabulate(m)(s => seeds.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** (vec_id, [passthrough...,] codes ARRAY<INT>) for every non-degenerate,
    * dimension-matching vector — one narrow stateless projection, so it
    * encodes arriving vectors on a streaming frame unchanged (pinned
    * through a live query in `QuantizationSpec`); `passthrough` columns
    * ride the same projection. */
  def encoded(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
      dim: Int = DefaultDim): DataFrame = encoded(emb, codebooks, dim, Nil)

  /** [[encoded]] with passthrough columns riding the projection. */
  def encoded(emb: DataFrame, codebooks: Array[Array[Array[Double]]],
      dim: Int, passthrough: Seq[String]): DataFrame = {
    val enc = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("e")),
        codebooks))
    Similarity.normalizedBase(emb, passthrough: _*)
      .filter(col("e").isNotNull && size(col("e")) === dim)
      .select(col("vec_id") +: passthrough.map(col) :+ enc.as("codes"): _*)
  }

  /** Lloyd's-trained codebooks from the [[sliceCodebooks]] seed: per round,
    * ONE narrow pass re-encodes every vector against the current codebooks
    * (the [[graft.functions.PqEncode]] kernel — no per-subspace job fan-out)
    * feeding a (subspace, codeword, coordinate)-keyed mean aggregate whose
    * result is m·ksub·dsub-bounded, so it collects to the driver like
    * [[Semantic.trainCentroids]]'s control-plane sync. Coordinate means use
    * the same round-then-exact-DECIMAL-sum trick as the k-means plane
    * ([[Semantic.MeanRoundDp]]), so training is deterministic under any
    * partitioning. A codeword that attracts no members keeps its previous
    * value (codes must stay dense in [0, ksub)). The trained codebooks are
    * the quality path (higher recall at the same code budget) — the
    * slice-codebook default is the ORACLE path; both feed the same encode/
    * search kernels ([[adcTopKWith]]). */
  def trainedCodebooks(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, rounds: Int = 3,
      dim: Int = DefaultDim): Array[Array[Array[Double]]] =
    trainedCodebooksFrom(emb, sliceCodebooks(emb, m, ksub, dim), rounds, dim)

  /** [[trainedCodebooks]] warm-started from a given codebook set instead of
    * the deterministic slice seeds — the codebook-update half of the OPQ
    * alternation ([[opqRotation]] re-trains on each new rotation without
    * discarding the previous round's clustering). Same Lloyd step, same
    * fixed-point decimal mean discipline. */
  def trainedCodebooksFrom(emb: DataFrame, init: Array[Array[Array[Double]]],
      rounds: Int, dim: Int = DefaultDim): Array[Array[Array[Double]]] = {
    val dsub = init(0)(0).length
    val dp = Semantic.MeanRoundDp
    var cbs = init
    val base = cleanBase(emb, dim)
    var r = 0
    while (r < rounds) {
      val enc = org.apache.spark.sql.GraftExpressionBridge.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.GraftExpressionBridge.expression(col("e")),
          cbs))
      val cells = base
        .select(col("e"), enc.as("codes"))
        .filter(col("codes").isNotNull)
        .select(posexplode(col("e")).as(Seq("j", "x")), col("codes"))
        .select(floor(col("j") / lit(dsub)).cast("int").as("s"),
          element_at(col("codes"),
            floor(col("j") / lit(dsub)).cast("int") + 1).as("c"),
          (col("j") % lit(dsub)).cast("int").as("jj"), col("x"))
        .groupBy(col("s"), col("c"), col("jj"))
        .agg(sum(round(col("x"), dp).cast("decimal(28,12)")).as("sm"),
          count(lit(1)).as("n"))
        .collect()
        .map(row => ((row.getInt(0), row.getInt(1), row.getInt(2)),
          row.getDecimal(3).doubleValue() / row.getLong(4)))
        .toMap
      cbs = Array.tabulate(cbs.length) { s =>
        Array.tabulate(cbs(s).length) { c =>
          if (cells.contains((s, c, 0)))
            Array.tabulate(dsub)(jj =>
              JBigDecimal.valueOf(cells((s, c, jj)))
                .setScale(dp, RoundingMode.HALF_UP).doubleValue())
          else cbs(s)(c)
        }
      }
      r += 1
    }
    cbs
  }

  /** Deterministic random orthonormal matrix: Gram-Schmidt on a seeded
    * Gaussian matrix — shared by the anisotropic test fixture
    * (`OpqSpec.anisoEmbeddings`'s hidden orientation) and
    * [[fixedRotation]] so the construction cannot drift. Rows are the
    * orthonormal basis; `y = R·x` rotates. */
  def orthonormal(dim: Int, rnd: scala.util.Random): Array[Array[Double]] = {
    val m = Array.fill(dim, dim)(rnd.nextGaussian())
    var i = 0
    while (i < dim) {
      var k = 0
      while (k < i) {
        var d = 0.0; var j = 0
        while (j < dim) { d += m(i)(j) * m(k)(j); j += 1 }
        j = 0
        while (j < dim) { m(i)(j) -= d * m(k)(j); j += 1 }
        k += 1
      }
      var n = 0.0; var j = 0
      while (j < dim) { n += m(i)(j) * m(i)(j); j += 1 }
      val inv = 1.0 / math.sqrt(n)
      j = 0
      while (j < dim) { m(i)(j) *= inv; j += 1 }
      i += 1
    }
    m
  }

  /** The FIXED seeded rotation of the x104 driver query — an
    * oracle-checkable stand-in for a trained [[opqRotation]] (the trained
    * matrix depends on iterative SVD and cannot be reproduced in SQL; this
    * one is a pure function of the seed, so the generated oracle
    * interpolates its exact values and DuckDB re-applies it with
    * `list_dot_product` — the PqEncode fold-order parity). Same seed ⇒
    * bit-identical matrix on every JVM (scala.util.Random is a pinned
    * LCG + polar Gaussian). */
  def fixedRotation(dim: Int = DefaultDim,
      seed: Long = 31L): Array[Array[Double]] =
    orthonormal(dim, new scala.util.Random(seed))

  /** Apply a trained OPQ rotation to an embedding frame: `embedding` →
    * `R·embedding`, schema preserved (float storage, the corpus
    * convention). One codegen'd narrow projection
    * ([[graft.functions.RotateVector]]) — at 100 TB the rotation rides the
    * encode scan, never a separate pass; rotation is orthogonal, so norms,
    * cosines, and the exact top-k are untouched and every downstream
    * entry point ([[pqCodes]], [[ivfPqIndex]], [[centroidSeeds]], the ADC
    * generators) runs on the rotated frame unchanged. */
  def rotateEmbeddings(emb: DataFrame, r: Array[Array[Double]]): DataFrame =
    emb.withColumn("embedding",
      org.apache.spark.sql.GraftExpressionBridge.column(
        graft.functions.RotateVector(
          org.apache.spark.sql.GraftExpressionBridge.expression(
            col("embedding").cast("array<double>")), r))
        .cast("array<float>"))

  /** OPQ — the learned orthogonal pre-encode rotation (Ge et al. 2013,
    * "Optimized Product Quantization", the non-parametric solution §3.2;
    * public method, no reference-pipeline counterpart): alternate
    *
    *  1. codebook update — Lloyd rounds on the CURRENT rotation's subspace
    *     slices ([[trainedCodebooksFrom]], warm-started);
    *  2. rotation update — the orthogonal Procrustes step: with
    *     M = Σ_rows x·q(Rx)ᵀ (x the original vector, q the PQ
    *     reconstruction of the rotated one), SVD M = U·S·Vᵀ gives the
    *     trace-maximizing R = V·Uᵀ.
    *
    * The distributed half of step 2 never materializes per-row
    * reconstructions: M decomposes as Σ_s Σ_c outer(S_{s,c}, cw_{s,c})
    * where S_{s,c}[i] = Σ of x[i] over rows whose subspace-s code is c —
    * ONE narrow explode to (s, c, i) rows and a bounded aggregate of
    * m·ksub·dim cells (8·16·64 = 8 192 here) regardless of corpus size,
    * then a driver-side 64×64 SVD (breeze, on the Spark classpath). Each
    * alternation is one linear corpus pass; at 100 TB train on a bounded
    * sample (the standard PQ/OPQ practice — codebooks and R are
    * driver-held artifacts either way, [[sliceCodebooks]]' broadcast
    * discipline).
    *
    * Determinism: codebook training is the fixed-point-decimal Lloyd step,
    * the (s, c, i) aggregate is an exact DECIMAL sum per key and the
    * driver folds its rows into M in SORTED key order (collect order
    * follows the partitioning, and the double += chain is
    * non-associative — an unsorted fold would drift at the last ulp under
    * a different shuffle width), and LAPACK's SVD is deterministic on
    * identical input; the R = V·Uᵀ product is invariant to SVD's per-pair
    * sign ambiguity (negating u_k and v_k together leaves v_k·u_kᵀ
    * unchanged).
    *
    * When it helps and when it cannot: rotation re-allocates VARIANCE
    * across subspaces, so it buys recall exactly when the corpus is
    * anisotropic and misaligned with the subspace grid (real embeddings:
    * decaying spectra under arbitrary orientation). On an isotropic
    * residual (the spherical MoG fixture) every rotation is statistically
    * identical and OPQ measurably buys ~nothing — measure recall with
    * [[graft.corpus.Similarity.denseRecallEval]] before adopting, exactly
    * like the ADC tier itself (SCALING.md round 18; the sweep that measured
    * it, `graft.RecallSweep`, was last at commit 5156bae). */
  def opqRotation(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, rounds: Int = 8,
      innerRounds: Int = 2, dim: Int = DefaultDim): Array[Array[Double]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    var r: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var cbs = sliceCodebooks(emb, m, ksub, dim)
    val base = cleanBase(emb, dim)
    var it = 0
    while (it < rounds) {
      val rotEmb = rotateEmbeddings(emb, r)
      cbs = trainedCodebooksFrom(rotEmb, cbs, innerRounds, dim)
      // (s, c, i) sums of the ORIGINAL coordinates, keyed by the rotated
      // encoding — the bounded decomposition of M = Σ x·qᵀ. The encode
      // input is the rotation FLOAT-ROUNDED then widened, exactly the
      // frame the codebooks were just trained on ([[rotateEmbeddings]]
      // casts to array<float>): encoding the full-double rotation instead
      // could flip codes at Voronoi boundaries between the alternation's
      // two halves, so the M-step's q would not be the reconstruction the
      // trained codebooks assign (r18 advice)
      val enc = org.apache.spark.sql.GraftExpressionBridge.column(
        graft.functions.PqEncode(
          org.apache.spark.sql.GraftExpressionBridge.expression(
            org.apache.spark.sql.GraftExpressionBridge.column(
              graft.functions.RotateVector(
                org.apache.spark.sql.GraftExpressionBridge.expression(
                  col("e")), r))
              .cast("array<float>").cast("array<double>")),
          cbs))
      val sums = base
        .select(col("e"), enc.as("codes"))
        .filter(col("codes").isNotNull)
        .select(posexplode(col("e")).as(Seq("i", "x")), col("codes"))
        .select(col("i"), col("x"),
          posexplode(col("codes")).as(Seq("s", "c")))
        .groupBy(col("s"), col("c"), col("i"))
        .agg(sum(round(col("x"), Semantic.MeanRoundDp)
          .cast("decimal(28,12)")).as("sx"))
        .collect()
        // fixed fold order: collect() row order follows the partitioning,
        // and multiple c values fold into one mMat cell with non-associative
        // double +=, so an unsorted fold would perturb M at the last ulp
        // under a different shuffle width (r18 review find)
        .sortBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
      val mMat = Array.ofDim[Double](dim, dim)
      sums.foreach { row =>
        val s = row.getInt(0); val c = row.getInt(1); val i = row.getInt(2)
        val sx = row.getDecimal(3).doubleValue()
        val cw = cbs(s)(c)
        var jj = 0
        while (jj < dsub) {
          mMat(i)(s * dsub + jj) += sx * cw(jj)
          jj += 1
        }
      }
      val bm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => mMat(i)(j))
      val svd = breeze.linalg.svd(bm)
      val rNew = svd.Vt.t * svd.U.t
      r = Array.tabulate(dim, dim)((i, j) => rNew(i, j))
      it += 1
    }
    r
  }

  /** X66 — the encode table flattened for auditing (and the driver's
    * oracle compare, which needs flat scalars): (vec_id, subspace, code). */
  def pqCodes(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, dim: Int = DefaultDim): DataFrame =
    encoded(emb, sliceCodebooks(emb, m, ksub, dim), dim)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "c")))
      .select(col("vec_id"), col("s").cast("long").as("subspace"),
        col("c").cast("long").as("code"))

  /** X67 — ADC top-k: per query (vec_id < numQueries, non-degenerate), the
    * k corpus rows with the highest PQ-approximate cosine, self excluded;
    * ties to the smaller neighbor id. Scores rank as exact micro-integers;
    * the emitted `score` is micro/1e6 as double. */
  def adcTopK(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, numQueries: Int = DefaultQueries,
      k: Int = DefaultTopK, dim: Int = DefaultDim): DataFrame =
    adcTopKWith(emb, sliceCodebooks(emb, m, ksub, dim), numQueries, k, dim)

  /** [[adcTopK]] against caller-supplied codebooks (e.g.
    * [[trainedCodebooks]]); same kernels, same exact-integer ranking. */
  def adcTopKWith(emb: DataFrame, cbs: Array[Array[Array[Double]]],
      numQueries: Int = DefaultQueries, k: Int = DefaultTopK,
      dim: Int = DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cbs.length
    val ksubActual = cbs(0).length
    val dsub = dim / m
    // bounded query sheet → driver-built LUTs, one flat ARRAY<BIGINT> per
    // query: lut[s·ksub + c] = 6-dp micro-round of ⟨q_s, codeword_sc⟩
    val qrows = cleanBase(emb, dim).filter(col("vec_id") < numQueries)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val session = emb.sparkSession
    import session.implicits._
    val luts = qrows.toSeq
      .map { case (qid, q) => (qid, lutFor(q, cbs, dsub).toSeq) }
      .toDF("qid", "lut")
    val micro = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.AdcScoreMicro(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("codes")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("lut")),
        ksubActual))
    encoded(emb, cbs, dim)
      .join(broadcast(luts), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        micro.as("micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("micro").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        (col("micro").cast("double") / lit(1000000.0)).as("score"))
  }

  /** Candidate multiplier for the re-rank tier: ADC fetches `RerankDepth·k`
    * candidates; only those touch full vectors. */
  val DefaultRerankDepth: Int = 10

  /** X70 — IVF-PQ: the composed architecture a deployment actually runs
    * (FAISS's IVFADC, Jégou et al. §V): a coarse quantizer splits the
    * corpus into cells ([[Similarity.annIvf]]'s convention — first
    * `numCentroids` non-degenerate vectors, assignment = max-cosine, ties
    * to the lowest cid) and each query ADC-scans ONLY its `nprobe` closest
    * cells' code lists. The two bounds compose: IVF bounds the fraction of
    * rows scanned (~nprobe/K), PQ bounds the bytes per row scanned (m
    * codes, no vectors) — at 100 TB this is the difference between a
    * full-corpus pass per query sheet and a cell-local code scan.
    *
    * One narrow corpus pass computes BOTH the cell id
    * ([[graft.functions.BestMatch]]) and the codes
    * ([[graft.functions.PqEncode]]); the search join is cid-EQUALITY
    * against the broadcast (query, probe-cell, LUT) table — the corpus
    * never shuffles and never cross-joins. Scores/ranking are x67's exact
    * micro-integers; per-query results may be fewer than k rows when the
    * probed cells hold fewer candidates (the x13 contract). */
  def ivfAdcTopK(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords,
      numCentroids: Int = Similarity.DefaultIvfCentroids,
      nprobe: Int = Similarity.DefaultIvfNprobe,
      numQueries: Int = DefaultQueries, k: Int = DefaultTopK,
      dim: Int = DefaultDim): DataFrame = {
    val cbs = sliceCodebooks(emb, m, ksub, dim)
    val cents = centroidSeeds(emb, numCentroids, dim)
    val qrows = cleanBase(emb, dim).filter(col("vec_id") < numQueries)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    searchIvfPq(ivfPqIndex(emb, cbs, cents, dim), qrows, cbs, cents,
      nprobe, k, dim)
  }

  /** Centroid seeds for the coarse quantizer: the first `numCentroids`
    * non-degenerate vectors, vec_id-keyed ([[Similarity.annIvf]]'s
    * convention — production passes k-means-trained centroids instead,
    * same shape). */
  def centroidSeeds(emb: DataFrame,
      numCentroids: Int = Similarity.DefaultIvfCentroids,
      dim: Int = DefaultDim): Seq[(Long, Seq[Double])] = {
    val cents = cleanBase(emb, dim).filter(col("vec_id") < numCentroids)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty,
      "centroidSeeds: no usable seeds (vec_id < numCentroids, non-degenerate)")
    cents
  }

  /** The IVF-PQ index table, (vec_id, cid, codes): ONE narrow pass computes
    * the cell id ([[graft.functions.BestMatch]]) and the PQ codes
    * ([[graft.functions.PqEncode]]) — stateless, so it runs per
    * micro-batch on a streaming frame unchanged and keeps a persisted
    * index current (pinned through a live query in `QuantizationSpec`). */
  def ivfPqIndex(emb: DataFrame, cbs: Array[Array[Array[Double]]],
      centroids: Seq[(Long, Seq[Double])], dim: Int = DefaultDim): DataFrame = {
    require(centroids.nonEmpty, "ivfPqIndex: empty centroid table")
    val enc = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("e")),
        cbs))
    cleanBase(emb, dim)
      .withColumn("__bm", graft.functions.VectorOps.bestMatch(col("e"),
        centroids))
      .select(col("vec_id"),
        (-col("__bm").getField("nid")).as("cid"), enc.as("codes"))
  }

  /** Persist [[ivfPqIndex]] PARTITIONED on the cell id — the physical
    * contract that makes [[ivfAdcTopKAgainst]] read ONLY the probed cells'
    * files (static partition pruning on `cid`, spec-pinned): at deployment
    * scale a query sheet's search touches ~nprobe/K of the index bytes,
    * and those bytes are codes, not vectors. The persisted-index member of
    * the x3 `dedupIndex` / x54 `vocabulary` / BM25-index family. */
  def writeIvfPqIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Search a (typically persisted, cid-partitioned) [[ivfPqIndex]] with a
    * query sheet — the production shape: the corpus is never re-read, the
    * index scan statically prunes to the union of probed cells, and the
    * search join stays cid-equality against the broadcast probe/LUT table.
    * Scored against the same corpus the index was built from, output is
    * IDENTICAL to the self-contained [[ivfAdcTopK]] (spec-pinned, the x51
    * parity discipline). */
  def ivfAdcTopKAgainst(index: DataFrame, queryVecs: DataFrame,
      cbs: Array[Array[Array[Double]]], centroids: Seq[(Long, Seq[Double])],
      nprobe: Int = Similarity.DefaultIvfNprobe,
      numQueries: Int = DefaultQueries, k: Int = DefaultTopK,
      dim: Int = DefaultDim): DataFrame = {
    val qrows = cleanBase(queryVecs, dim).filter(col("vec_id") < numQueries)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    searchIvfPq(index, qrows, cbs, centroids, nprobe, k, dim)
  }

  /** [[ivfAdcTopKAgainst]] with an explicit PRE-NORMALIZED query frame
    * (qid, qe) instead of a `vec_id < numQueries` prefix — the entry the
    * hybrid fusion's pluggable dense generator uses
    * ([[Retrieval.ivfAdcDenseCandidates]]). The collect is the bounded
    * query-sheet driver artifact every PQ search already makes
    * ([[ivfAdcTopK]]'s qrows); degenerate (NULL) query vectors drop here,
    * matching `cleanBase`'s screen on the prefix path. */
  def ivfAdcSearchOn(index: DataFrame, queries: DataFrame,
      cbs: Array[Array[Array[Double]]], centroids: Seq[(Long, Seq[Double])],
      nprobe: Int = Similarity.DefaultIvfNprobe,
      k: Int = DefaultTopK): DataFrame = {
    val qrows = queries.filter(col("qe").isNotNull)
      .orderBy(col("qid"))
      .select(col("qid"), col("qe")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    searchIvfPq(index, qrows, cbs, centroids, nprobe, k,
      cbs.length * cbs(0)(0).length)
  }

  /** Shared IVF-PQ search core: driver-side probe ranking (dot desc, cid
    * asc — the oracle's fold and tiebreak) + LUT build, a STATIC `cid IN
    * (probed cells)` prune on the index scan (partition pruning when the
    * index is cid-partitioned; a no-op restriction otherwise — the cid
    * join already confines candidates), then the broadcast cid-equality
    * join into the exact-integer ADC ranking. */
  private def searchIvfPq(table: DataFrame, qrows: Seq[(Long, Array[Double])],
      cbs: Array[Array[Array[Double]]], centroids: Seq[(Long, Seq[Double])],
      nprobe: Int, k: Int, dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ksubActual = cbs(0).length
    val dsub = dim / cbs.length
    val centArr = centroids.map { case (cid, ce) => (cid, ce.toArray) }
    val session = table.sparkSession
    import session.implicits._
    val probes = qrows.map { case (qid, q) =>
      (qid, q, centArr.map { case (cid, ce) => (dotLR(q, ce), cid) }
        .sortBy { case (d, cid) => (-d, cid) }
        .take(nprobe).map(_._2))
    }
    val probeLuts = probes.flatMap { case (qid, q, cells) =>
      val lut = lutFor(q, cbs, dsub).toSeq
      cells.map(cid => (qid, cid, lut))
    }.toDF("qid", "cid", "lut")
    val probedCells = probes.flatMap(_._3).distinct
    val micro = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.AdcScoreMicro(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("codes")),
        org.apache.spark.sql.GraftExpressionBridge.expression(col("lut")),
        ksubActual))
    table
      .filter(col("cid").isin(probedCells.map(Long.box): _*))
      .join(broadcast(probeLuts), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"), micro.as("micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("micro").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        (col("micro").cast("double") / lit(1000000.0)).as("score"))
  }

  /** X69 — ADC-then-exact-re-rank: the production PQ search shape. The code
    * table (compressed, RAM-resident at any scale) proposes `depth·k`
    * candidates per query via [[adcTopKWith]]; ONLY those candidate rows
    * are joined back to full vectors for an exact-cosine re-rank to the
    * final top-k. Per query the full-vector work drops from N·dim to
    * depth·k·dim — the recall knob is `depth`, and its cost is bounded by
    * the candidate list, not the corpus. The candidate set is
    * (numQueries·depth·k)-bounded, so the join back BROADCASTS the
    * candidates and the corpus again streams through one narrow pass.
    * Output matches [[Similarity.cosineTopK]]'s shape/rounding, so a depth
    * sweep audits directly against the exact baseline. */
  def adcRerankTopK(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, numQueries: Int = DefaultQueries,
      k: Int = DefaultTopK, depth: Int = DefaultRerankDepth,
      dim: Int = DefaultDim): DataFrame =
    adcRerankTopKWith(emb, sliceCodebooks(emb, m, ksub, dim), numQueries,
      k, depth, dim)

  /** [[adcRerankTopK]] against caller-supplied codebooks. */
  def adcRerankTopKWith(emb: DataFrame, cbs: Array[Array[Array[Double]]],
      numQueries: Int = DefaultQueries, k: Int = DefaultTopK,
      depth: Int = DefaultRerankDepth, dim: Int = DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = adcTopKWith(emb, cbs, numQueries, k * depth, dim)
      .select(col("qid"), col("neighbor_id"))
    val queries = cleanBase(emb, dim).filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    cleanBase(emb, dim)
      .join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("neighbor_id"),
        graft.functions.VectorOps.dotp(col("qe"), col("e")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** X68 — recall@k of the PQ search against the exact cosine baseline,
    * per query: |ADC top-k ∩ exact top-k| / k. The universe is the exact
    * side's queries (a degenerate query emits exact rows by the x6
    * tiebreak contract but no PQ rows — recall 0, visible, not dropped).
    * Bounded: both sides are (numQueries × k)-sized. */
  def pqRecall(emb: DataFrame, m: Int = DefaultSubspaces,
      ksub: Int = DefaultCodewords, numQueries: Int = DefaultQueries,
      k: Int = DefaultTopK, dim: Int = DefaultDim): DataFrame =
    pqRecallWith(emb, sliceCodebooks(emb, m, ksub, dim), numQueries, k, dim)

  /** [[pqRecall]] against caller-supplied codebooks. */
  def pqRecallWith(emb: DataFrame, cbs: Array[Array[Array[Double]]],
      numQueries: Int = DefaultQueries, k: Int = DefaultTopK,
      dim: Int = DefaultDim): DataFrame = {
    val exact = Similarity.cosineTopK(emb, numQueries, k)
      .select(col("qid"), col("neighbor_id"))
    val pq = adcTopKWith(emb, cbs, numQueries, k, dim)
      .select(col("qid"), col("neighbor_id"))
    val hits = exact.join(pq, Seq("qid", "neighbor_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    exact.select(col("qid")).distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  // ====================================================================
  // SQ8 — per-dimension scalar (int8) quantization, the simpler sibling
  // of the PQ plane: no codebooks, no training, 4× smaller than float32,
  // exact per-dimension reconstruction bounds. The tier a serving fleet
  // reaches for FIRST (memory-bandwidth-bound scans love byte codes and
  // the dequantized dot is one FMA chain); PQ takes over when 4× isn't
  // enough. Codes here ride ARRAY<BIGINT> columns (values 0..255) — a
  // production sink stores them as bytes; the ARITHMETIC contract (what
  // the oracle pins) is width-independent.
  // ====================================================================

  /** Per-dimension (min, max−min) statistics over the healthy normalized
    * corpus — the SQ8 "codebook". One posexplode + dim-keyed map-side-
    * partial aggregate (shuffle carries ≤ dim rows per partition), then a
    * dim-bounded driver collect: the [[sliceCodebooks]] broadcast
    * discipline. */
  def sq8Stats(emb: DataFrame, dim: Int = DefaultDim):
      (Array[Double], Array[Double]) = {
    val rows = cleanBase(emb, dim)
      .select(posexplode(col("e")).as(Seq("s", "v")))
      .groupBy(col("s"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
    val mins = new Array[Double](dim)
    val diffs = new Array[Double](dim)
    rows.foreach { r =>
      val s = r.getInt(0)
      mins(s) = r.getDouble(1)
      diffs(s) = r.getDouble(2) - r.getDouble(1)
    }
    (mins, diffs)
  }

  /** Element-wise SQ8 encode of a normalized vector against driver-held
    * stats: code_s = clamp₀²⁵⁵(round(((x − mn_s) / d_s) · 255)), 0 on a
    * constant dimension (d_s = 0). Stats come from the same corpus, so
    * x ∈ [mn, mn+d] and the clamp only guards float edges; the operation
    * order is pinned against the oracle's identical expression. */
  private def sq8CodeCol(e: Column, mins: Seq[Double],
      diffs: Seq[Double]): Column =
    transform(e, (x, i) => {
      val mn = element_at(typedlit(mins), i + 1)
      val d = element_at(typedlit(diffs), i + 1)
      when(d > 0,
        least(lit(255L), greatest(lit(0L),
          round((x - mn) / d * 255, 0).cast("long"))))
        .otherwise(0L)
    })

  /** X74 — SQ8 encode, flattened to (vec_id, s, code) scalars for the
    * compare (x66's dump shape). One narrow corpus pass; degenerate
    * (zero-norm/empty/NULL/mis-dimensioned) vectors drop — nothing sane
    * can be reconstructed from them. */
  def sq8Codes(emb: DataFrame, dim: Int = DefaultDim): DataFrame = {
    val (mins, diffs) = sq8Stats(emb, dim)
    sq8Encoded(emb, mins, diffs, dim)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
  }

  /** [[sq8Codes]]'s array-shaped production twin: (vec_id, passthrough…,
    * codes ARRAY<BIGINT>) per HEALTHY vector against caller-held stats —
    * the [[encoded]] shape for SQ8, one stateless narrow projection, so it
    * composes unchanged onto a streaming frame (pinned through a live
    * query in `QuantizationSpec`); degenerate/mis-dimensioned vectors
    * drop (nothing reconstructable can enter the code table). */
  def sq8Encoded(emb: DataFrame, mins: Array[Double], diffs: Array[Double],
      dim: Int = DefaultDim, passthrough: Seq[String] = Nil): DataFrame = {
    require(mins.length == dim && diffs.length == dim,
      s"sq8Encoded: stats must carry one (min, diff) per dimension ($dim)")
    Similarity.normalizedBase(emb, passthrough: _*)
      .filter(col("e").isNotNull && size(col("e")) === dim)
      .select(col("vec_id") +: passthrough.map(col) :+
        sq8CodeCol(col("e"), mins.toSeq, diffs.toSeq).as("codes"): _*)
  }

  /** X75 — SQ8 ADC top-k: the dequantized dot factors into one exact
    * per-query constant plus a dot product with the INTEGER code vector,
    *
    *   ⟨q, deq(c)⟩ = Σ q_s·mn_s  +  ⟨(q_s·d_s/255)_s, c⟩,
    *
    * so the corpus-scale scan touches only code arrays (the 4×-smaller
    * index — at 100 TB the scan is memory-bandwidth-bound and that factor
    * is the speedup) through the codegen'd [[graft.functions.DotProduct]];
    * the BOUNDED query sheet broadcasts, its constants and weight vectors
    * computed inside the broadcast subplan (sheet-sized work — unlike the
    * PQ searches' driver-collected LUTs, nothing here needs a collect).
    * Output (qid, neighbor_id, rank, score), rank by score desc then
    * neighbor id. */
  def sq8TopK(emb: DataFrame, numQueries: Int = DefaultQueries,
      k: Int = DefaultTopK, dim: Int = DefaultDim): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (mins, diffs) = sq8Stats(emb, dim)
    val codes = sq8Encoded(emb, mins, diffs, dim)
      .select(col("vec_id"), col("codes").cast("array<double>").as("codes"))
    val queries = cleanBase(emb, dim)
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"),
        graft.functions.VectorOps.dotp(col("e"), typedlit(mins.toSeq))
          .as("qconst"),
        transform(col("e"), (x, i) =>
          x * element_at(typedlit(diffs.toSeq), i + 1) / 255).as("qs"))
    codes.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        (graft.functions.VectorOps.dotp(col("qs"), col("codes")) +
          col("qconst")).as("sc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sc").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("neighbor_id"), col("rank"),
        round(col("sc"), 6).as("score"))
  }
}
