package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Discriminative quality classification — the hashed-feature logistic
  * regression a GPT-3/LLaMA-style pipeline trains to separate a target
  * ("high-quality") document slice from the raw crawl, then applies as the
  * per-document keep gate. The generative twin of [[TextStats.importanceWeights]]
  * (DSIR, Xie et al. 2023, explicitly benchmarks against exactly this
  * discriminative baseline); the positive class here is the SAME target-domain
  * slice ([[TextStats.DsirTargetSources]]) so the two scores are directly
  * comparable on a corpus.
  *
  * Model: logistic regression over hashed unigram COUNTS (the fastText /
  * hashing-trick shape — tokens hash into `buckets` buckets via the md5-prefix
  * idiom every hashed-feature op in this engine shares, so the feature space is
  * fixed-width no matter the vocabulary) trained by full-batch gradient
  * descent.
  *
  * Determinism (the oracle/parity contract): weights live in 8-dp FIXED-POINT
  * micro-units (`Long`, the x67 integer-score discipline). Per-document margins
  * are exact integer sums, so they are identical under ANY partitioning or
  * evaluation order; the only floating-point steps are the per-document
  * sigmoid and the driver-side step-size arithmetic, both written as the
  * IDENTICAL double-op sequence in the DuckDB oracle (`1.0/(1.0+exp(-(m /
  * 1.0E8)))`; `floor(x + 0.5)` for every fixed-point rounding — floor-based so
  * both engines share one rounding rule). Per-document gradient contributions
  * are rounded to micro-units BEFORE the per-bucket sum, making that sum exact
  * integer arithmetic too — the x19 round-then-exact-sum trick.
  *
  * Scale shape: training runs `iterations` passes over a persisted
  * `(doc_id, y, buckets)` feature frame (tokenize+md5 paid ONCE,
  * MEMORY_AND_DISK so a 100 TB corpus spills rather than OOMs). Each pass is
  * one narrow projection (the margin fold — exact long arithmetic against the
  * broadcast weight-array literal) followed by a map-side-partial aggregate
  * whose output is `buckets + 1` rows (the per-bucket gradient plus the bias
  * row) — the ONLY shuffle, carrying ≤ `buckets + 1` rows per partition.
  * Weights are a driver-held `Array[Long]` (≤ 64 k entries by the same bound
  * [[TextStats.importanceWeights]] enforces). Scoring is ONE stateless narrow
  * codegen-friendly projection — zero shuffles, zero state — so it composes
  * unchanged onto a streaming DataFrame ([[qualityGate]] and
  * [[paretoResample]] are pinned through live queries in `ClassifierSpec`).
  */
object Classifier {

  /** Positive-class sources — the DSIR target domain, so x30's generative
    * importance weight and x76's discriminative probability score the same
    * notion of "looks like the target". Shared with the x76 oracle generator
    * so the two cannot drift. */
  def PositiveSources: Seq[String] = TextStats.DsirTargetSources

  /** Feature-space width. Shared with the x76 oracle generator. */
  val DefaultBuckets = 256

  /** Full-batch GD step size. Shared with the x76 oracle generator. */
  val DefaultLearningRate = 0.5

  /** Training passes for the driver query — two, so the oracle pins a margin
    * computed under NON-TRIVIAL weights (iteration 1 from zero init has
    * constant p = 0.5; only the second pass exercises the sigmoid-of-real-
    * margin arithmetic). Shared with the x76 oracle generator. */
  val DefaultIterations = 2

  /** 8-dp fixed-point scale for weights/margins/gradients. */
  val MicroScale = 1.0e8

  /** A trained model: per-bucket weights and the bias, in micro-units.
    * Driver-held and broadcast into scoring plans as array literals —
    * `buckets`-bounded regardless of corpus size. */
  final case class LrModel(weightsMicro: Array[Long], biasMicro: Long) {
    def buckets: Int = weightsMicro.length
  }

  /** Token → bucket in [0, buckets): [[TextStats.hashBucket]] — the ONE
    * md5-prefix feature hash every hashed-feature op shares (engine-neutral:
    * the oracle reproduces it nibble-by-nibble in SQL). */
  private def bucketOf(t: Column, buckets: Int): Column =
    TextStats.hashBucket(t, buckets)

  /** Per-document hashed-feature array: one bucket id per whitespace token,
    * in token order. NULL text reads as zero tokens (the document still
    * carries its bias contribution and counts toward N — the oracle's CASE
    * does the same), never as a NULL row that would silently drop the doc
    * from training. */
  private def bucketsCol(buckets: Int): Column =
    when(col("text").isNull, typedlit(Seq.empty[Int]))
      .otherwise(transform(split(col("text"), " "), t => bucketOf(t, buckets)))

  /** Exact fixed-point margin under a weight-array literal: bias plus the sum
    * of each token-bucket's weight — a pure LONG fold, identical under any
    * evaluation order. `wLit` must be the model's `buckets`-element array. */
  private def marginMicro(bs: Column, wLit: Column, biasMicro: Long): Column =
    aggregate(bs, lit(biasMicro), (acc, b) => acc + element_at(wLit, b + 1))

  /** `sigmoid(marginMicro / 1e8)` — the ONE double-op sequence both engines
    * compute (`1.0 / (1.0 + exp(-(m / 1.0E8)))`). */
  private def probOf(m: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(m / lit(MicroScale))))

  /** Train by full-batch gradient descent from zero init. Each iteration is
    * one pass over the persisted feature frame: margins (exact long fold) →
    * per-doc gradient factor `gm = floor((p − y)·1e8 + 0.5)` → ONE aggregate
    * producing the per-bucket gradient sums AND the bias gradient (the bias
    * rides as pseudo-bucket −1 through the same explode+sum, so the two
    * gradients never duplicate the subtree into a second corpus pass — the
    * x30 single-aggregate lesson). Update: `w −= floor(lr·G/N + 0.5)` in
    * micro-units, computed driver-side with the exact op order the oracle
    * replicates. */
  def trainQualityLr(docs: DataFrame,
      positiveSources: Seq[String] = PositiveSources,
      buckets: Int = DefaultBuckets,
      lr: Double = DefaultLearningRate,
      iterations: Int = DefaultIterations): LrModel = {
    require(buckets > 0 && buckets <= 65536, "bucket hash reads 4 hex digits")
    require(iterations >= 1, "at least one training pass")
    val y = when(col("source").isInCollection(positiveSources), 1.0)
      .otherwise(0.0)
    val feat = docs.select(y.as("y"), bucketsCol(buckets).as("bs"))
      .persist()
    try {
      val n = feat.count() // materializes the cache; N for the mean gradient
      if (n == 0L) return LrModel(Array.fill(buckets)(0L), 0L)
      val w = Array.fill(buckets)(0L)
      var bias = 0L
      var it = 0
      while (it < iterations) {
        val wLit = typedlit(w.toSeq)
        val gm = floor(
          (probOf(marginMicro(col("bs"), wLit, bias)) - col("y"))
            * lit(MicroScale) + lit(0.5))
        // bias as pseudo-bucket −1: one explode, one B+1-row aggregate.
        // The sum runs in DECIMAL(38,0), not LONG: per-occurrence gm is up
        // to ±1e8 and first-iteration gm shares one sign corpus-wide
        // (p = 0.5 from zero init), so a LONG sum would wrap silently past
        // ~1.8e11 occurrences per bucket — inside the 100 TB envelope this
        // engine designs for. The oracle's SUM(BIGINT) widens to HUGEINT,
        // exact the same way.
        val grads = feat
          .select(gm.as("gm"),
            explode(concat(array(lit(-1)), col("bs"))).as("b"))
          .groupBy(col("b"))
          .agg(sum(col("gm").cast("decimal(38,0)")).as("g"))
          .collect() // ≤ buckets + 1 rows by construction
        grads.foreach { r =>
          val b = r.getInt(0)
          val g = r.getDecimal(1).doubleValue()
          val step = math.floor(lr * g / n + 0.5).toLong
          if (b < 0) bias -= step else w(b) -= step
        }
        it += 1
      }
      LrModel(w, bias)
    } finally feat.unpersist()
  }

  /** Margin + probability columns under a frozen model, as one narrow
    * stateless projection over `text` — the streaming-safe kernel
    * [[scoreQualityLr]], [[qualityGate]] and [[paretoResample]] share.
    * Margin is the exact fixed-point value surfaced as a 6-dp double; prob
    * its sigmoid, 6-dp.
    *
    * The margin's 8-dp→6-dp rounding runs as INTEGER half-away-from-zero
    * division, never `round(double)`: the micro margin is an exact integer,
    * so values with `|micro| ≡ 50 (mod 100)` are SYSTEMATIC 6-dp half-ties
    * (~1% of documents), exactly where Spark's exact-decimal HALF_UP and
    * DuckDB's multiply-and-std::round disagree (the x78 calibration find,
    * empirically confirmed: 16.1921145 → 16.192115 vs 16.192114). The
    * sign/magnitude form keeps the division on POSITIVE integers, where the
    * two engines' integral divisions agree — on negative operands truncate
    * (Spark's) and floor (DuckDB's `//`) do not. Engine-side the division is
    * a true LONG integral divide (Catalyst `IntegralDivide` via the
    * expression bridge — never a double round-trip, which loses exactness
    * past 2⁵³ and would silently diverge from the oracle's exact BIGINT `//`
    * on extreme margins). `prob` (a sigmoid) and x77's pareto (a pow) stay
    * `round(double)`: their ties are not systematic, so a half-tie is an
    * astronomically unlikely coincidence, the house-accepted transcendental
    * class. */
  def qualityCols(model: LrModel): (Column, Column) = {
    val m = marginMicro(bucketsCol(model.buckets),
      typedlit(model.weightsMicro.toSeq), model.biasMicro)
    val mag6 = intDiv(abs(m) * lit(2L) + lit(100L), lit(200L))
    val margin6 = when(m < 0, -mag6).otherwise(mag6)
    (margin6.cast("double") / lit(1.0e6), round(probOf(m), 6))
  }

  /** Exact LONG integral division (Catalyst `IntegralDivide`) — callers must
    * keep both operands non-negative (see [[qualityCols]]). */
  private def intDiv(a: Column, b: Column): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      B.expression(a), B.expression(b)))
  }

  /** Score every document under a frozen model: `(doc_id, is_target, margin,
    * prob)` — `is_target` is the training label, kept so the output doubles
    * as the classifier's eval frame (threshold sweeps, per-source calibration)
    * without a join back. One narrow projection; zero shuffles. */
  def scoreQualityLr(docs: DataFrame, model: LrModel,
      positiveSources: Seq[String] = PositiveSources): DataFrame = {
    val (margin, prob) = qualityCols(model)
    docs.select(col("doc_id"),
      when(col("source").isInCollection(positiveSources), 1)
        .otherwise(0).as("is_target"),
      margin.as("margin"), prob.as("prob"))
  }

  /** Pareto-acceptance shape parameter — GPT-3's α = 9 (Brown et al. 2020,
    * Appendix A). Shared with the x77 oracle generator. */
  val ParetoAlpha = 9.0

  /** Key namespace for [[paretoResample]]'s acceptance draw — the x62
    * hash-namespacing discipline: the resampling decision is independent of
    * every other doc_id-keyed gate in the pipeline. Shared with the x77
    * oracle generator. */
  val ResampleKeyPrefix = "resample:"

  /** GPT-3-style classifier resampling (Brown et al. 2020, Appendix A): keep
    * a document iff `pareto(α) > 1 − score` — high-scoring documents are
    * mostly kept, while low-scoring ones survive with heavy-tailed
    * probability, the diversity-preserving alternative to a hard threshold.
    * The paper draws `np.random.pareto(9)`; here the draw is DETERMINISTIC —
    * the inverse-CDF `(1−u)^(−1/α) − 1` over an md5-uniform of the document's
    * namespaced identity — so re-running the pipeline, or resampling after
    * adding documents, never flips a previously-kept document (the
    * [[Curation.quotaSample]] reproducibility property RNG cannot give).
    *
    * Parity: `u` is an exact dyadic rational ([[Curation.md5Uniform]] — the
    * shared 8-hex-digit gate idiom), so the only transcendental is `pow`,
    * confined behind a 6-dp rounding; `keep` compares the ROUNDED pareto
    * draw against `1 − prob` (prob already 6-dp) so both engines decide from
    * identical doubles. The comparison is `>=`, not `>`: rounding maps raw
    * draws below 5e-7 to exactly 0.000000, and under `>` a PERFECT-scoring
    * document (`1 − prob = 0.0`) drawing such a tail value would be dropped
    * — ~1 in 220 k ids, thousands of spurious drops at corpus scale. Ties
    * keep, making the paper's almost-sure-keep for score 1 exact. Flags are
    * emitted, not filtered (the x73 routing doctrine). One stateless narrow
    * projection — zero shuffles beyond the model's training,
    * streaming-composable. */
  def paretoResample(docs: DataFrame, model: LrModel,
      positiveSources: Seq[String] = PositiveSources): DataFrame = {
    val (_, prob) = qualityCols(model)
    val u = Curation.md5Uniform(concat(lit(ResampleKeyPrefix),
      col("doc_id").cast("string")))
    val pareto = round(
      pow(lit(1.0) - u, -(lit(1.0) / lit(ParetoAlpha))) - lit(1.0), 6)
    docs.select(col("doc_id"),
      when(col("source").isInCollection(positiveSources), 1)
        .otherwise(0).as("is_target"),
      prob.as("prob"), pareto.as("pareto"))
      .withColumn("keep", paretoKeep(col("pareto"), col("prob")))
  }

  /** The x77 acceptance decision over the ROUNDED columns — factored out so
    * the spec pins the `>=` boundary on the engine expression itself. */
  private[corpus] def paretoKeep(pareto: Column, prob: Column): Column =
    pareto >= (lit(1.0) - prob)

  /** Persist a trained model — the classifier plane's member of the
    * persisted-artifact family (`writeBm25Index`, `writeIvfPqIndex`,
    * `writeAssignedIndex`, `writeDedupIndex`): train once on a corpus
    * snapshot, then [[readLrModel]] + [[qualityGate]] score every later
    * batch or stream without retraining. Layout: one row per bucket
    * `(b, w)` plus the bias as pseudo-bucket −1 (the gradient aggregate's
    * own convention) — `buckets + 1` rows total, a trivially small
    * single-file table. */
  def writeLrModel(spark: org.apache.spark.sql.SparkSession,
      model: LrModel, path: String): Unit = {
    // fail at the point the invalid artifact would be CREATED, not in some
    // later session's load — the persisted-artifact fail-loudly doctrine
    require(model.buckets > 0 && model.buckets <= 65536,
      s"refusing to persist a model with ${model.buckets} buckets " +
        "(trainQualityLr's own bound: the hash reads 4 hex digits)")
    import spark.implicits._
    ((-1 -> model.biasMicro) +:
      model.weightsMicro.toSeq.zipWithIndex.map(_.swap))
      .toDF("b", "w").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[writeLrModel]]. The weight table is
    * buckets-bounded, so the collect is the same driver-held discipline
    * training itself uses; gaps or duplicate bucket ids fail loudly rather
    * than producing a silently mis-indexed weight array. */
  def readLrModel(spark: org.apache.spark.sql.SparkSession,
      path: String): LrModel = {
    val rows = spark.read.parquet(path).select(col("b"), col("w"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val (biasRows, wRows) = rows.partition(_._1 < 0)
    require(biasRows.length == 1 && biasRows.head._1 == -1,
      s"model at $path: expected exactly one bias row (b = -1), found " +
        s"ids ${biasRows.map(_._1).mkString("[", ",", "]")}")
    val buckets = wRows.length
    // bias-only tables load as buckets = 0, whose hash gate is pmod(·, 0) —
    // all-NULL scores downstream; and past 65536 the 4-hex-digit hash can
    // never reach the upper weights, which would apply silently dead.
    // Enforce training's own invariant at load time too
    require(buckets > 0 && buckets <= 65536,
      s"model at $path has $buckets weight rows " +
        "(expected 1..65536: the hash reads 4 hex digits)")
    require(wRows.map(_._1).sorted.sameElements(0 until buckets),
      s"model at $path: bucket ids must be exactly 0..${buckets - 1}")
    val w = new Array[Long](buckets)
    wRows.foreach { case (b, v) => w(b) = v }
    LrModel(w, biasRows.head._2)
  }

  /** Calibration bin count for [[calibrationReport]]'s driver query — shared
    * with the x78 oracle generator. */
  val DefaultCalibrationBins = 10

  /** Reliability report — the eval a deployment runs before choosing `tau`
    * for [[qualityGate]] / [[paretoResample]]: bucket documents by predicted
    * probability (`bin = min(floor(prob·bins), bins−1)`, so prob = 1.0 lands
    * in the top bin) and compare the bucket's mean predicted probability
    * against its EMPIRICAL target rate. A calibrated classifier has the two
    * near-equal per bin; divergence says the sigmoid scores cannot be read
    * as probabilities at that operating point.
    *
    * Parity: `prob` is already 6-dp, so each doc contributes an EXACT
    * micro-unit integer (`floor(prob·1e6 + 0.5)` — never near a half, since
    * prob is within an ulp of a 6-dp decimal), sums run in DECIMAL(38,0)
    * (the gradient aggregate's no-silent-wrap rule), and the 6-dp mean is
    * computed by INTEGER half-up division `(2·Σ + n) div (2·n)` — no
    * `round(double)` anywhere. That matters: Spark rounds a double via its
    * exact decimal representation (HALF_UP) while DuckDB multiplies and
    * `std::round`s, and the two DISAGREE on half-micro quotient ties (e.g.
    * two docs at 0.500000/0.500001 → quotient 0.5000005 → 0.500001 vs
    * 0.500000, empirically confirmed) — reachable here because the quotient
    * of a micro-exact sum lands on a half-tie whenever the micro sum is odd
    * over n = 2. The bin boundary (`floor(prob · bins)`) runs on identical
    * doubles in both engines. Scale: one narrow pass into a `bins`-bounded
    * map-side-partial aggregate — the output is `bins` rows no matter the
    * corpus size. */
  def calibrationReport(docs: DataFrame, model: LrModel,
      positiveSources: Seq[String] = PositiveSources,
      bins: Int = DefaultCalibrationBins): DataFrame = {
    require(bins > 0, "at least one calibration bin")
    val scored = scoreQualityLr(docs, model, positiveSources)
    scored
      .select(
        least(floor(col("prob") * lit(bins)), lit(bins - 1)).cast("int")
          .as("bin"),
        floor(col("prob") * lit(1.0e6) + lit(0.5)).as("pm"),
        col("is_target"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pm").cast("decimal(38,0)")).as("sm"),
        sum(col("is_target").cast("decimal(38,0)")).as("st"))
      .select(col("bin"), col("n_docs"),
        (expr("(2 * sm + n_docs) div (2 * n_docs)").cast("double")
          / lit(1.0e6)).as("mean_prob"),
        (expr("(2 * 1000000 * st + n_docs) div (2 * n_docs)").cast("double")
          / lit(1.0e6)).as("target_rate"))
  }

  /** The ingest-side gate: every input column plus `margin`, `prob`, and
    * `keep` (prob ≥ tau). Emits flags rather than filtering — the x73
    * routing doctrine — and stays a stateless narrow projection, so it
    * composes unchanged onto a streaming DataFrame. */
  def qualityGate(docs: DataFrame, model: LrModel, tau: Double): DataFrame = {
    // composing gates must not silently overwrite routing flags: x73's
    // hybridIngestGate emits `keep` too, and withColumn would replace it —
    // losing the decontamination decision with no red row to show for it.
    // Case-INSENSITIVE, because that is how withColumn resolves the column
    // it replaces under the default spark.sql.caseSensitive=false — a "Keep"
    // column would slip a case-sensitive guard and still be overwritten
    val lower = docs.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val clash = Seq("margin", "prob", "keep").filter(lower.contains)
    require(clash.isEmpty, s"qualityGate: input already has column(s) " +
      s"${clash.mkString(", ")} — rename them before composing gates")
    val (margin, prob) = qualityCols(model)
    docs.select(col("*"), margin.as("margin"), prob.as("prob"))
      .withColumn("keep", col("prob") >= lit(tau))
  }
}
