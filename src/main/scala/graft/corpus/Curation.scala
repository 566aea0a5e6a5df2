package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: deterministic domain-mixing (quota sampling) and
  * per-domain quality selection — the two decision steps a training-data
  * pipeline runs after scoring/dedup to assemble the final mix.
  */
object Curation {

  /** Tier thresholds for [[quotaSample]], indexed by `source suffix mod 3`:
    * a doc survives iff its 8-hex-digit gate is lexicographically below the
    * threshold ('g' > every hex digit = keep all; '8' ≈ 1/2; '4' ≈ 1/4).
    * Shared with the x23 oracle generator so the two cannot drift. */
  val TierThresholds: Seq[String] = Seq("g", "8", "4")

  /** Deterministic quota sampling — domain-mixing weights applied with a
    * reproducible content-hash gate instead of RNG: a document is kept iff the
    * first 8 hex digits of `md5(text)` are lexicographically below its
    * source's threshold (lowercase hex compares lexicographically exactly as
    * it compares numerically, so a threshold string IS the keep-rate). Tiers
    * here fan out by the numeric source suffix mod 3: 0 → keep all, 1 → keep
    * ~1/2 (`"8"`), 2 → keep ~1/4 (`"4"`). Reproducible end-to-end: re-running
    * the pipeline, or re-sampling after adding documents, never flips a
    * previously-kept document — the property RNG sampling cannot give.
    * Narrow, codegen'd, zero shuffles at any corpus size. */
  def quotaSample(docs: DataFrame, passthrough: String*): DataFrame = {
    // 2-arg substring (position to end), same parse window as the oracle's
    // substr(source, 4) — a bounded third argument would silently truncate
    // long suffixes to a DIFFERENT tier than the oracle computes
    // fail loudly on an unparseable suffix, exactly like the oracle's raising
    // CAST — a silent NULL would fall through the when-chain to the LAST
    // threshold and diverge from DuckDB without a red row to show for it
    val parsed = expr("try_cast(substring(source, 4) as int)")
    val tier = when(parsed.isNull, raise_error(concat(
        lit("quotaSample: source has no numeric tier suffix: "), col("source")))
        .cast("int"))
      .otherwise(parsed) % TierThresholds.size
    val threshold = TierThresholds.init.zipWithIndex.reverse
      .foldLeft(lit(TierThresholds.last)) { case (rest, (th, i)) =>
        when(tier === i, th).otherwise(rest)
      }
    docs.select(col("doc_id") +: col("source") +:
        substring(md5(encode(col("text"), "UTF-8")), 1, 8).as("gate") +:
        threshold.as("th") +: passthrough.map(col): _*)
      .filter(col("gate") < col("th"))
      .select(col("doc_id") +: col("source") +: col("gate") +:
        passthrough.map(col): _*)
  }

  /** Mix report — the composition audit every mixing run produces to confirm
    * the weights landed: per source, how many documents and tokens survived
    * [[quotaSample]]. Composes the sampler (narrow) with one map-side-partial
    * aggregate keyed on the domain; nothing corpus-sized ever moves. */
  def mixReport(docs: DataFrame): DataFrame =
    quotaSample(docs.withColumn("n_tokens", size(split(col("text"), " "))),
        "n_tokens")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))

  /** Token budget for [[mixWeights]]' epochs column — shared with the x41
    * oracle generator so the two cannot drift. */
  val MixBudgetTokens: Long = 1000000L

  /** Temperature-scaled source mixing weights — the step that PRODUCES the
    * mixing ratios [[quotaSample]] applies: per source, upweight
    * low-resource domains with `weight ∝ n_tokens^α` (α = 0.5, the
    * multilingual-LM temperature-sampling recipe), and report the epochs each
    * source repeats to fill a fixed token budget. α is pinned at 1/2 so the
    * power is `sqrt` — IEEE requires sqrt be correctly rounded, so Spark and
    * DuckDB produce the identical double where a libm `pow` could drift a
    * ulp. The per-source weights are rounded to 6 dp then DECIMAL-summed for
    * the normalizer (the x19 order-independence pattern).
    *
    * Scale shape: one map-side-partial aggregate keyed on the domain, then
    * arithmetic over source-cardinality rows (a broadcast one-row total) —
    * nothing corpus-sized moves, at any corpus size. */
  def mixWeights(docs: DataFrame, budgetTokens: Long = MixBudgetTokens): DataFrame = {
    val per = docs
      .select(col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("bigint").as("n_tokens"))
      .withColumn("s", round(sqrt(col("n_tokens")), 6).cast("decimal(18,6)"))
    val tot = per.agg(sum(col("s")).as("tot"))
    per.crossJoin(broadcast(tot)).select(
      col("source"), col("n_docs"), col("n_tokens"),
      round(col("s").cast("double") / col("tot").cast("double"), 8).as("weight"),
      round((col("s").cast("double") / col("tot").cast("double"))
        * budgetTokens / col("n_tokens"), 6).as("epochs"))
  }

  /** Token budget for [[applyMixWeights]]' driver query — deliberately
    * SMALLER than the sf0.01 corpus (~25k whitespace tokens) so the
    * materialized mix actually downsamples and the hash check is
    * non-vacuous. Shared with the x52 oracle generator. */
  val MixApplyBudget: Long = 8000L

  /** Compute the temperature-mix KEEP-LIST — the step that APPLIES
    * [[mixWeights]]. Emits `(doc_id, source, gate)` — the identity of every
    * surviving document, NOT the full mixed corpus; a caller wanting the
    * materialized mix semi-joins the input against it (the keep-list is tiny
    * relative to the corpus, so that join broadcasts). Each source keeps
    * documents at rate `min(1, budget·weight / n_tokens)`
    * via the same reproducible content-hash gate as [[quotaSample]], but with
    * the threshold COMPUTED from the weights instead of fixed tiers: a doc
    * survives iff its 32-bit md5-prefix integer falls below
    * `floor(rate · 2³²)`. Over-represented sources downsample toward the
    * budget share; sources whose share exceeds their size keep everything
    * (up-sampling is a repeat factor downstream — [[packSequences]] epochs —
    * never a sampling decision). Re-runs and incremental re-samples never
    * flip a kept document, the property RNG sampling cannot give.
    *
    * Parity: the rate reuses x41's decimal-normalized ratio (identical
    * doubles in both engines), and `floor(rate · 2³²)` of an identical
    * double is an identical integer — so the keep set is bit-reproducible.
    * Scale shape: the rate table is source-cardinality — broadcast; the gate
    * is a narrow codegen'd projection; nothing corpus-sized shuffles. */
  def applyMixWeights(docs: DataFrame,
      budgetTokens: Long = MixApplyBudget): DataFrame = {
    val per = docs.select(col("source"), size(split(col("text"), " ")).as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).cast("bigint").as("n_tokens"))
      .withColumn("s", round(sqrt(col("n_tokens")), 6).cast("decimal(18,6)"))
    val tot = per.agg(sum(col("s")).as("tot"))
    val rates = per.crossJoin(broadcast(tot)).select(col("source"),
      least(lit(1.0), (col("s").cast("double") / col("tot").cast("double"))
        * budgetTokens / col("n_tokens")).as("rate"))
    applyMixRates(docs.join(broadcast(rates), "source"))
  }

  /** The MATERIALIZED mix: [[applyMixWeights]]' keep-list applied back onto
    * the corpus — the semi-join its doc tells callers to write, provided so
    * nobody writes it wrong. The keep-list side is the surviving-identity
    * table (small relative to the corpus), so AQE broadcasts it when it
    * fits; all input columns ride through untouched. */
  def materializeMix(docs: DataFrame,
      budgetTokens: Long = MixApplyBudget): DataFrame =
    docs.join(applyMixWeights(docs, budgetTokens).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The gate of [[applyMixWeights]] over a frame that already carries a
    * `rate` column — stateless and shuffle-free, so a STREAM gated against
    * frozen rates (a stream-static broadcast join of the persisted x41/x52
    * rate table onto the ingest) samples each arriving document with the
    * identical keep decision the batch run would make. */
  def applyMixRates(docsWithRate: DataFrame): DataFrame =
    docsWithRate
      .withColumn("gate", md5Gate32(encode(col("text"), "UTF-8")))
      .filter(col("gate") < floor(col("rate") * 4294967296.0).cast("bigint"))
      .select(col("doc_id"), col("source"), col("gate"))

  /** 32-bit md5 gate: first 8 hex digits of `md5(key)` as a BIGINT in
    * [0, 2³²) — the ONE engine definition of the hash-gate idiom every
    * reproducible sampler shares ([[applyMixRates]]'s rate gate, x77's
    * Pareto-acceptance uniform in [[Classifier.paretoResample]]); the oracle
    * generators reproduce it as `CAST('0x' || substr(md5(k),1,8) AS BIGINT)`.
    * Widening the digit window is a ONE-site change on each side. */
  private[corpus] def md5Gate32(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("bigint")

  /** [[md5Gate32]] scaled to an exact dyadic uniform in [0, 1). */
  private[corpus] def md5Uniform(key: Column): Column =
    md5Gate32(key).cast("double") / lit(4294967296.0)

  /** Token budget per packed training sequence for [[packSequences]]'s driver
    * query — shared with the x31 oracle generator so the two cannot drift. */
  val PackBudget: Int = 512

  /** The packing plane's checkpoint: stats-severed (see
    * [[org.apache.spark.sql.GraftExpressionBridge.localCheckpointNoStats]])
    * — its iterate-in-rounds pipelines self-join each round's checkpoint,
    * and origin-stat propagation SQUARES the size estimate per round until
    * the driver multiplies hundred-megabit BigIntegers inside visitJoin
    * (caught live on the r16 skew ladder). */
  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftExpressionBridge.localCheckpointNoStats(df)

  /** Two-phase DISTRIBUTED running aggregates — the packing plane's exact
    * per-source prefix sum WITHOUT a per-source serial task. A
    * `Window.partitionBy(part).orderBy(order)` running sum serializes every
    * row of a partition through ONE task; a mega-source (half the corpus
    * from one crawl host — the skew [[topKByQuality]]'s scaladoc calls
    * normal) pins the stage on a corpus-scale straggler. This computes the
    * IDENTICAL values with the x85/x90 split: band rows by a monotone
    * function of the leading order column, run the window only WITHIN each
    * (part, band) — partition size ~n/bands regardless of skew — and add
    * per-(part, band) offsets prefix-summed driver-side. Integer addition
    * is associative, so `offset + local running sum` is bit-equal to the
    * one-window form (spec-pinned on 90%-one-source skew).
    *
    *   1. bounded driver artifact #1: per-part approximate `bandOn`
    *      splitters (`percentile_approx`, the x85 shape). Splitter QUALITY
    *      affects only balance, never values: band = #{splitters < bandOn}
    *      is monotone non-decreasing along the order for ANY splitters
    *      (NULL `bandOn` rows band lowest, where Spark's nulls-first window
    *      order puts them);
    *   2. bounded driver artifact #2: per-(part, band) row counts and
    *      value sums (parts × bands longs) → per-part prefix-sum offsets,
    *      embedded as literal maps (structurally consistent across the two
    *      reads because counts/sums are order-independent VALUES — and the
    *      packing callers feed deterministic projections);
    *   3. the single full-data exchange: a window over (part, band).
    *
    * Emits the input columns plus `sumName` (inclusive running sum of
    * `value`, NULLs contributing 0 — the SQL `SUM OVER` convention) and,
    * when non-empty, `posName` (the global 1-based row number). A missing
    * offset (impossible while the band stays deterministic) raises loudly
    * instead of mis-summing, the x85/x90 convention. Like [[trainingOrder]],
    * the two bounded collects run AT CONSTRUCTION TIME — callers inherit
    * the eager-snapshot contract. */
  private[corpus] def bandedRunning(df: DataFrame, part: String,
      orderCols: Seq[String], bandOn: String, value: Column,
      sumName: String, posName: String = "", bands: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val nBands =
      if (bands > 0) bands
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // map keys cannot be NULL: a NULL part is its own running-sum
    // partition on the window form too, keyed here by a NUL sentinel no
    // real source contains (the x85 lkey convention)
    // materialize the (narrow) keyed frame ONCE: the splitter collect, the
    // counts collect, and the final banded window are three consumers, and
    // each would otherwise re-run the caller's upstream projection -- for
    // the packing callers that projection TOKENIZES the corpus, which at
    // scale costs more than the window it feeds (measured 3x on the 3000x
    // skew ladder). The x85 localCheckpoint hygiene; released by the
    // ContextCleaner when the caller drops the result.
    val keyed = ckpt(df
      .withColumn("__pk", coalesce(col(part).cast("string"), lit("\u0000")))
      .withColumn("__v", coalesce(value.cast("long"), lit(0L))))
    // bounded driver artifact #1: per-part band splitters
    val fracs = (1 until nBands).map(_.toDouble / nBands)
    val splitters: Map[String, Seq[Double]] =
      if (fracs.isEmpty) Map.empty
      else keyed.groupBy(col("__pk"))
        .agg(percentile_approx(col(bandOn).cast("double"), typedLit(fracs),
          lit(10000)).as("sp"))
        .collect().map(r => r.getString(0) ->
          Option(r.getSeq[Double](1)).getOrElse(Seq.empty)).toMap
    val splLit = if (splitters.isEmpty) typedLit(Map("" -> Seq.empty[Double]))
      else typedLit(splitters)
    // band = #{splitters < bandOn}: monotone in the order column, so band
    // order IS row order and the prefix-sum offsets below are exact. A NULL
    // bandOn makes every comparison NULL → filter keeps nothing → band 0,
    // exactly where nulls-first window ordering puts those rows.
    val banded = keyed.withColumn("__band", coalesce(
      size(filter(element_at(splLit, col("__pk")),
        x => x < col(bandOn).cast("double"))), lit(0)))
    // bounded driver artifact #2: per-(part, band) counts and sums →
    // per-part prefix offsets (parts × bands longs)
    val counts: Array[(String, Int, Long, Long)] = banded
      .groupBy(col("__pk"), col("__band"))
      .agg(count(lit(1)).as("cnt"), sum(col("__v")).as("vs"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    def prefix(metric: ((String, Int, Long, Long)) => Long)
        : Map[String, Map[Int, Long]] =
      counts.groupBy(_._1).map { case (pk, rows) =>
        val sorted = rows.sortBy(_._2)
        pk -> sorted.map(_._2)
          .zip(sorted.scanLeft(0L)((a, r) => a + metric(r))).toMap
      }
    val (posOffs, sumOffs) = (prefix(_._3), prefix(_._4))
    val posLit = if (posOffs.isEmpty) typedLit(Map("" -> Map(0 -> 0L)))
      else typedLit(posOffs)
    val sumLit = if (sumOffs.isEmpty) typedLit(Map("" -> Map(0 -> 0L)))
      else typedLit(sumOffs)
    def loud(c: Column, what: String): Column =
      when(c.isNull, raise_error(concat(lit(
        s"bandedRunning: missing $what offset for band of "), col("__pk"))))
        .otherwise(c)
    val localW = Window.partitionBy(col("__pk"), col("__band"))
      .orderBy(orderCols.map(col): _*)
    val withSum = banded.withColumn(sumName,
      loud(element_at(element_at(sumLit, col("__pk")), col("__band")), "sum")
        + sum(col("__v")).over(
          localW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val withPos = if (posName.isEmpty) withSum
      else withSum.withColumn(posName,
        loud(element_at(element_at(posLit, col("__pk")), col("__band")), "row")
          + row_number().over(localW))
    withPos.drop("__pk", "__v", "__band")
  }

  /** Sequence packing — the step between curation and the tokenizer/training
    * loop: assign every document to the fixed-token-budget training sequence
    * in which its first token lands, under the concatenate-then-chunk packing
    * every GPT-style pretraining run uses (documents concatenated per source
    * in doc_id order, the token stream chunked every `budget` tokens). Emits
    * `(source, doc_id, n_tokens, seq_id, offset)`: `seq_id` is the per-source
    * chunk index of the document's first token and `offset` its position
    * within that chunk — exactly what a downstream tokenizer shard needs to
    * locate each document. Deterministic, pure integer arithmetic (exclusive
    * cumulative sum + integer div/mod), so the DuckDB oracle matches bit for
    * bit.
    *
    * Scale shape: the running sum is [[bandedRunning]]'s two-phase
    * distributed prefix sum — NO per-source serial task: rows band by
    * doc_id splitters, the window runs within (source, band) partitions of
    * ~n/bands rows REGARDLESS of skew, and per-band offsets (prefix-summed
    * driver-side from a bounded counts collect) restore the exact global
    * sum. A mega-source (half the corpus from one crawl host) costs the
    * same as a balanced one; the former one-window form serialized every
    * document of a source through ONE task (spec-pinned bit-equal to this
    * form on 90%-one-source skew). Everything around the banded window is
    * narrow; the (source, band) exchange still delivers the per-source
    * doc_id-ordered layout the tokenizer shard-write wants, band-contiguous.
    * Like [[trainingOrder]], the two bounded collects run at CONSTRUCTION
    * time — eager-snapshot semantics over an immutable input. */
  def packSequences(docs: DataFrame, budget: Int = PackBudget,
      bands: Int = 0): DataFrame = {
    require(budget > 0, "sequence budget must be positive")
    val base = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    bandedRunning(base, "source", Seq("doc_id"), "doc_id",
        col("n_tokens"), "__s_incl", bands = bands)
      // NULL-text rows ride with NULL packing columns (they contribute 0 to
      // the running sum — the SQL SUM-OVER convention the window form had)
      .withColumn("start", when(col("n_tokens").isNotNull,
        col("__s_incl") - col("n_tokens")))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        // true integer division (`div`, like the oracle's `//`) — a double
        // `/`-then-cast would go lossy past 2^53 cumulative tokens
        expr(s"start div $budget").as("seq_id"),
        (col("start") % budget).as("offset"))
  }

  /** The RETIRED one-window [[packSequences]] (pre-r16), kept as the ONE
    * referee definition the bit-equality spec (`BandedPrefixSpec`) pins
    * against; the skew-ladder contrast cell that priced it
    * (`Scaling.x31_pack_skew_window`) was retired after commit 5156bae
    * (`git show 5156bae:src/main/scala/graft/Scaling.scala`). NOT for
    * production use: the per-source window
    * serializes a mega-source through one task (the r16 rewrite's whole
    * point). */
  private[graft] def packSequencesOneWindow(docs: DataFrame,
      budget: Int = PackBudget): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"start div $budget").as("seq_id"),
        (col("start") % budget).as("offset"))
  }

  /** X95 — packing-efficiency audit over [[packSequences]]' layout, per
    * source: how much does concat-then-chunk packing COST this corpus?
    * `n_split_docs`/`split_frac` count documents whose token span crosses a
    * sequence boundary (each one trains with a mid-document truncation —
    * the attention-damage measure that motivates boundary-aware packing),
    * and `padding_tokens`/`padding_frac` price the final partial sequence
    * (`n_seqs = ceil(total/budget)`, so padding = the unfilled tail of the
    * last chunk; concat-then-chunk never pads interior sequences). The
    * report to read BEFORE switching packers: a corpus of short documents
    * splits rarely and a doc-boundary-respecting packer buys little; a
    * long-document corpus splits constantly and buys a lot. Documents with
    * NULL text ride along with NULL `n_tokens` ([[packSequences]]'
    * contract): counted in `n_docs`, never in splits or totals. All counts
    * integer-exact; the two fractions are int/int double divisions both
    * engines perform on identical operands.
    *
    * Scale shape: inherits x31's ONE window shuffle (skew bounded by the
    * largest domain — and at 100 TB that window is the tokenizer-shard
    * layout pass a deployment runs anyway, this audit riding it), then one
    * source-cardinality map-side-partial aggregate; nothing else moves. */
  def packEfficiencyReport(docs: DataFrame, budget: Int = PackBudget)
      : DataFrame = {
    require(budget > 0, "sequence budget must be positive")
    packSequences(docs, budget)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("n_tokens") > 0 &&
          col("offset") + col("n_tokens") > budget, 1L).otherwise(0L))
          .as("n_split_docs"))
      .withColumn("total_tokens", coalesce(col("total_tokens"), lit(0L)))
      .withColumn("n_seqs",
        expr(s"(total_tokens + ${budget - 1}) div $budget"))
      .withColumn("padding_tokens",
        col("n_seqs") * budget - col("total_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_seqs"), col("n_split_docs"),
        (col("n_split_docs").cast("double") / col("n_docs"))
          .as("split_frac"),
        col("padding_tokens"),
        when(col("n_seqs") > 0, col("padding_tokens").cast("double") /
            (col("n_seqs") * lit(budget.toLong)))
          .otherwise(lit(0.0)).as("padding_frac"))
  }

  /** [[packEfficiencyReport]]'s per-source report computed from a
    * BOUNDARY-RESPECTING layout frame — `(source, doc_id, n_tokens,
    * seq_id, offset)` rows where each document's tokens live entirely in
    * its emitted sequence ([[packNextFit]]'s guarantee; oversize
    * singletons overflow in place and, via the `max(0, ·)`, contribute
    * zero padding). Padding here is layout-true per-sequence unfilled
    * tails, `Σ max(0, budget − fill)` — which is exactly why this is NOT
    * for concat-then-chunk layouts: x31 attributes a boundary-crossing
    * document to the sequence its FIRST token lands in while its tokens
    * spill onward, so summing member `n_tokens` per sequence would
    * over-fill that sequence and under-fill the next, mispricing both
    * (x31's correct padding is [[packEfficiencyReport]]'s ceil formula —
    * interior chunks are full by construction). Split counting
    * (`offset + n > budget`, docs alone over budget excluded) IS correct
    * on either layout — a boundary-respecting one just reports zero.
    * NULL-seq rows (NULL-text riders) count in `n_docs` only. Audit
    * shape: one (source, seq) map-side-partial aggregate then a
    * source-cardinality rollup. */
  def packEfficiencyOf(layout: DataFrame, budget: Int = PackBudget)
      : DataFrame = {
    require(budget > 0, "sequence budget must be positive")
    val perSeq = layout.filter(col("seq_id").isNotNull)
      .groupBy(col("source"), col("seq_id"))
      .agg(sum(col("n_tokens")).as("fill"),
        sum(when(col("n_tokens") <= budget &&
          col("offset") + col("n_tokens") > budget, 1L).otherwise(0L))
          .as("n_split_seq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("fill")).as("total_tokens"),
        sum(col("n_split_seq")).as("n_split_docs"),
        sum(greatest(lit(0L), lit(budget.toLong) - col("fill")))
          .as("padding_tokens"))
    layout.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(perSeq, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("n_split_docs"), lit(0L)).as("n_split_docs"),
        (coalesce(col("n_split_docs"), lit(0L)).cast("double") /
          col("n_docs")).as("split_frac"),
        coalesce(col("padding_tokens"), lit(0L)).as("padding_tokens"),
        when(coalesce(col("n_seqs"), lit(0L)) > 0,
          coalesce(col("padding_tokens"), lit(0L)).cast("double") /
            (col("n_seqs") * lit(budget.toLong)))
          .otherwise(lit(0.0)).as("padding_frac"))
  }

  /** X97 — boundary-respecting (next-fit) sequence packing: the layout
    * whose cost x95 prices AWAY — no document ever crosses a sequence
    * boundary. Per source in doc_id order, each document goes into the
    * current sequence if it fits the remaining budget, else opens a new
    * one; documents LONGER than the budget become flagged singleton
    * sequences (`oversize` — truncation is the trainer's decision, x32's
    * routing doctrine). Emits `(source, doc_id, n_tokens, seq_id, offset,
    * oversize)` — x31's schema plus the flag; NULL-text documents ride
    * with NULL packing columns (x31's contract). The price of the
    * guarantee is padding at every sequence tail (x31 pads only the last);
    * run [[packEfficiencyReport]] against both layouts to price the trade.
    *
    * THE ALGORITHMIC POINT (the x85/x90 genre — exact sequential
    * semantics, no sequential execution): next-fit looks inherently
    * serial — each bin break depends on the previous — but with strictly
    * positive token counts the running total S is MONOTONE, so the
    * "last document fitting a bin that starts at p" is a pure
    * search on S, computable for EVERY p at once with one merge-window
    * pass (union the S values with the per-position thresholds, one
    * running count — no self-join); that makes "next bin start" a
    * functional graph whose bin-start set is the ORBIT of position 1,
    * grown by doubling (S ∪ jmp_{2^i}(S) — log₂ n rounds of joins keyed
    * on the start positions themselves, distinct and spread at every
    * round; the x20 iterate-in-rounds discipline, each doubling table and
    * start set localCheckpointed — a lazy chain would square the plan per
    * round). A second merge pass then ranks the starts and assigns every
    * document its bin in one stream. Total: 3 banded running passes +
    * ~2·log₂(max docs/source) position-keyed joins — no global window,
    * no per-source serial task (ALL running passes are [[bandedRunning]]'s
    * two-phase distributed prefix sum, and no join key ever concentrates:
    * the r15 formulation walked every document down from cursor position
    * 1, which put an entire mega-source in ONE hash partition for the
    * early descent rounds — the skew ladder caught it burning one core;
    * spec-pinned bit-equal across band counts on 90%-one-source skew),
    * no driver-side chain walk. */
  def packNextFit(docs: DataFrame, budget: Int = PackBudget,
      bands: Int = 0): DataFrame = {
    require(budget > 0, "sequence budget must be positive")
    // skey: the NON-NULL join key every stage below keys on — SQL equality
    // joins drop NULL keys, and a NULL-source document must pack like any
    // other (its own chain), not silently vanish (r16 review find; the NUL
    // sentinel is bandedRunning's convention — no real source contains it)
    val base0 = docs.select(col("source"),
      coalesce(col("source"), lit("\u0000")).as("skey"), col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val nullRows = base0.filter(col("n_tokens").isNull)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        lit(null).cast("long").as("seq_id"),
        lit(null).cast("long").as("offset"),
        lit(null).cast("boolean").as("oversize"))
    // positions + inclusive/exclusive running totals — the two-phase
    // distributed prefix sum (no per-source serial task), materialized
    // once: the event union, the jump chain, the descent, and the offset
    // lookup all read this frame (the x85 localCheckpoint hygiene)
    val t = ckpt(bandedRunning(
        base0.filter(col("n_tokens").isNotNull), "skey",
        Seq("doc_id"), "doc_id", col("n_tokens"), "s_incl", "pos", bands)
      .withColumn("s_before", col("s_incl") - col("n_tokens")))
    // merge-window jump function: for every position p, l_raw(p) =
    // #{j : S_j <= S_before(p) + budget} — S is strictly increasing per
    // source (n_tokens >= 1), so that count IS the last position fitting
    // a bin that starts at p. One union + one banded running count; value
    // events sort before threshold events at ties (<= semantics), and the
    // band function keys on v alone so equal-v event pairs share a band
    // and the within-band (v, kind) order is the global order.
    // greatest(_, p) makes an oversize start its own singleton; +1 is the
    // next start.
    val vEvents = t.select(col("skey"), col("s_incl").as("v"),
      lit(0).as("kind"), col("pos"))
    val qEvents = t.select(col("skey"),
      (col("s_before") + budget).as("v"), lit(1).as("kind"), col("pos"))
    val jump0 = bandedRunning(vEvents.unionByName(qEvents), "skey",
        Seq("v", "kind"), "v",
        when(col("kind") === 0, 1L).otherwise(0L), "nv", bands = bands)
      .filter(col("kind") === 1)
      .select(col("skey"), col("pos"),
        (greatest(col("nv"), col("pos")) + 1L).as("jmp"))
    // per-source position counts — ONE bounded collect (sources rows):
    // sizes the doubling rounds AND marks ABSORBED jumps (landed past
    // their source's last position). Absorbed rows are fixed points, so
    // routing them AROUND the doubling join matters twice over: (a) they
    // are most of the table by the late rounds, and (b) they all share
    // the one absorbing key — on a mega-source the (source, jmp) hash
    // exchange funneled ~every row into ONE partition (the second
    // serialization the skew ladder caught this round, after the descent).
    // The same collect carries total/max token counts and the oversize
    // count — they size the rounds by the BIN bound below (r20).
    val statRows: Array[(String, Long, Long, Long, Long)] = t
      .groupBy(col("skey"))
      .agg(max(col("pos")).as("n"), max(col("s_incl")).as("tot"),
        max(col("n_tokens")).cast("long").as("mx"),
        sum(when(col("n_tokens") > budget, 1L).otherwise(0L)).as("novr"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nRows: Array[(String, Long)] = statRows.map(s => (s._1, s._2))
    val nLit = if (nRows.isEmpty) typedLit(Map("" -> 0L))
      else typedLit(nRows.toMap)
    val isAbsorbed = col("jmp") > coalesce(
      element_at(nLit, col("skey")), lit(Long.MaxValue))
    // rounds sized by the BIN count, not the document count (r20): the
    // orbit needs 2^rounds ≥ B (bin starts per source), and next-fit
    // bounds B without running — every non-final bin either rejected its
    // successor document (fill ≥ budget − min(mx, budget) + 1 =: denom),
    // IS an oversize singleton, or immediately precedes one (≤ 2·novr + 1
    // weak bins), so B ≤ ceil(tot/denom) + 2·novr + 1, capped at n.
    // At budget ≫ typical document length this cuts log₂(docs/bin) rounds
    // — each a checkpoint job — off every invocation (sf0.1: 8 → 6).
    val maxB: Long = if (statRows.isEmpty) 0L
      else statRows.map { case (_, n, tot, mx, novr) =>
        val denom = budget.toLong - math.min(mx, budget.toLong) + 1L
        math.min(n, (tot + denom - 1L) / denom + 2L * novr + 1L)
      }.max
    val rounds: Int =
      if (maxB <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxB - 1).toInt
    def doubled(a: DataFrame): DataFrame = ckpt(a.filter(!isAbsorbed).as("a")
      .join(a.select(col("skey").as("bsrc"), col("pos").as("bpos"),
        col("jmp").as("bjmp")).as("b"),
        col("a.skey") === col("bsrc") && col("a.jmp") === col("bpos"),
        "left")
      .select(col("a.skey").as("skey"), col("a.pos").as("pos"),
        // a jump landing past the last position is absorbing
        coalesce(col("bjmp"), col("a.jmp")).as("jmp"))
      .unionByName(a.filter(isAbsorbed)))
    // ORBIT DOUBLING (r16 — the skew ladder caught the previous
    // formulation serializing: it walked every document down from cursor
    // position 1, so the early rounds' (source, cursor) join keys put an
    // entire mega-source in ONE hash partition). The bin starts are
    // exactly the orbit of position 1 under the jump function, and
    // S ∪ jmp_{2^i}(S) doubles the covered orbit prefix per round — join
    // keys are the start POSITIONS themselves, spread at every round and
    // every skew. Jumps past their source's last position are dropped
    // (the chain has ended there): what remains of each round's step is a
    // strictly-increasing slice of the chain, so the union is
    // duplicate-free WITHOUT a distinct (f is strictly increasing;
    // without the filter, every near-end start would step to the SAME
    // absorbing value and the set would double in copies of it). Each
    // round localCheckpoints (the x20 round discipline); the start set is
    // broadcast while its driver-side bound (sources × 2^i) stays small —
    // at corpus scale the late rounds fall back to a spread shuffle join.
    var starts = ckpt(t.select(col("skey")).distinct()
      .select(col("skey"), lit(1L).as("pos")))
    // the doubling ladder is built ROUND-INTERLEAVED with the orbit walk
    // (r20): round i needs only jmp_{2^i}, and the next table jmp_{2^{i+1}}
    // and the next start set both derive from the CURRENT pair alone — two
    // independent checkpoint jobs, so they build on concurrent dedicated
    // driver threads (DriverPar, the x49/x92 pattern) and each round's
    // wall is max(step, double) instead of their sum. The final round
    // skips the table build entirely (nothing consumes jmp_{2^rounds}).
    var table = if (rounds > 0) ckpt(jump0) else null
    val inRange = col("pos") <= coalesce(
      element_at(nLit, col("skey")), lit(Long.MaxValue))
    for (i <- 0 until rounds) {
      val cap = if (i >= 62) Long.MaxValue
        else nRows.length.toLong * (1L << i)
      val side = if (cap <= (1L << 20)) broadcast(starts) else starts
      val stepped = side.join(table, Seq("skey", "pos"))
        .select(col("skey"), col("jmp").as("pos"))
        .filter(inRange)
      // every round checkpoints: a lazy union chain re-executes EVERY
      // prior round's join per subsequent round, and each of those joins
      // rescans a full doubling table — measured 1.2x-slower end to end
      // even though the lazy sets themselves are tiny (the job round-trip
      // it saves is cheaper than the table rescans it buys)
      if (i + 1 < rounds) {
        val a = table
        val Seq(s2, t2) = graft.util.DriverPar.settleAll(Seq(
          () => ckpt(starts.unionByName(stepped)), () => doubled(a)))
        starts = s2
        table = t2
      } else starts = ckpt(starts.unionByName(stepped))
    }
    // one merge pass ranks the starts and assigns documents in the same
    // stream: kind-0 start events sort before kind-1 document events at
    // equal position (a document AT a start position opens that bin), and
    // the banded running count of starts gives, at a start, its 1-based
    // bin rank and, at a document, its bin's rank — so (source, rank)
    // joins each document to its bin start (fan-in bounded by docs per
    // bin). seq_id is the 0-based rank (starts past a source's last
    // position were filtered in the expansion).
    val sEvents = starts.select(col("skey"), col("pos").as("v"),
      lit(0).as("kind"), col("pos"))
    val dEvents = t.select(col("skey"), col("pos").as("v"),
      lit(1).as("kind"), col("pos"))
    val merged = ckpt(bandedRunning(sEvents.unionByName(dEvents), "skey",
        Seq("v", "kind"), "v",
        when(col("kind") === 0, 1L).otherwise(0L), "nb", bands = bands))
    val packed = merged.filter(col("kind") === 1)
      .select(col("skey"), col("pos"), col("nb"))
      .join(t.select(col("skey"), col("pos"), col("source"), col("doc_id"),
        col("n_tokens"), col("s_before").as("sb_p")), Seq("skey", "pos"))
      .join(merged.filter(col("kind") === 0)
        .select(col("skey"), col("nb"), col("pos").as("spos")),
        Seq("skey", "nb"))
      .join(t.select(col("skey"), col("pos").as("spos"),
        col("s_before").as("sb_c")), Seq("skey", "spos"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        (col("nb") - 1L).as("seq_id"),
        (col("sb_p") - col("sb_c")).as("offset"),
        (col("n_tokens") > budget).as("oversize"))
    packed.unionByName(nullRows)
  }

  /** Chunk geometry for [[chunkDocuments]]'s driver query — shared with the
    * x34 oracle generator so the two cannot drift. Stride < size ⇒ adjacent
    * chunks overlap by `ChunkTokens - ChunkStride` tokens (the standard
    * retrieval/context-window prep). */
  val ChunkTokens: Int = 32
  val ChunkStride: Int = 24

  /** Document chunking — the retrieval/embedding prep step every RAG or
    * long-context pipeline runs: split each document's token stream into
    * fixed-size windows every `stride` tokens (overlapping when
    * `stride < chunkTokens`), emitting
    * `(doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_text)`. A document
    * shorter than one window yields exactly one chunk; otherwise
    * `1 + ceil((n - chunkTokens) / stride)` chunks, so the final window always
    * reaches the last token and no trailing fragment is silently dropped.
    * Pure integer arithmetic + a generator — the DuckDB oracle matches bit
    * for bit.
    *
    * Scale shape: narrow end to end — one projection, one `explode` of a
    * per-row integer sequence, ZERO shuffles at any corpus size; output size
    * is input size × the overlap factor (bounded by `chunkTokens/stride`),
    * and chunks inherit the parent document's partitioning, which is what the
    * downstream embedding batch job wants. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = ChunkTokens,
      stride: Int = ChunkStride): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunkTokens=$chunkTokens")
    // ceil division spelled (a + b - 1) div b: both operands are positive
    // here, where Spark's `div` and DuckDB's `//` agree exactly
    val nChunks = when(col("n") <= chunkTokens, lit(1))
      .otherwise(lit(1) + expr(s"(n - $chunkTokens + ${stride - 1}) div $stride"))
    val len = least(lit(chunkTokens), col("n") - col("start_tok"))
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        len.cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("ws"), col("start_tok") + 1, len))
          .as("chunk_text"))
  }

  /** Split thresholds for [[assignSplits]], applied in order on the first two
    * hex digits of `md5(doc_id)` (256 buckets): gate < "e6" (230/256 ≈ 89.8%)
    * → train, else gate < "f3" (+13/256 ≈ 5.1%) → val, else test (≈ 5.1%).
    * Lowercase hex compares lexicographically exactly as it compares
    * numerically, so each threshold string IS the cumulative fraction.
    * Shared with the x35 oracle generator so the two cannot drift. */
  val SplitThresholds: Seq[(String, String)] = Seq("train" -> "e6", "val" -> "f3")
  val SplitFallback: String = "test"

  /** Deterministic train/val/test split assignment — hash-gated like
    * [[quotaSample]] but keyed on the document's IDENTITY (`md5(doc_id)`)
    * rather than its content, the property a split wants: re-running the
    * pipeline after a document's text is cleaned or re-extracted must not
    * move it across the train/eval boundary (a content-keyed gate would —
    * and that's eval contamination). Narrow, codegen'd, zero shuffles at any
    * corpus size; adding documents never reassigns existing ones. */
  def assignSplits(docs: DataFrame): DataFrame = {
    val assigned = SplitThresholds.foldRight(lit(SplitFallback)) {
      case ((name, th), rest) => when(col("gate") < th, lit(name)).otherwise(rest)
    }
    docs.select(col("doc_id"), col("source"),
        substring(md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 2)
          .as("gate"))
      .withColumn("split", assigned)
  }

  /** Sequence assembly — the materialization step downstream of
    * [[packSequences]]: for every (source, seq_id) training sequence, the
    * ordered concatenation of its member documents' text (what the tokenizer
    * shard-writer consumes), plus doc and token counts. Document order inside
    * a sequence is doc_id order, made deterministic on the Spark side by
    * sorting the collected (doc_id, text) structs — `collect_list` order is
    * otherwise partition-arrival order and would never hash-match. A document
    * belongs to the sequence where its FIRST token lands (packSequences'
    * greedy-without-splitting contract), so `seq_tokens` may exceed the
    * budget when a document straddles a boundary — by design, and asserted in
    * the spec.
    *
    * Scale shape: the pack window's shuffle plus ONE groupBy keyed
    * (source, seq_id) — fan-in bounded by the docs whose first token lands in
    * one budget window, so collected state per group is ~budget tokens, never
    * a domain's worth; the join back to text is keyed on doc_id. */
  def assembleSequences(docs: DataFrame, budget: Int = PackBudget): DataFrame =
    assembleSequencesOf(packSequences(docs, budget), docs)

  /** [[assembleSequences]] over ANY layout frame carrying `(source, doc_id,
    * n_tokens, seq_id)` — [[packSequences]]' and [[packNextFit]]'s shared
    * schema — so the x97 no-split layout materializes through the same
    * assembler as x31's (NULL-seq rows, x97's NULL-text riders, carry no
    * sequence and drop out of assembly). Ordered member text per
    * (source, seq_id); the within-sequence order is doc_id, both layouts'
    * packing order. */
  def assembleSequencesOf(layout: DataFrame, docs: DataFrame): DataFrame =
    layout.filter(col("seq_id").isNotNull)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          s => s.getField("text"))).as("seq_text"))

  /** Per-domain quality selection: the `k` highest-quality documents of each
    * source (quality desc, doc_id asc tiebreak — fully deterministic). The
    * `source` column rides through the quality projection itself, so no
    * corpus self-join is needed to restore it (that would have doubled the
    * data moved).
    *
    * SKEW-HARDENED two-phase shape: a single partition-by-source window
    * serializes each domain through one task — a mega-domain (half the
    * corpus from one crawl host is normal) pins the whole stage on one
    * straggler sorting corpus-scale rows. Instead, phase 1 partitions by
    * (source, salt) — `salts` deterministic hash buckets — and takes each
    * bucket's local top-k, which is exact-complete (every global top-k row
    * is in its own bucket's top-k); phase 2 re-ranks the ≤ salts·k
    * survivors per source with the true window, whose per-source input is
    * now constant-bounded, never corpus-bounded. Identical output to the
    * one-window plan (same total order both phases), one extra narrow
    * shuffle of k·salts rows per domain. */
  def topKByQuality(docs: DataFrame, k: Int = 3, salts: Int = 16): DataFrame = {
    val local = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("quality").desc, col("doc_id"))
    val exact = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    TextStats.quality(docs, "source")
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)))
      .withColumn("lr", row_number().over(local))
      .filter(col("lr") <= k)
      .withColumn("rank", row_number().over(exact))
      .filter(col("rank") <= k)
      .select(col("source"), col("doc_id"), col("quality"), col("rank"))
  }

  /** Hash-key prefix for [[stratifiedSample]] — namespaced so the sample
    * order is independent of every other md5(doc_id)-keyed gate in the
    * engine (X23 quota, X35 splits): reusing their key would correlate
    * "sampled for eval" with "assigned to test", and a stratified QA sample
    * must be uniform WITHIN each existing decision. Shared with the x62
    * oracle generator. */
  val SampleKeyPrefix: String = "sample:"

  /** Sampled documents per stratum — shared with the x62 oracle generator
    * so the two cannot drift. */
  val SamplePerSource: Int = 4

  /** X62 — fixed-size stratified sample: the `k` documents per source with
    * the smallest md5("sample:" || doc_id) digest — a reproducible uniform
    * without-replacement k-sample per stratum (the eval-slice / human-audit
    * carve-out that must not move when the corpus is re-processed). Identity-
    * keyed like X35: editing a document's text never changes its sampled
    * status, and adding documents can only displace, never reshuffle, the
    * order of existing candidates. Complements X23 (rate-based thinning) and
    * X24 (quality-ranked selection): uniform and exactly-k per stratum.
    *
    * Scale: the same skew-hardened two-phase local-top-k shape as
    * [[topKByQuality]] — phase 1 takes each (source, salt) bucket's k
    * smallest keys (exact-complete superset), phase 2 re-ranks ≤ salts·k
    * survivors per source; no domain ever serializes corpus-scale rows
    * through one task. */
  def stratifiedSample(docs: DataFrame, k: Int = SamplePerSource,
      salts: Int = 16): DataFrame = {
    val key = md5(concat(lit(SampleKeyPrefix), col("doc_id").cast("string")))
    val local = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("sample_key"), col("doc_id"))
    val exact = Window.partitionBy(col("source"))
      .orderBy(col("sample_key"), col("doc_id"))
    docs.select(col("source"), col("doc_id"), key.as("sample_key"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(salts)))
      .withColumn("lr", row_number().over(local))
      .filter(col("lr") <= k)
      .withColumn("rank", row_number().over(exact))
      .filter(col("rank") <= k)
      .select(col("source"), col("doc_id"), col("sample_key"), col("rank"))
  }

  /** Output-shard count for [[assignShards]]'s driver query — shared with the
    * x79 oracle generator so the two cannot drift. */
  val ShardCount: Int = 8

  /** Rows-per-source above which [[assignShards]] dispatches to
    * [[assignShardsBanded]] — the r16 skew-ladder crossover (SCALING.md
    * round 16: the one-window form wins below ~5 M rows/source on its zero
    * fixed cost, loses linearly past it as the mega-source serializes
    * through one task). */
  val WindowCrossoverRows: Long = 5000000L

  /** X79 — balanced output-shard assignment: route every document to one of
    * `shards` output shards so per-shard token totals come out even — the
    * shard-writer step at the end of every curation run. Unbalanced shards
    * are a real 100 TB cost: training readers stream shard files in parallel,
    * so the heaviest file IS the epoch's straggler. Hash-routing balances
    * only in expectation (the variance is what this op removes); a greedy
    * global LPT bin-pack balances best but is inherently sequential. This is
    * the deterministic middle: within each source, rank documents by token
    * count (desc, doc_id tiebreak) and deal them boustrophedon ("snake",
    * the standard parallel LPT approximation) across the shards — rank r
    * goes to shard `r % k` on even passes and `k-1 - r % k` on odd passes,
    * so a shard that just received a big document receives the small end of
    * the next pass. Adjacent ranks have near-equal sizes, so per-source
    * shard totals differ by at most one pass's size spread; summed over
    * sources the imbalance stays bounded. Pinned: the hand-computed deal and
    * its 10/10/9 token split (`CorpusSpec`), per-source shard cardinalities
    * within 1 on random corpora (`CurationProperties`), and the
    * no-shard-holds-half-the-mass bound on the composed pipeline
    * (`CurationPipelineSpec`).
    *
    * Every document is assigned — including NULL-text rows (`n_tokens`
    * NULL, ranked last by both engines' NULLS LAST descending order): an
    * output-stage op must never silently drop a row.
    *
    * Scale shape: SKEW-DISPATCHED. The rank is a per-source window — one
    * shuffle, the [[packSequences]] shape — whose straggler is the largest
    * domain: below the measured crossover (~5 M rows/source, the r16 skew
    * ladder, SCALING.md round 16) one in-memory window task beats the
    * banded two-phase's ~0.4 s fixed cost, past it the window's serial
    * share grows linearly while [[assignShardsBanded]] stays core-bound
    * (hours vs minutes on a 100 TB mega-crawl-host). So the default PROBES
    * before planning: one bounded source-cardinality aggregate (a narrow
    * one-column count, map-side partial) picks the window form only when
    * every source sits under `windowCrossover`, else the bit-equal banded
    * twin ([[BandedPrefixSpec]] pins value-identity, so the dispatch can
    * never change a result). The probe makes construction EAGER — the
    * banded twin's existing contract, now shared by the default so a
    * mega-source caller cannot accidentally serialize; callers that must
    * stay lazy on a KNOWN-bounded corpus pass `windowCrossover =
    * Long.MaxValue`, and mega-source callers that want to skip the probe
    * call [[assignShardsBanded]] directly. The probe is a SECOND scan of
    * `docs` (the chosen plan re-scans it), so cache/persist `docs` before
    * the default probing form when the input is expensive to recompute —
    * and note that on a NON-DETERMINISTIC input (a fresh sample, an
    * un-checkpointed shuffle race) the probe may see a different
    * max-per-source than the executed plan: value-identity of the two
    * forms always holds, but the crossover guarantee is only as
    * deterministic as the input (r17 advice). Pure integer arithmetic
    * downstream of the rank — the DuckDB oracle matches bit for bit. */
  def assignShards(docs: DataFrame, shards: Int = ShardCount,
      windowCrossover: Long = WindowCrossoverRows): DataFrame = {
    require(shards > 0, "shard count must be positive")
    // Long.MaxValue pins the window form WITHOUT the probe — no count can
    // exceed it, so running the eager scan anyway would break the
    // documented stay-lazy contract (r17 review find)
    val maxPerSource =
      if (windowCrossover == Long.MaxValue) 0L
      else Option(docs.groupBy(col("source"))
          .agg(count(lit(1)).as("c")).agg(max(col("c"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxPerSource > windowCrossover) assignShardsBanded(docs, shards)
    else {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("r", row_number().over(w).cast("long") - 1L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          snakeDeal("r", shards).as("shard"))
    }
  }

  /** The ONE boustrophedon deal: 0-based rank r goes to shard `r % k` on
    * even passes and `k−1 − r % k` on odd ones. Shared by [[assignShards]]
    * and [[assignShardsBanded]] so the spec-pinned bit-equality between the
    * two is structural, not copy-discipline. Takes the rank as a SQL
    * expression string because the pass parity needs integral `div` (the
    * oracle's `//`; Column `/` is double division and goes lossy past
    * 2^53). r ≥ 0, so truncating and flooring division agree. */
  private def snakeDeal(rankSql: String, shards: Int): Column = {
    val r = expr(rankSql)
    when(expr(s"($rankSql) div $shards") % 2 === 0, r % shards)
      .otherwise(lit(shards - 1) - r % shards)
  }

  /** [[assignShards]] through [[bandedRunning]] — the mega-source form
    * the default DISPATCHES to past [[WindowCrossoverRows]] rows/source
    * (call it directly to skip the default's cardinality probe when the
    * skew is known): this computes the IDENTICAL deal with the two-phase
    * banded rank (spec-pinned bit-equal on 90%-one-source skew). The descending (n_tokens, doc_id) order maps
    * to an ascending band key: −n_tokens with NULL → Long.MaxValue (both
    * engines rank NULL lengths last under DESC). Eager-snapshot like every
    * bandedRunning caller (two bounded collects at construction). */
  def assignShardsBanded(docs: DataFrame, shards: Int = ShardCount,
      bands: Int = 0): DataFrame = {
    require(shards > 0, "shard count must be positive")
    val ranked = bandedRunning(
      docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("__sk",
          coalesce(-col("n_tokens"), lit(Long.MaxValue))),
      "source", Seq("__sk", "doc_id"), "__sk", lit(0L), "__zero", "__rk",
      bands)
    ranked.select(col("doc_id"), col("source"), col("n_tokens"),
      snakeDeal("__rk - 1", shards).as("shard"))
  }

  /** X85 — CCNet-style per-language quality buckets (Wenzek et al. 2020
    * shape): rank each language's documents by length-normalized unigram LM
    * score (mean per-token log10 p(w) — the perplexity proxy; higher = more
    * LM-typical text) and deal them into `buckets` NTILE tiles per language,
    * ordered score-DESCENDING so bucket 1 is CCNet's "head" (best) and
    * bucket `buckets` its "tail". NTILE semantics exactly: with n docs and k
    * buckets the first n mod k buckets hold one extra doc; ties broken by
    * doc_id, so the split is total and deterministic. Docs with no tokens
    * have no LM score and are not bucketed (the x19 scoring contract).
    *
    * Scale shape — why this is NOT one `ntile() OVER (PARTITION BY lang …)`:
    * a per-language window serializes EVERY document of a language through
    * ONE task, and at 100 TB one language is half the corpus. This computes
    * the identical ranks with a two-phase split whose every cross-branch
    * input is a PURE FUNCTION of row values (no `spark_partition_id`, no
    * range-exchange sampling — either would tie correctness to identical
    * re-evaluation of a multiply-consumed subtree, which spill-order
    * nondeterminism breaks at scale):
    *
    *   1. one bounded driver action collects per-language approximate score
    *      splitters (`percentile_approx`, n_langs × (`splits`−1) doubles)
    *      — embedded as a literal, they make `pid` (the doc's coarse score
    *      band, 0 = best) a deterministic column. Splitter QUALITY affects
    *      only balance, never ranks: any splitter values give exact NTILE;
    *   2. a second bounded action collects per-(pid, lang) counts
    *      (n_langs × `splits` longs), from which per-language prefix-sum
    *      rank offsets and totals are computed driver-side and embedded as
    *      literal maps — structurally consistent with the final pass
    *      because the scored rows are deterministic VALUES (per-token
    *      8-dp-rounded DECIMAL sums are order-independent);
    *   3. the single full-data exchange: a window over (pid, lang) for the
    *      local row_number; global rank = literal offset + local. Partition
    *      size ≤ ~n_lang/`splits` + approx error, REGARDLESS of skew.
    *
    * Score TIES share a band (a splitter cannot separate equal keys), so an
    * adversarial all-equal-scores corpus degrades to the naive per-language
    * window — documented, not silent. A missing offset/total lookup (only
    * reachable if the determinism argument above ever breaks) raises
    * loudly instead of mis-ranking. The NTILE arithmetic downstream is pure
    * integer (div/mod), bit-equal to the oracle. The corpus-scale scoring
    * pipeline (vocabulary build + token-keyed join) executes EXACTLY ONCE:
    * the scored frame — one narrow row per document, a tiny fraction of the
    * corpus bytes — is `localCheckpoint`ed before its three consumers
    * (splitter collect, band-count collect, final output), the x20 hygiene.
    * The checkpoint also makes the three consumers structurally consistent
    * by construction (they read one materialized RDD), upgrading the
    * value-determinism argument above from "required" to "defense in
    * depth". The final checkpoint backs the returned frame and is released
    * by the ContextCleaner once the caller drops the result. */
  def ccnetBuckets(docs: DataFrame, buckets: Int = 3,
      splits: Int = 0): DataFrame = {
    require(buckets > 0, "bucket count must be positive")
    val spark = docs.sparkSession
    val nSplits =
      if (splits > 0) splits
      // safe parse: some deployments set this conf non-numerically (e.g.
      // "auto" under AQE wrappers) — fall back to the cluster's default
      // parallelism rather than throwing at plan-build time
      else scala.util.Try(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
    // ONE corpus-scale pass: score, prune to the five narrow columns every
    // consumer needs, materialize. Everything below reads this one RDD.
    val scored = TextStats.unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("s", col("sum_logprob") / col("n_tokens"))
      // internal grouping key: map keys cannot be NULL; a NULL lang is its
      // own NTILE partition on both engines, keyed here by a sentinel no
      // real language code contains
      .withColumn("lkey", coalesce(col("lang"), lit("\u0000")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("s"),
        col("lkey"))
      .localCheckpoint()
    // bounded driver artifact #1: per-language score splitters
    val fracs = (1 until nSplits).map(_.toDouble / nSplits)
    val splitters: Map[String, Seq[Double]] =
      if (fracs.isEmpty) Map.empty
      else scored.groupBy(col("lkey"))
        .agg(percentile_approx(col("s"), typedLit(fracs), lit(10000))
          .as("sp"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val splLit = if (splitters.isEmpty) typedLit(Map("" -> Seq.empty[Double]))
      else typedLit(splitters)
    // pid = how many of the language's splitters exceed s: 0 for the best
    // band, monotone non-increasing in s — so per-language band order IS
    // rank order and the prefix sums below are exact
    def pidCol(sc: Column, lk: Column): Column =
      coalesce(size(filter(element_at(splLit, lk), x => x > sc)), lit(0))
    val withPid = scored.withColumn("pid", pidCol(col("s"), col("lkey")))
    // bounded driver artifact #2: per-(pid, language) counts -> offsets and
    // totals, computed driver-side (n_langs × splits longs)
    val counts: Array[(Int, String, Long)] = withPid
      .groupBy(col("pid"), col("lkey")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets: Map[String, Map[Int, Long]] = counts.groupBy(_._2).map {
      case (lk, rows) =>
        val sorted = rows.sortBy(_._1)
        val offs = sorted.scanLeft(0L)(_ + _._3)
        lk -> sorted.map(_._1).zip(offs).toMap
    }
    val totals: Map[String, Long] =
      counts.groupBy(_._2).map { case (lk, rows) => lk -> rows.map(_._3).sum }
    val offLit = if (offsets.isEmpty) typedLit(Map("" -> Map(0 -> 0L)))
      else typedLit(offsets)
    val totLit = if (totals.isEmpty) typedLit(Map("" -> 0L))
      else typedLit(totals)
    def loud(c: Column, what: String): Column =
      when(c.isNull, raise_error(concat(lit(
        s"ccnetBuckets: missing $what for band of lang="), col("lkey"))))
        .otherwise(c)
    val localW = Window.partitionBy(col("pid"), col("lkey"))
      .orderBy(col("s").desc, col("doc_id"))
    withPid
      .withColumn("off",
        loud(element_at(element_at(offLit, col("lkey")), col("pid")), "offset"))
      .withColumn("n", loud(element_at(totLit, col("lkey")), "total"))
      .withColumn("r", col("off") + row_number().over(localW))
      // NTILE(k): q = n div k docs per tile, the first rem = n mod k tiles
      // hold q+1. r <= (q+1)*rem lands in a big tile: ceil(r / (q+1));
      // otherwise rem + ceil((r - (q+1)*rem) / q). q = 0 (n < k) always
      // takes the first branch (n = rem there), so the q division is safe.
      .withColumn("q", expr(s"n div $buckets"))
      .withColumn("rem", col("n") % buckets)
      .withColumn("bucket",
        when(col("r") <= (col("q") + 1) * col("rem"),
          expr("(r + q) div (q + 1)"))
          .otherwise(col("rem") + expr("(r - (q + 1) * rem + q - 1) div q")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("s"),
        col("bucket"))
  }

  /** Frozen unigram LM artifact for [[unigramLogProbAgainst]]: one row per
    * corpus token with its 8-dp-rounded log10 MLE probability — exactly the
    * per-token term [[TextStats.unigramLogProb]] sums, so scoring a frozen
    * corpus against its own LM reproduces the self-contained scores bit for
    * bit. Two map-side-partial aggregates; the one-row total broadcasts. */
  def unigramLm(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("w"),
        round(log10(col("cnt") / col("total")), 8)
          .cast("decimal(12,8)").as("lp"))
  }

  /** Epoch seed for [[trainingOrder]]'s driver query — shared with the x90
    * oracle generator so the two cannot drift. */
  val ShuffleSeed: String = "graft-epoch-0"

  /** X90 — deterministic training order: assign every document its position
    * in a seeded global shuffle — the example-ordering step every training
    * run performs before sharding, made REPRODUCIBLE (re-running the
    * pipeline, or auditing which examples a given step saw, replays the
    * identical permutation; a new seed is a fresh epoch order). The sort
    * key is `md5(seed:doc_id)` — identity-keyed, so text edits never move a
    * document within an epoch — and position is the EXACT global rank by
    * (key, doc_id). Every document is ranked, NULL text included: an
    * output-stage op must never silently drop a row (the x79 contract).
    *
    * Scale shape — an exact GLOBAL rank with no global window and no range
    * exchange: md5 keys are uniform by construction, so the first 16 bits
    * of the key are a FIXED, data-independent band split (no sampling, no
    * `spark_partition_id` — the band is a pure function of row values, the
    * x85 structural-consistency argument without even needing splitters).
    * One bounded collect (≤ 2¹⁶ per-band counts) turns into per-band rank
    * offsets, joined back as a broadcast local relation; one balanced
    * hash-exchange on the band for the local row_number. Partition sizes
    * are ~n/2¹⁶ regardless of data; a missing offset (impossible while the
    * band stays deterministic) raises loudly instead of mis-ranking. */
  def trainingOrder(docs: DataFrame, seed: String = ShuffleSeed): DataFrame = {
    val spark = docs.sparkSession
    // loud gate: a NULL doc_id would NULL the key and the band, dying later
    // as an opaque NPE in the offsets collect — identity keys must exist
    val id = when(col("doc_id").isNull,
      raise_error(lit("trainingOrder: NULL doc_id — the identity sort key " +
        "needs a non-null id")).cast("long"))
      .otherwise(col("doc_id"))
    val key = md5(concat(lit(seed), lit(":"), id.cast("string")))
    val banded = docs.select(col("doc_id"), key.as("sort_key"))
      .withColumn("band", conv(substring(col("sort_key"), 1, 4), 16, 10)
        .cast("long"))
    // bounded driver artifact: per-band counts -> prefix-sum offsets
    val counts = banded.groupBy(col("band")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2)).toSeq
    import spark.implicits._
    val offDf = offsets.toDF("band", "off")
    val localW = Window.partitionBy(col("band"))
      .orderBy(col("sort_key"), col("doc_id"))
    banded.join(broadcast(offDf), Seq("band"), "left")
      .select(col("doc_id"), col("sort_key"),
        (when(col("off").isNull, raise_error(concat(
            lit("trainingOrder: missing rank offset for band "), col("band"))))
          .otherwise(col("off")) + row_number().over(localW)).as("position"))
  }

  /** Score documents against a FROZEN unigram LM ([[unigramLm]]) — the
    * deployment shape of CCNet's quality scoring, where the LM is trained
    * once (on a trusted snapshot) and every later ingest is scored against
    * it rather than against itself. Tokens absent from the frozen LM
    * contribute nothing to the sum and are reported in `n_oov`; the score
    * divides by the KNOWN-token count, and all-OOV documents (n_known = 0)
    * have no score and are excluded — the same absent-from-output contract
    * as zero-token docs in x19. Scale shape: the explode→LM join is keyed
    * on the token (shuffle join — the LM is corpus-vocabulary sized, never
    * broadcast), then one map-side-partial aggregate per doc_id; nothing
    * quadratic, nothing driver-side. */
  def unigramLogProbAgainst(docs: DataFrame, lm: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(lm, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("lp")).as("n_known"),
        sum(col("lp")).cast("double").as("sum_logprob"))
      .filter(col("n_known") > 0)

  /** Per-(lang, bucket) score boundaries of a [[ccnetBuckets]] run — the
    * second half of the frozen artifact [[ccnetAssign]] probes: each
    * bucket's MINIMUM score (buckets are score-descending tiles, so the min
    * is the boundary a new score must reach to enter). Tiny (n_langs × k
    * rows); one map-side-partial aggregate over the bucketed frame. */
  def ccnetBoundaries(bucketed: DataFrame): DataFrame =
    bucketed.groupBy(col("lang"), col("bucket"))
      .agg(min(col("s")).as("min_s"))

  /** X86 — incremental CCNet bucketing: assign ARRIVING documents to the
    * quality buckets of a frozen reference run without re-ranking the
    * reference corpus — the x40/x51/x84 incremental pattern applied to the
    * quality-mixing plane. `lm` and `bounds` are the frozen artifacts
    * ([[unigramLm]] + [[ccnetBoundaries]] over the reference snapshot); a
    * new document is scored against the frozen LM and lands in the FIRST
    * (best) bucket whose minimum score it reaches (`s >= min_s`), or the
    * tail bucket if it reaches none — and also the tail for a language the
    * reference never saw (no boundary rows), the conservative default for
    * unvetted text. Scale shape: scoring is the [[unigramLogProbAgainst]]
    * token-keyed join; the boundary probe is a BROADCAST join against the
    * tiny bounds table followed by one per-doc min — the increment is the
    * only corpus-scale side, exactly like x84's frozen-vocabulary probe. */
  def ccnetAssign(newDocs: DataFrame, lm: DataFrame, bounds: DataFrame,
      buckets: Int = 3): DataFrame = {
    require(buckets > 0, "bucket count must be positive")
    val scored = unigramLogProbAgainst(newDocs, lm)
      .join(newDocs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("s", col("sum_logprob") / col("n_known"))
    scored.join(broadcast(bounds), Seq("lang"), "left")
      .groupBy(col("doc_id"), col("lang"), col("n_tokens"), col("n_known"),
        col("s"))
      .agg(coalesce(min(when(col("s") >= col("min_s"), col("bucket"))),
          lit(buckets.toLong)).as("bucket"),
        max(col("bucket")).as("_maxb"))
      // loud gate: a boundary table from a k > `buckets` reference run would
      // otherwise mix two bucket scales — frozen bucket 5 next to a "tail"
      // of 3 — and silently rank the worst text above bucket-4/5 documents
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_known"),
        col("s"),
        when(col("_maxb") > buckets, raise_error(concat(
            lit(s"ccnetAssign: bounds carry bucket "), col("_maxb"),
            lit(s" > buckets=$buckets — frozen run used more buckets")))
            .cast("long"))
          .otherwise(col("bucket")).as("bucket"))
  }

  // --------------------------------------------------------------------
  // URL / domain curation plane (X106–X108): the first-stage filters a
  // crawl pipeline runs BEFORE any text operator (C4 §2.1, Raffel et al.
  // 2020; RefinedWeb §3.1, Penedo et al. 2023 — URL canonicalization +
  // dedup + domain block/allow gating). The crawl-native identity key is
  // the URL, not the text: two fetches of one page differ in tracking
  // params, scheme case, default ports, and fragments long before they
  // differ in bytes.
  // --------------------------------------------------------------------

  /** Query parameters dropped by [[normalizeUrl]] — the click-tracking
    * decorations that vary per fetch without changing the resource
    * (Google Analytics `utm_*`, Facebook `fbclid`, Google Ads `gclid`,
    * Microsoft `msclkid`, bare `ref`). ONE anchored regex over a
    * `name=value` pair, shared VERBATIM with the x106/x107/x108 oracle
    * generators (Java regex and RE2 read this subset identically) so the
    * engine and the oracle cannot drift. */
  val TrackingParamPattern: String =
    "^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=|$)"

  /** Multi-label public suffixes [[registrableDomain]] recognizes: the
    * registrable domain keeps one label MORE than the public suffix
    * (publicsuffix.org's rule). A full PSL snapshot is a deployment
    * artifact; this explicit constant is the policy surface — swap in the
    * full list without touching the operator. Shared with the oracle. */
  val MultiLabelSuffixes: Seq[String] =
    Seq("co.uk", "ac.uk", "gov.uk", "com.au", "co.jp", "com.br")

  /** Blocklist for the x108 driver row — registrable domains, matched
    * after normalization. Shared with the oracle generator. */
  val DefaultDomainBlocklist: Seq[String] =
    Seq("brand1.com", "brand7.co.uk", "brand3.com.au", "brand16.com")

  /** URL-substring blocklist for the x123 driver row — matched
    * case-insensitively against the whole canonical URL (the C4 §2.1
    * "bad words" URL filter runs on the raw URL string, path and host
    * alike). Like [[DefaultDomainBlocklist]], the default carries
    * fixture-hitting entries so the flag branch is live under the
    * oracle; a deployment swaps its own curated list in. */
  val DefaultUrlBlockWords: Seq[String] =
    Seq("casino", "viagra", "xxx", "brand7")

  /** X123 — URL shape features + the C4-style URL word gate: every row
    * comes back with the canonical key plus the cheap quality features a
    * crawl pipeline reads BEFORE fetching a byte of body —
    *
    *  - `path_depth` — non-empty path segments (deep calendar/faceted
    *    URLs are crawl traps);
    *  - `path_chars` / `path_digits` — digit-heavy long paths are
    *    session-id and archive signatures (counts, not a ratio: the
    *    oracle boundary stays integer, the consumer divides);
    *  - `n_params` — surviving query parameters after normalization;
    *  - `url_flag` — `flagged` when any [[DefaultUrlBlockWords]] entry
    *    appears in the lowercased canonical URL, `clean` otherwise,
    *    `malformed` for unparseable rows (flags, not filters —
    *    x73/x108; a string disposition, not a nullable boolean — the
    *    driver comparator renders boolean NULLs differently per
    *    engine).
    *
    * Malformed URLs (NULL `url_norm`) carry NULL counts — no identity,
    * no measurements, the x107 rule. Narrow, stateless,
    * streaming-composable; two cheap regex producers staged as real
    * columns (the x107 staging lesson). */
  def urlFeatures(docs: DataFrame,
      blockWords: Seq[String] = DefaultUrlBlockWords,
      urlCol: String = "url"): DataFrame = {
    val staged = normalizeUrl(docs, urlCol)
      .withColumn("__g_path",
        regexp_extract(col("url_norm"), "^[^:/?#]+://[^/?]*([^?]*)", 1))
      .withColumn("__g_q",
        regexp_extract(col("url_norm"), "^[^?]*\\?(.*)$", 1))
    staged
      .withColumn("path_depth",
        size(filter(split(col("__g_path"), "/"), s => s =!= "")))
      .withColumn("path_chars", length(col("__g_path")))
      .withColumn("path_digits", length(col("__g_path")) -
        length(regexp_replace(col("__g_path"), "[0-9]", "")))
      .withColumn("n_params",
        size(filter(split(col("__g_q"), "&"), s => s =!= "")))
      .withColumn("url_flag", when(col("url_norm").isNull, "malformed")
        .when(blockWords.foldLeft(lit(false)) {
          (acc, w) => acc || contains(lower(col("url_norm")), lit(w))
        }, "flagged")
        .otherwise("clean"))
      .drop("__g_path", "__g_q")
  }

  /** Distinct-URL count at or above which a (domain, template) group is
    * a `trap` verdict in [[pathTemplates]] — the production default; a
    * deployment tunes it to its per-domain fetch budget. The DRIVER ROW
    * does NOT use it: it passes [[TrapFixtureMinUrls]] explicitly (the
    * x127 explicit-parameter convention — the fixture URL space holds
    * ≤ ~4 URLs per shape, so the default would leave the trap branch
    * dead under the oracle). */
  val TrapMinUrls: Int = 8

  /** The x128 driver row's explicit threshold, shared between
    * `CorpusQueries.x128PathTemplates` and the oracle generator so the
    * two cannot drift. */
  private[graft] val TrapFixtureMinUrls: Int = 3

  /** X128 — URL path-template census, the crawler-TRAP detector
    * (calendar pages, faceted navigation, session-id paths mint
    * unbounded URL spaces under one path shape; every production crawl
    * maintains a per-domain URL-pattern blacklist, and this is the
    * table it is built from): canonical URLs grouped by
    * `(domain, template)` where `template` is the canonical PATH with
    * every maximal digit run masked to `N` (`/p/7` and `/p/11` →
    * `/p/N` — the documented subset: digit runs are the universal
    * id/date/page carrier; hex-token masking is a deployment's widening
    * of the regex constant, same operator). Emits one row per group:
    *
    *  - `n_urls` — DISTINCT canonical URLs under the shape (query
    *    included: each surviving-param variant is a URL the frontier
    *    would fetch);
    *  - `example_url` — `min(url_norm)`, a deterministic witness;
    *  - `verdict` — `trap` at/above `minUrls`, else `ok` — flags, not
    *    filters (the x73 routing doctrine; the owner turns trap rows
    *    into frontier filters).
    *
    * Malformed URLs contribute nothing (no identity — x107's rule; the
    * x108 gate routes them). Scale shape: the parse + mask ride the
    * scan (narrow, codegen'd); ONE (domain, template)-keyed aggregate
    * with map-side partials is the only shuffle — the same
    * single-shuffle shape as [[urlFeatures]]' consumer, and the key
    * space is domains × path shapes, far below URL count by exactly
    * the factor that makes traps traps. */
  def pathTemplates(docs: DataFrame, minUrls: Int = TrapMinUrls,
      urlCol: String = "url"): DataFrame =
    normalizeUrl(docs, urlCol)
      .filter(col("url_norm").isNotNull)
      .withColumn("template", regexp_replace(
        regexp_extract(col("url_norm"), "^[^:/?#]+://[^/?]*([^?]*)", 1),
        "[0-9]+", "N"))
      .groupBy(col("domain"), col("template"))
      .agg(countDistinct(col("url_norm")).as("n_urls"),
        min(col("url_norm")).as("example_url"))
      .withColumn("verdict",
        when(col("n_urls") >= minUrls, "trap").otherwise("ok"))

  /** ONE cheap predicate exactly equivalent to "[[normalizeUrl]] yields a
    * non-NULL url_norm": a scheme, `://`, a host that stays non-empty
    * after the case-insensitive `www.` strip, and an authority that ends
    * (at `/`/`?`/`#`/end) right after that host plus an optional
    * `:digits*` port — the strict-authority rule the r19 review added
    * (userinfo and garbage ports are malformed, see the
    * [[graft.functions.UrlPolicy]] kernel note; the trailing negative
    * lookahead `(?![^/?#])` is what asserts "nothing else in the
    * authority"). Exists because filtering on
    * `url_norm IS NOT NULL` invites the optimizer to push the predicate
    * below the scan's repartition WITH THE WHOLE PARSE CHAIN SUBSTITUTED —
    * measured: ~3 s of single-task interpreted regexp re-evaluation per
    * x107 execution at sf0.1, serialized on the pre-repartition scan task.
    * This predicate pushes to the same place for the price of one regex.
    * Equivalence is spec-pinned against url_norm nullability
    * (`UrlPlaneSpec`/`UrlPlaneProperties` fixtures). The optional `www.`
    * is POSSESSIVE (`?+`): a backtracking engine would otherwise accept
    * `www./p` by un-matching the prefix and reading its own `w` as the
    * host (Java regex only — this predicate never reaches the RE2-based
    * oracle, which filters on its computed url_norm directly). */
  def urlParses(url: Column): Column =
    url.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*://(?:(?i:www\\.))?+" +
      "[^:/?#@]+(?::[0-9]*)?(?![^/?#])")

  /** X106 — URL normalization: append `url_norm` (the canonical form) and
    * `domain` (the registrable domain) to every row, from `urlCol`. The
    * canonicalization policy, each step an explicit constant or a named
    * rule shared with the DuckDB oracle:
    *
    *  1. scheme and host lowercased; leading `www.` stripped;
    *  2. fragment stripped (client-side only, never sent to the server);
    *  3. default port stripped (`:80` for http, `:443` for https) —
    *     any other explicit port is identity and kept;
    *  4. trailing slashes stripped from the path (`/a/b/` ≡ `/a/b`; a
    *     bare `/` root path ≡ none);
    *  5. tracking query parameters dropped ([[TrackingParamPattern]]),
    *     the SURVIVING parameters kept in their original order (sorting
    *     is a rewrite, not a normalization — two pages genuinely keyed
    *     by `?a=1&b=2` vs `?b=2&a=1` stay distinct), and the `?` dropped
    *     when nothing survives.
    *
    * A string that does not parse as `scheme://host...` yields NULL
    * `url_norm` and NULL `domain` — malformed is data for the
    * [[domainGate]] router, never an exception (the x73 doctrine).
    * The authority is STRICT: userinfo (`user@host`) and non-numeric
    * ports are malformed, enforced (the r19 review found the earlier
    * lenient parse keyed `http://a.com:x@blocked.com/` on `a.com` — a
    * blocklist bypass — and collapsed `ex.com:8080a` onto clean
    * `ex.com`); a bare-colon empty port (RFC 3986) normalizes away like
    * a default port.
    *
    * Scale shape: TWO codegen'd kernel calls per row
    * ([[graft.functions.UrlNormalize]] / [[graft.functions.UrlDomain]],
    * each one linear parse) — zero shuffles, zero state; composes
    * unchanged under Structured Streaming ([[domainGate]], which runs
    * it, is pinned through a live query in `UrlPlaneSpec`).
    *
    * WHY fused expressions and not a declarative staged projection (the
    * [[graft.functions.Bm25GateScore]] doctrine, second sighting — full
    * account at [[graft.functions.UrlPolicy]]): the staging held under
    * x107's aggregate but x112's JOIN substituted it — constraint
    * inference pushed `isnotnull(url_norm)` with the whole alias chain
    * inlined, ballooning the probe plan from 6 `regexp_extract` nodes to
    * 77 and the driver row from ~0.8 s to 4.4 s at sf0.1. A depth-1
    * kernel call duplicates as one extra linear parse; a staged forest
    * duplicates as a forest. */
  def normalizeUrl(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => c, expression => x}
    val u = x(col(urlCol))
    docs
      .withColumn("url_norm",
        c(graft.functions.UrlNormalize(u, TrackingParamPattern)))
      .withColumn("domain",
        c(graft.functions.UrlDomain(u, MultiLabelSuffixes)))
  }

  /** Registrable domain of an already-canonicalized host: the last two
    * labels, or three when the last two form a [[MultiLabelSuffixes]]
    * entry (publicsuffix.org's one-more-than-the-suffix rule); a
    * single-label host (intranet names, `localhost`) is its own domain.
    * This is the DECLARATIVE statement of the rule
    * [[graft.functions.UrlDomain]]'s fused kernel implements — kept as
    * the readable policy reference and as the spec referee the kernel is
    * pinned against (`UrlPlaneSpec`); [[normalizeUrl]] itself calls the
    * kernel (see its scale-shape note for why). */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat(try_element_at(labels, lit(-2)), lit("."),
      try_element_at(labels, lit(-1)))
    val last3 = concat(try_element_at(labels, lit(-3)), lit("."), last2)
    when(n <= 1, host)
      .when(n >= 3 && last2.isin(MultiLabelSuffixes: _*), last3)
      .otherwise(last2)
  }

  /** X108 — domain block/allow gate: every row comes back with its
    * `domain` and a `disposition` column — flags, NOT filters (the x73
    * routing doctrine: the pipeline OWNER decides what to drop; the gate
    * only names the verdict):
    *
    *  - `malformed` — the URL didn't parse ([[normalizeUrl]]'s NULL);
    *  - `blocked`   — registrable domain on the blocklist (blocklist
    *    wins over allowlist: an explicitly-banned domain stays banned
    *    even when a broad allowlist covers it);
    *  - `unlisted`  — a non-empty allowlist doesn't contain the domain;
    *  - `allowed`   — everything else.
    *
    * Lists are driver-held constants rendered into ONE codegen'd `isin`
    * per list — bounded artifacts by contract (the x30/x92 discipline:
    * curated block/allow policies are thousands of entries, not corpus-
    * scale). A crawl-scale blocklist (e.g. every domain seen in an abuse
    * feed) composes instead as a broadcast left-semi/anti join on
    * `domain` — same column, same dispositions, different build. Narrow
    * and stateless, so it rides Structured Streaming unchanged (pinned
    * through a live query in `UrlPlaneSpec`). */
  def domainGate(docs: DataFrame,
      blocklist: Seq[String] = DefaultDomainBlocklist,
      allowlist: Seq[String] = Seq.empty,
      urlCol: String = "url"): DataFrame = {
    val normed = normalizeUrl(docs, urlCol)
    val blocked =
      if (blocklist.isEmpty) lit(false) else col("domain").isin(blocklist: _*)
    val unlisted =
      if (allowlist.isEmpty) lit(false)
      else !col("domain").isin(allowlist: _*)
    normed.withColumn("disposition",
      when(col("domain").isNull, "malformed")
        .when(blocked, "blocked")
        .when(unlisted, "unlisted")
        .otherwise("allowed"))
  }

  /** Deterministic URL fixture for the x106/x107/x108 driver rows (the
    * x28/x58 fixture pattern — the synthetic corpus carries no URL
    * column, so one is derived from `doc_id` arithmetic, replayed
    * byte-for-byte by the oracle generator). Two independent key spaces
    * make the rows non-vacuous:
    *
    *  - the CORE (`k = doc_id % 125`) fixes everything normalization must
    *    KEEP — scheme (http/https by `k % 2`), subdomain (`m.` on
    *    `k % 4 == 0`), brand host (`k % 23`), public suffix (`.co.uk` /
    *    `.com.au` / `.com` by `k % 5`), a genuinely non-default port
    *    (`:8080` on `k % 10 == 9`), path (`k % 12`, absent on
    *    `k % 11 == 0`), and the kept query parameters (`k % 3`);
    *  - the DECORATION (`doc_id` itself) varies everything normalization
    *    must STRIP — scheme/host case, `www.`/`WWW.` prefixes, the
    *    scheme's default port, a trailing slash, tracking parameters on
    *    either side of the kept ones, and fragments.
    *
    * Every 125-congruent group therefore canonicalizes to ONE url_norm —
    * x107's collisions are engineered, and any policy step failing open
    * breaks the hash check. Core `k == 124` emits an unparseable string,
    * pinning the malformed branch end-to-end. */
  def urlFixture(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => c, expression => x}
    // Opaque pushdown barrier: without it, every downstream filter on a
    // url-derived column (urlParses, url_norm IS NOT NULL, canonical_key
    // IS NOT NULL) is pushed below the scan-floor repartition with this
    // whole constructor substituted, and the single-row-group scan task
    // evaluates the fixture serially per row — 0.55–0.9 s of single-task
    // wall on every url-plane query (r20 profile; see
    // [[graft.functions.Opaque]]). Identity on the value, so the oracle
    // generator's byte-for-byte replay is untouched.
    docs.withColumn("url", c(graft.functions.Opaque(
      x(fixtureUrl(col("doc_id") % 125, col("doc_id"))))))
  }

  /** The [[urlFixture]] URL constructor, parameterized on its two key
    * spaces — core class `k` (what normalization keeps) and decoration
    * seed `d` (what it strips) — so OTHER fixtures can mint raw URLs in
    * the SAME canonical URL space under different decoration (the x126
    * redirect fixture generates its redirect TARGETS with
    * `fixtureUrl(target(k), d + 7)`: same url_norm class, different
    * surface form, keeping normalization live on the target side).
    * Replayed byte-for-byte by the oracle generator's parameterized
    * twin. */
  def fixtureUrl(kIn: Column, dIn: Column): Column = {
    val d = dIn
    val k = kIn
    def s(c: Column): Column = c.cast("string")
    val schemeBase = when(k % 2 === 0, "https").otherwise("http")
    val scheme = when(d % 4 < 2, schemeBase).otherwise(upper(schemeBase))
    val www = when(d % 3 === 0, "WWW.").when(d % 3 === 1, "www.")
      .otherwise("")
    val sub = when(k % 4 === 0, "m.").otherwise("")
    val brand = concat(lit("Brand"), s(k % 23))
    val tld = when(k % 5 === 0, ".CO.UK").when(k % 5 === 1, ".com.au")
      .otherwise(".COM")
    val corePort = when(k % 10 === 9, ":8080").otherwise("")
    val decoPort = when(corePort === "" && d % 5 === 0,
      when(schemeBase === "https", ":443").otherwise(":80")).otherwise("")
    val path = when(k % 11 === 0, "").otherwise(concat(lit("/p/"), s(k % 12)))
    val slash = when(d % 5 === 2 && path =!= "", "/").otherwise("")
    val keptQ = when(k % 3 === 0, concat(lit("id="), s(k % 50)))
      .when(k % 3 === 1, concat(lit("a=1&b="), s(k % 7)))
      .otherwise("")
    val trackPre = when(d % 4 === 0, "utm_source=feed").otherwise("")
    val trackPost = when(d % 4 === 1, "fbclid=abc&utm_campaign=x")
      .when(d % 4 === 3, "gclid=g1").otherwise("")
    val q = array_join(filter(array(trackPre, keptQ, trackPost),
      p => p =!= ""), "&")
    val query = when(q === "", "").otherwise(concat(lit("?"), q))
    val frag = when(d % 3 === 2, concat(lit("#sec"), s(d % 4)))
      .otherwise("")
    when(k === 124, lit("not a url"))
      .otherwise(concat(scheme, lit("://"), www, sub, brand, tld, corePort,
        decoPort, path, slash, query, frag))
  }
}
