package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID, quality
  * scoring, token counting, and winnowing-style document fingerprinting. All are
  * narrow per-document transforms (no shuffle except the fingerprint's per-document
  * window, which partitions on doc_id and so never skews), built from codegen'd
  * built-ins — no UDFs anywhere on this path.
  */
object TextStats {

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small and engine-neutral: the DuckDB oracle carries
    * the same lists, so keep them in lockstep with OracleSql. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def ws: Column = split(col("text"), " ")

  private def hits(words: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(words)))

  /** Language ID: argmax of per-language stopword hit counts (first language in
    * [[Stopwords]] order wins ties); `und` when no list scores at all. The score is
    * the winning hit ratio. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      (col("doc_id") +: Stopwords.map { case (l, stop) => hits(stop).as(s"s_$l") }
        :+ size(ws).as("n_tokens")): _*)
    val best = Stopwords.map { case (l, _) => col(s"s_$l") }.reduce((a, b) => greatest(a, b))
    // ties go to the FIRST matching language in Stopwords order
    val pickOrdered = Stopwords.reverse.foldLeft(lit("und")) { case (rest, (l, _)) =>
      when(col(s"s_$l") === best && best > 0, l).otherwise(rest)
    }
    scored.select(col("doc_id"), pickOrdered.as("predicted_lang"),
      round(best.cast("double") / col("n_tokens"), 6).as("stopword_ratio"))
  }

  /** Heuristic quality score in [0,1]: length component (saturates at 100 tokens)
    * plus stopword-density component (saturates at ratio 0.25). `passthrough`
    * columns ride along in the same narrow projection, so callers that need
    * them (e.g. per-domain selection) never join the corpus back to itself. */
  def quality(docs: DataFrame, passthrough: String*): DataFrame = {
    val nTokens = size(ws)
    val stopHits = hits(Stopwords.head._2)
    val lengthScore = least(nTokens.cast("double") / 100.0, lit(1.0))
    val stopScore = least(stopHits.cast("double") / nTokens * 4.0, lit(1.0))
    docs.select(col("doc_id") +: passthrough.map(col) :+ nTokens.as("n_tokens") :+
      length(col("text")).as("n_chars") :+
      round(lit(0.5) * lengthScore + lit(0.5) * stopScore, 6).as("quality"): _*)
  }

  /** BPE-ish tokenizer pattern: letter runs, digit runs, single other-symbols.
    * The whitespace exclusion is the explicit class of [[Privacy.WhitespaceClass]]
    * — never the `\s` shorthand, which Java (includes U+000B) and RE2/DuckDB
    * (excludes it) read differently; the x10 oracle interpolates this pattern
    * verbatim, so the shorthand would silently diverge the engines on
    * vertical-tab text (the exact class [[Privacy.messyTextFixture]] plants). */
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"

  /** Token counting: whitespace tokens, regex (BPE-ish) tokens, chars-per-token. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(ws).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(TokenPattern), lit(0))).as("bpe_tokens"),
      round(length(col("text")).cast("double") / size(ws), 6).as("chars_per_token"))

  /** Character classes for [[charClassEntropy]] — (column, regex) pairs,
    * counted in this order with `n_other` the remainder. Shared with the x43
    * oracle generator so the two cannot drift. */
  val EntropyClasses: Seq[(String, String)] = Seq(
    "n_lower" -> "[a-z]", "n_upper" -> "[A-Z]",
    "n_digit" -> "[0-9]", "n_space" -> "[ ]")

  /** Character-class entropy — the cheap gibberish/boilerplate detector:
    * Shannon entropy (bits) of the document's character distribution over
    * { lowercase, uppercase, digit, space, other }. Near-zero entropy means
    * a degenerate character diet (all digits, one repeated glyph — minified
    * data, dumps); healthy prose sits well above 1 bit. A standard cheap
    * quality signal alongside the Gopher-style gates (x32).
    *
    * Parity: each class count is `length(text) - length(regexp_replace(...))`
    * (identical in DuckDB with the 'g' flag); each `-p·log2 p` term is
    * rounded to 8 dp and DECIMAL-summed over the FIXED five-class order, so
    * the result is reproducible bit-for-bit (x19 pattern). Narrow, codegen'd,
    * zero shuffles at any corpus size. */
  def charClassEntropy(docs: DataFrame): DataFrame = {
    val n = length(col("text"))
    val counted = EntropyClasses.foldLeft(docs.select(col("doc_id"), col("text"))) {
      case (df, (name, re)) =>
        df.withColumn(name, n - length(regexp_replace(col("text"), re, "")))
    }.withColumn("n_other",
      n - EntropyClasses.map(c => col(c._1)).reduce(_ + _))
    val classes = EntropyClasses.map(_._1) :+ "n_other"
    def term(c: Column): Column = when(c > 0,
        round(-(c.cast("double") / n) * log2(c.cast("double") / n), 8))
      .otherwise(lit(0.0)).cast("decimal(12,8)")
    counted.select(col("doc_id") +: classes.map(col) :+
      classes.map(c => term(col(c))).reduce(_ + _)
        .cast("double").as("entropy_bits"): _*)
  }

  /** Stopword scrub — the text-normalization step every training corpus runs
    * before tokenization: drop stopwords (the union of all [[Stopwords]] lists),
    * re-join with single spaces, and report how much was removed. Narrow,
    * codegen'd, no shuffle; at 100 TB this runs inside the same scan as the
    * other per-document transforms. */
  def stopwordScrub(docs: DataFrame): DataFrame = {
    val all = Stopwords.flatMap(_._2)
    val kept = filter(ws, w => !w.isInCollection(all))
    docs.select(col("doc_id"),
      (size(ws) - size(kept)).as("n_removed"),
      array_join(kept, " ").as("clean_text"))
  }

  /** Corpus vocabulary — the frequency-count step of tokenizer training: the
    * `topK` tokens by global occurrence count (ties to the lexicographically
    * smaller token), with document frequency alongside. One explode + one
    * hash-aggregate (map-side partial), then a bounded TakeOrdered — the
    * full vocabulary never sorts globally. */
  def vocabulary(docs: DataFrame, topK: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(ws).as("w"))
      .groupBy(col("w").as("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(topK)

  /** Unigram log-probability scoring — the language-model quality filter run
    * over pretraining corpora: train unigram frequencies on the corpus itself,
    * then score each document by the sum of per-token `log10 p(w)` (higher =
    * more typical). Each token's log-prob is rounded to 8 dp and summed in
    * DECIMAL, which is associative — a raw double sum would depend on Spark's
    * partial-aggregation order and could never hash-match the oracle. Scale
    * shape: the unigram table aggregates map-side; the score join is keyed on
    * the token; the one-row total broadcasts. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(ws).as("w"))
    val counts = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    tok.join(counts, "w").crossJoin(broadcast(total))
      .withColumn("lp",
        round(log10(col("cnt") / col("total")), 8).cast("decimal(12,8)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lp")).cast("double").as("sum_logprob"))
  }

  /** Repetition statistics — the Gopher-style (Rae et al., 2021 shape)
    * intra-document repetition signals used to filter machine-generated or
    * boilerplate text from training corpora, adapted to token level (the corpus
    * is single-space tokenized, so line-based variants are degenerate):
    * the most-frequent-token share, and the fraction of 2-gram/3-gram positions
    * occupied by a repeated n-gram. Scale shape: the token histogram is two
    * hash-aggregates with map-side partials keyed by (doc_id, token) then
    * doc_id — no skew beyond a single document's vocabulary; the n-gram
    * distinct counts are narrow per-document expressions ([[graft.functions.NGramShingles]]
    * emits the distinct set in one compiled pass), joined back on doc_id. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val top = docs.select(col("doc_id"), explode(ws).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"))
    // n_tokens comes from the narrow projection (= size(ws) by definition),
    // not a histogram sum — one less aggregate column
    val grams = docs.select(col("doc_id"),
      size(ws).as("n"),
      size(graft.functions.NGramShingles(ws, 2)).as("d2"),
      size(graft.functions.NGramShingles(ws, 3)).as("d3"))
    def dupFrac(minTokens: Int, total: Column, distinct: Column): Column =
      when(col("n") >= minTokens,
        round((total - distinct).cast("double") / total, 6)).otherwise(0.0)
    top.join(grams, "doc_id")
      .select(col("doc_id"), col("n").as("n_tokens"),
        round(col("top_c").cast("double") / col("n"), 6)
          .as("top_token_frac"),
        dupFrac(2, col("n") - 1, col("d2")).as("dup_2gram_frac"),
        dupFrac(3, col("n") - 2, col("d3")).as("dup_3gram_frac"))
  }

  /** Bigram LM scoring — the next rung of the LM quality-filter ladder above
    * [[unigramLogProb]]: score each document by the sum of per-bigram
    * conditional log-probs `log10 p(w2 | w1)` under corpus-trained MLE
    * (`c(w1 w2) / c(w1 ·)`), the perplexity-style filter pretraining pipelines
    * run (CCNet shape). Same order-independence trick as x19: each term is
    * rounded to 8 dp then DECIMAL-summed, so aggregation order cannot break
    * oracle parity. Documents with fewer than two tokens have no bigrams and
    * are absent. Scale shape: both count tables aggregate map-side; the score
    * joins are keyed on the bigram then its prefix — the standard LM-training
    * shuffles, nothing quadratic. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    // materialize the token array ONCE per row before the transform —
    // element_at(split(text), i) inside the lambda would re-split the text on
    // EVERY element access, turning the bigram build quadratic per document
    val pairs = "CASE WHEN size(ws) >= 2 THEN " +
      "transform(sequence(1, size(ws) - 1), " +
      "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
    val bi = docs.select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), explode(expr(pairs)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("lp",
        round(log10(col("c12") / col("c1")), 8).cast("decimal(12,8)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lp")).cast("double").as("sum_logprob"))
  }

  /** Floor/size for [[pmiCollocations]]'s driver query — shared with the x36
    * oracle generator so the two cannot drift. */
  val PmiMinPairCount: Int = 5
  val PmiTopK: Int = 20

  /** PMI collocations — the corpus-level companion to [[bigramLogProb]]: the
    * `k` adjacent token pairs most over-represented relative to independence,
    * `PMI(w1,w2) = ln( p(w1 w2) / (p(w1) p(w2)) )` under corpus MLE, with a
    * minimum pair count so rare coincidences can't dominate (Church & Hanks'
    * association-ratio shape). This is the vocabulary/tokenizer-audit report:
    * which multi-word units behave as single tokens.
    *
    * Parity: the ratio is computed in ONE double expression with the same
    * association order as the oracle SQL — IEEE div/mul are exactly
    * specified, so the `ln` argument is bit-identical; `ln` itself may differ
    * in the last ulp between runtimes, which the 6-dp round absorbs (same
    * assumption as every rounded-double oracle here). Ranking uses the
    * ROUNDED value with a (w1, w2) tiebreak, so order is engine-independent.
    *
    * Scale shape: both count tables aggregate map-side; the two per-word
    * joins are keyed on vocabulary-sized tables (shuffle, not broadcast — a
    * 100 TB corpus's vocabulary need not fit on one executor); the one-row
    * totals broadcast; the top-k is a bounded TakeOrdered, never a global
    * sort materialization. */
  def pmiCollocations(docs: DataFrame, minCount: Int = PmiMinPairCount,
      k: Int = PmiTopK): DataFrame = {
    // same materialize-the-array-first bigram build as bigramLogProb — an
    // element_at(split(...)) lambda would re-split per element (quadratic)
    val pairs = "CASE WHEN size(ws) >= 2 THEN " +
      "transform(sequence(1, size(ws) - 1), " +
      "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END"
    val bi = docs.select(ws.as("ws"))
      .select(explode(expr(pairs)).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cu = docs.select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val c12 = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
    val nUni = cu.agg(sum(col("cu")).cast("double").as("n_uni"))
    val nBi = c12.agg(sum(col("pair_count")).cast("double").as("n_bi"))
    c12.filter(col("pair_count") >= minCount)
      .join(cu.select(col("w").as("w1"), col("cu").as("cu1")), "w1")
      .join(cu.select(col("w").as("w2"), col("cu").as("cu2")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("pmi", round(log(
        (col("pair_count").cast("double") / col("n_bi")) /
          ((col("cu1").cast("double") / col("n_uni")) *
            (col("cu2").cast("double") / col("n_uni")))), 6))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("pair_count"), col("pmi"))
  }

  /** The target-domain sources for [[importanceWeights]]'s driver query —
    * shared with the x30 oracle generator so the two cannot drift. */
  val DsirTargetSources: Seq[String] =
    Seq("src0", "src1", "src2", "src3", "src4")

  /** md5-prefix feature hash shared by every hashed-feature op (x30's DSIR
    * bigrams, x76's classifier unigrams — [[graft.corpus.Classifier]]): first
    * 4 hex nibbles of md5, mod `buckets`. ONE definition on the engine side
    * because the engine/oracle parity of this idiom is load-bearing — the
    * oracle generators reproduce it nibble-by-nibble in SQL, and x30/x76
    * score comparability depends on both ops hashing identically. */
  private[corpus] def hashBucket(c: Column, buckets: Int): Column =
    pmod(conv(substring(md5(c), 1, 4), 16, 10).cast("int"), lit(buckets))

  /** Hashed-n-gram importance weighting — the DSIR shape (Xie et al., 2023):
    * score every document by how much its hashed-bigram distribution looks
    * like a TARGET domain versus the raw corpus. Each bigram hashes into one
    * of `buckets` buckets (md5-prefix, engine-neutral); per bucket the
    * Laplace-smoothed log-likelihood ratio
    * `log10( (ct+1)/(tt+B) / ((cr+1)/(tr+B)) )` is computed once, and a
    * document's score is the sum of its bigram occurrences' bucket ratios —
    * the importance weight a resampling pass feeds to weighted selection.
    * Parity: each ratio is rounded to 8 dp then DECIMAL-summed (x19's
    * order-independence trick); the ratio arithmetic is written as the
    * identical double-op sequence in the oracle SQL.
    *
    * Scale shape: the bucket table is `buckets` rows no matter the corpus size
    * — it aggregates map-side and BROADCASTS back to the occurrence stream, so
    * the only corpus-sized shuffle is the final per-document sum. That
    * hashed-fixed-width side table is the entire point of DSIR: the n-gram
    * vocabulary never materializes. The corpus totals (`tr`, `tt`) come from
    * an UNPARTITIONED window over the bucket table, not a separate aggregate:
    * a second aggregate branch would reference the bucket subtree twice and
    * Spark would recompute it — a whole extra corpus pass (observed in the
    * physical plan); the window costs one single-partition exchange of
    * `buckets` rows, bounded by construction. Exactly TWO corpus passes total
    * (bucket counts + the score join), the minimum for a two-sided frequency
    * model. Docs with fewer than two tokens have no bigrams and are absent. */
  def importanceWeights(docs: DataFrame,
      targetSources: Seq[String] = DsirTargetSources,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0 && buckets <= 65536, "bucket hash reads 4 hex digits")
    val pairs = "CASE WHEN size(ws) >= 2 THEN " +
      "transform(sequence(1, size(ws) - 1), " +
      "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END"
    val occ = docs.select(col("doc_id"), col("source"), ws.as("ws"))
      .select(col("doc_id"), col("source"), explode(expr(pairs)).as("bg"))
      .select(col("doc_id"), col("source"),
        hashBucket(col("bg"), buckets).as("b"))
    val byBucket = occ.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("source").isInCollection(targetSources), 1L).otherwise(0L))
        .as("ct"))
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lr = byBucket
      .withColumn("tr", sum(col("cr")).over(all))
      .withColumn("tt", sum(col("ct")).over(all))
      .select(col("b"),
        round(log10(
          ((col("ct") + 1).cast("double") / (col("tt") + buckets).cast("double"))
            / ((col("cr") + 1).cast("double")
              / (col("tr") + buckets).cast("double"))), 8)
          .cast("decimal(12,8)").as("lr"))
    occ.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("lr")).cast("double").as("dsir_score"))
  }

  /** Rule thresholds for [[qualityGate]] — shared with the x32 oracle
    * generator so the two cannot drift. The shapes are the Gopher-style
    * (Rae et al., 2021) document-level heuristics, tuned loose: the gate
    * REPORTS per-rule outcomes, it does not silently drop. */
  val GateMinTokens = 5
  val GateMaxTokens = 100000
  val GateMinCharsPerToken = 2.0
  val GateMaxCharsPerToken = 12.0
  val GateMinStopwordHits = 1
  val GateMinAlphaFrac = 0.6

  /** Quality-gate rules report — the Gopher-shape rule filter every
    * pretraining corpus runs: per document, one 0/1 flag per rule (token-count
    * range, mean chars-per-token range, English-stopword presence,
    * alphabetic-token fraction) plus the conjunctive `keep` decision. Flags
    * are REPORTED per rule rather than pre-folded so downstream audits can
    * see WHY a document failed. Narrow, zero shuffles at any corpus size —
    * every signal is a per-document expression. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val nTokens = size(ws)
    val cpt = length(col("text")).cast("double") / nTokens
    val stopHits = hits(Stopwords.head._2)
    val alphaFrac =
      size(filter(ws, w => w.rlike("[a-z]"))).cast("double") / nTokens
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    val cLen = nTokens >= GateMinTokens && nTokens <= GateMaxTokens
    val cCpt = cpt >= GateMinCharsPerToken && cpt <= GateMaxCharsPerToken
    val cStop = stopHits >= GateMinStopwordHits
    val cAlpha = alphaFrac >= GateMinAlphaFrac
    docs.select(col("doc_id"), nTokens.as("n_tokens"),
      flag(cLen).as("r_len"), flag(cCpt).as("r_token_len"),
      flag(cStop).as("r_stopwords"), flag(cAlpha).as("r_alpha"),
      flag(cLen && cCpt && cStop && cAlpha).as("keep"))
  }

  /** TF-IDF keyword extraction — the `k` most distinctive tokens per document
    * (classic tf·idf with `idf = log10(N/df)`), the corpus-exploration /
    * topic-hint step of a curation pipeline. Scores are rounded to 6 dp BEFORE
    * ranking so the (score desc, token asc) order is identical on both engines
    * — ranking on raw doubles would let a last-ulp `log10` difference flip
    * neighbors. Scale shape: document frequency is derived from the tf table
    * itself (one row per (doc, token) — no second corpus pass, and a plain
    * `count` instead of a `countDistinct` expand); the one-row corpus count
    * broadcasts; the final window partitions on doc_id, so no cross-document
    * skew. */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(ws).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "w").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w").as("token"),
        round(col("tf") * log10(col("n") / col("df")), 6).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("token"))))
      .filter(col("rank") <= k)
  }

  /** Winnowing-style fingerprint (Schleimer et al., SIGMOD'03 shape): hash every
    * char k-gram, slide a window of `w` positions, keep each window's minimum —
    * the selected set is the document sketch. Emits its size and lexicographic min
    * per document. md5 keeps it oracle-reproducible. The sketch is a per-document
    * scalar, so it's computed in one compiled pass with ZERO shuffles — see
    * [[graft.functions.WinnowSketch]] (the previous posexplode → window-min →
    * groupBy shape shuffled one row per character-gram). */
  def winnowFingerprint(docs: DataFrame, k: Int = 5, w: Int = 8): DataFrame =
    // the no-sketch condition is filtered on the INPUT (kernel contract:
    // NULL iff text is NULL or shorter than k code points; length() counts
    // the same code points) — filtering on `s.isNotNull` pushed the whole
    // sketch expression below any upstream exchange as a scan-side Filter
    // and re-evaluated the 3M-md5 kernel in the scan's (single-task at
    // local SF) stage: measured 1.9 s → 0.4 s at sf0.1
    docs.filter(col("text").isNotNull && length(col("text")) >= k)
      .select(col("doc_id"),
        graft.functions.WinnowSketch(col("text"), k, w).as("s"))
      .select(col("doc_id"), col("s.n_fingerprints").as("n_fingerprints"),
        col("s.min_fingerprint").as("min_fingerprint"))

  /** Candidate merges reported by [[bpePairCounts]] — shared with the x61
    * oracle generator so the two cannot drift. */
  val BpeTopK: Int = 20

  /** X61 — BPE merge-pair statistics: corpus-weighted counts of adjacent
    * character pairs within whitespace words, the selection statistic of the
    * FIRST byte-pair-encoding merge (Sennrich et al., 2016 shape — iteration
    * 0 symbols are single characters; later iterations re-run this kernel
    * over re-segmented words, so this IS the inner loop of tokenizer
    * training). Emits the top-`topK` candidate merges by
    * (count desc, pair lexicographic) — x18's vocabulary contract on pairs.
    *
    * Scale: the ONLY corpus-sized motion is the word-frequency aggregate
    * (map-side partial, one row per distinct word out); pair generation —
    * the explode-per-character part that would be ruinous on the raw corpus
    * — runs on the DISTINCT-word table (vocabulary-sized, Heaps-sublinear in
    * the corpus) with each word's pairs weighted by its frequency. The final
    * pair aggregate is alphabet²-bounded and the top-k is a bounded
    * TakeOrdered, never a global sort. */
  def bpePairCounts(docs: DataFrame, topK: Int = BpeTopK): DataFrame = {
    val wf = docs.select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    wf.filter(length(col("w")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => struct(col("w").substr(i, lit(1)).as("l"),
          col("w").substr(i + 1, lit(1)).as("r")))).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("left_sym"), col("right_sym"))
      .limit(topK)
  }

  /** One greedy left-to-right merge pass of pair (l, r) over a symbol array
    * (Sennrich et al.'s `merge_vocab`): fold the symbols, fusing `x` into
    * the accumulator's last element when they form the pair. A freshly
    * merged symbol is `l+r`, which can never equal `l` (it is strictly
    * longer), so the fold is exactly the non-overlapping left-to-right
    * scan — "aaa" under (a,a) becomes [aa, a], never [aa, aa] or [a, aa].
    * `get` (not `element_at`) keeps the empty-accumulator probe NULL-safe
    * under ANSI mode. */
  private def mergePass(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Corpus-weighted adjacent-pair counts over symbol-array words — the
    * mid-training generalization of [[bpePairCounts]]'s character kernel. */
  private def symPairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(get(col("syms"), i).as("l"),
          get(col("syms"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("freq")).as("n_occurrences"))

  /** Merge-list length for the x81 driver query — shared with the oracle
    * generator (which replays training round-for-round as chained
    * materialized CTEs) so the two cannot drift. */
  val BpeDefaultMerges: Int = 8

  /** Distinct-word count at or below which [[trainBpe]] collects the
    * vocabulary and trains driver-side (2 jobs total) instead of one
    * cluster job per merge round. 2¹⁷ rows of (short symbol array, long)
    * is a few MB of driver heap — the bounded-artifact envelope every
    * centroid/codebook collect here already assumes. */
  val BpeLocalVocabCap: Long = 1L << 17

  /** Driver-side twin of the distributed training loop — SAME argmax
    * (count desc, then pair by unsigned UTF-8 byte order) and SAME
    * left-to-right merge pass, on the collected vocabulary. */
  private def trainBpeLocal(words0: Array[(Array[String], Long)],
      numMerges: Int): Seq[(String, String, Long)] = {
    // unsigned UTF-8 byte order = Spark's UTF8String binary compare
    def u8lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (u8lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && u8lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((l, r), n) = best
        merges += ((l, r, n))
        // the distributed mergePass verbatim: walk left to right, merging
        // (l, r) when the accumulated tail is l — a merged l+r becomes the
        // tail, so overlapping occurrences never double-merge
        words = words.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (out.nonEmpty && out.last == l && syms(i) == r)
              out(out.length - 1) = l + r
            else out += syms(i)
            i += 1
          }
          (out.toArray, f)
        }
      }
      round += 1
    }
    merges.toSeq
  }

  /** Full BPE merge-list training (Sennrich et al., 2016): `numMerges`
    * rounds of count-pairs → adopt the argmax (count desc, pair
    * lexicographic — fully deterministic) → re-segment. Returns the ordered
    * merge list `(left, right, pair_count)` — THE tokenizer artifact a
    * training pipeline persists; [[bpePairCounts]] is round 0 of this loop
    * and [[applyBpe]] replays the list over a corpus. Training stops early
    * when no pair remains.
    *
    * Scale: every round touches ONLY the distinct-word table (built once
    * from the corpus by the one map-side-partial aggregate, then
    * `localCheckpoint`ed so round r+1 re-reads materialized blocks instead
    * of re-running r rounds of lineage); the driver holds one argmax row
    * per round. The corpus itself is scanned exactly once regardless of
    * `numMerges`. */
  def trainBpe(docs: DataFrame, numMerges: Int = BpeDefaultMerges,
      localVocabCap: Long = BpeLocalVocabCap): Seq[(String, String, Long)] = {
    // x20's checkpoint hygiene: lazy checkpoints (the round's argmax is the
    // materializing action — one Spark job per round), each superseded
    // round's blocks freed through its RDD as soon as the NEXT round has
    // materialized on top of them (never before: the lineage is truncated),
    // so at most two vocab tables are ever held regardless of numMerges
    def ckRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.getOrElse(throw new IllegalStateException(
        "localCheckpoint no longer yields a bare LogicalRDD plan — " +
          "trainBpe's per-round checkpoint release needs re-wiring"))
    // consecutive separators make split() emit empty tokens; an empty "word"
    // has no characters and must not reach the symbol table (split("", "")
    // would yield [""] — a phantom empty SYMBOL the merge arithmetic and the
    // spec's reference implementation rightly never see)
    var words = docs.select(explode(ws).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .localCheckpoint(false)
    var wordsRdd = ckRdd(words)
    // SMALL-VOCAB fast path (r20): the training loop only ever touches the
    // distinct-WORD table, and each round is one whole-cluster job over it
    // — 9 serial job round-trips at 8 merges, ~1 s of pure scheduling when
    // the table is tiny (the bench corpus has 31 distinct words). When the
    // materialized vocabulary fits the driver comfortably, collect it once
    // and run the identical argmax/merge arithmetic in memory: 2 jobs
    // (count + collect) regardless of numMerges. Ties break by UNSIGNED
    // UTF-8 byte order — exactly Spark's string ordering (UTF8String
    // binary compare), NOT java.lang.String's UTF-16 order, so the local
    // argmax can never pick a different pair (referee-pinned equality on
    // random corpora incl. a forced-distributed run, RetrievalSpec). At a
    // real corpus's vocabulary (≥ millions) the distributed loop below
    // runs unchanged. The count stops at localVocabCap + 1 words: the
    // branch needs no more, and a large vocabulary is never counted in full.
    val nWords =
      words.limit(math.min(localVocabCap, Int.MaxValue - 1L).toInt + 1).count()
    if (nWords <= localVocabCap) {
      val local = words.collect().map(r =>
        (r.getSeq[String](0).toArray, r.getLong(1)))
      wordsRdd.unpersist(false)
      return trainBpeLocal(local, numMerges)
    }
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    try {
      for (_ <- 0 until numMerges if !exhausted) {
        val top = symPairCounts(words)
          .orderBy(col("n_occurrences").desc, col("left_sym"), col("right_sym"))
          .limit(1).collect()
        // `words` is materialized now; the round it superseded can go
        prevRdd.foreach(_.unpersist(false)); prevRdd = None
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, n) = (top.head.getString(0), top.head.getString(1),
            top.head.getLong(2))
          merges += ((l, r, n))
          val next = words
            .select(mergePass(col("syms"), l, r).as("syms"), col("freq"))
            .localCheckpoint(false)
          prevRdd = Some(wordsRdd)
          words = next
          wordsRdd = ckRdd(next)
        }
      }
    } finally {
      prevRdd.foreach(_.unpersist(false))
      wordsRdd.unpersist(false)
    }
    merges.toSeq
  }

  /** Segment a corpus with a trained merge list: per whitespace word, start
    * from characters and replay every merge in training order (the standard
    * BPE inference shape for a bounded merge list). Emits per document the
    * original token count, the subword count, and the space-joined subword
    * rendering (flat string — array columns don't sort in report sinks).
    * Narrow and stateless — ONE projection, no explode/shuffle — so it
    * composes onto streams; per-row cost is \|merges\| fold passes over each
    * word's symbols (the merge list is a bounded artifact, constant in the
    * corpus), run inside the codegen'd [[graft.functions.BpeSegment]]
    * kernel — the declarative `transform`+`aggregate` chain it replaces
    * evaluated every fold as an INTERPRETED lambda (CodegenFallback),
    * measured 8.9 s vs ~0.3 s over the sf0.1 corpus at 8 merges. */
  def applyBpe(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.BpeSegment(col("text"), merges).as("s"))
      .select(col("doc_id"), col("s.n_tokens").as("n_tokens"),
        col("s.n_subwords").as("n_subwords"),
        col("s.subword_text").as("subword_text"))

  /** X88 — tokenizer fertility report: per (lang, source), how well the
    * corpus-trained BPE tokenizer ([[trainBpe]] + [[applyBpe]]) fits each
    * slice of the mix — `chars_per_token` (compression; LOW for slices the
    * merges never learned, e.g. an under-represented language) and
    * `tokens_per_word` (fragmentation; HIGH for the same slices). The
    * standard multilingual-tokenizer audit: fertility disparities translate
    * directly into per-language training-cost and context-budget
    * disparities, so mixing decisions read this table next to x49's card.
    * NULL-text docs join with NULL stats and drop out of every sum; ratio
    * columns are NULL for slices with nothing to divide by.
    *
    * Scale shape: training touches only the distinct-word table (the
    * [[trainBpe]] contract — corpus scanned once regardless of rounds);
    * the application pass is one narrow codegen'd projection
    * (`functions.BpeSegment`); the report is one map-side-partial aggregate
    * keyed on (lang, source). Ratios are EXACT integer half-up micro-unit
    * divisions computed on the aggregated sums in DECIMAL — `2·10⁶ ×
    * sum(chars)` overflows a BIGINT near 10¹³ chars per slice, which a
    * 100 TB corpus reaches (the x78 rational-tie discipline plus the
    * widening the envelope needs; the oracle mirrors it in HUGEINT). */
  def tokenizerFertility(docs: DataFrame,
      numMerges: Int = BpeDefaultMerges): DataFrame =
    fertilityAgainst(docs, trainBpe(docs, numMerges).map(t => (t._1, t._2)))

  /** [[tokenizerFertility]]'s aggregate under a GIVEN (frozen) merge list —
    * the deployment shape, where the tokenizer is trained once and every
    * corpus slice is audited against it. One narrow projection (length/
    * lang/source ride the SAME pass as the segment kernel — a join back on
    * doc_id would be a corpus-sized sort-merge join for values computable
    * in place) + one map-side-partial aggregate. */
  def fertilityAgainst(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    def microRatio(a: String, b: String): Column =
      when(col(b) > 0,
        expr(s"(cast(2000000 as decimal(38,0)) * $a + $b) div (2 * $b)")
          .cast("double") / 1e6)
    docs.select(col("lang"), col("source"), length(col("text")).as("nc"),
        graft.functions.BpeSegment(col("text"), merges).as("s"))
      .groupBy(col("lang"), col("source"))
      .agg(count(col("nc")).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("s.n_tokens")).as("n_words"),
        sum(col("s.n_subwords")).as("n_subwords"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars"),
        col("n_words"), col("n_subwords"),
        microRatio("n_chars", "n_subwords").as("chars_per_token"),
        microRatio("n_subwords", "n_words").as("tokens_per_word"))
  }

  /** X91 — tokenizer-fertility drift: the x88 audit's incremental twin
    * (the x53/x56/x57 drift discipline applied to the tokenizer plane).
    * The tokenizer is FROZEN — `merges` trained once on a reference
    * snapshot — and arriving data's per-(lang, source) fertility under it
    * is compared against the reference baseline: a slice whose
    * chars-per-token FALLS (or tokens-per-word climbs) is drifting away
    * from the vocabulary the tokenizer learned, the signal to retrain
    * before training-cost and context-budget disparities set in. Slices
    * present on only one side carry NULL opposite-side stats and NULL
    * deltas (never dropped — a NEW language appearing is precisely the
    * event to surface). Deltas subtract the exact micro-ratio doubles, so
    * both engines compute identical values.
    *
    * Scale shape: two [[fertilityAgainst]] passes (each one narrow
    * projection + one map-side-partial aggregate) and a FULL OUTER join of
    * two slice-cardinality frames — nothing corpus-sized moves. */
  def fertilityDrift(newDocs: DataFrame, refDocs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val n = fertilityAgainst(newDocs, merges)
      .select(col("lang"), col("source"), col("n_docs").as("n_docs_new"),
        col("chars_per_token").as("chars_per_token_new"),
        col("tokens_per_word").as("tokens_per_word_new"))
    val r = fertilityAgainst(refDocs, merges)
      .select(col("lang"), col("source"), col("n_docs").as("n_docs_ref"),
        col("chars_per_token").as("chars_per_token_ref"),
        col("tokens_per_word").as("tokens_per_word_ref"))
    n.join(r, Seq("lang", "source"), "full_outer")
      .select(col("lang"), col("source"),
        col("n_docs_new"), col("n_docs_ref"),
        col("chars_per_token_new"), col("chars_per_token_ref"),
        (col("chars_per_token_new") - col("chars_per_token_ref"))
          .as("delta_chars_per_token"),
        col("tokens_per_word_new"), col("tokens_per_word_ref"),
        (col("tokens_per_word_new") - col("tokens_per_word_ref"))
          .as("delta_tokens_per_word"))
  }
}
