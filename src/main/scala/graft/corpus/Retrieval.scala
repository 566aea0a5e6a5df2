package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Lexical retrieval over the corpus: Okapi BM25 top-k ranking of corpus
  * documents against a bounded query set. The retrieval twin of the embedding
  * plane's [[Similarity.cosineTopK]] — together they are the two halves of a
  * hybrid (lexical + semantic) retrieval stack, and BM25 is also the standard
  * relevance filter a training-data pipeline runs to mine task-relevant
  * documents out of a web crawl (quality-targeted selection à la importance
  * sampling, but query-driven).
  *
  * Scale design (the part that must survive 100 TB): the query set is bounded
  * by construction (an eval suite, a task description sheet, a handful of
  * seed documents — X22's broadcast justification), so it is collected to
  * the driver and enters every plan as literals. The corpus pass counts each
  * document's term frequencies inside its own row and keeps only the sheet
  * vocabulary's terms, in one kernel pass over its tokens ([[termFreqs]]),
  * BEFORE any shuffle — the document-frequency window and the per-document
  * score aggregate operate on the ~|query-vocab| slice of the postings,
  * never the full corpus token stream. The only corpus-sized work is that
  * narrow tokenize + count projection; the corpus statistics (N, avgdl)
  * are observed on the same narrow scan that reads the sheet
  * ([[queryScan]]) and enter the scoring pass as two literals. Nothing is
  * quadratic in the corpus; candidate fan-out is
  * bounded by how many documents share a query term (the classic
  * inverted-index posting-list bound).
  *
  * Determinism / oracle parity: per-term BM25 contributions are rounded to
  * 6 dp then DECIMAL-summed (x19's order-independence trick), so the two
  * engines' aggregation orders cannot produce different scores; ranking ties
  * break on doc_id. All constants are interpolated into the oracle SQL from
  * the Scala values below (Double.toString round-trips bit-exactly), so the
  * engines cannot drift on e.g. `k1 + 1`.
  */
object Retrieval {

  /** Query slice: the first [[QueryCount]] documents with doc_id % QueryMod
    * == 0 play the query set, everything else is the searched corpus (X22's
    * slice convention, BOUNDED). The cap is semantic, not cosmetic: a query
    * sheet is a fixed eval artifact — growing the corpus must grow the
    * postings searched, never the number of queries — so retrieval work
    * scales with the corpus, linearly, at a fixed query budget. */
  val QueryMod: Long = 50L

  /** Fixed query-sheet size (see [[QueryMod]]). */
  val QueryCount: Long = 32L

  /** Okapi BM25 term-saturation constant. */
  val BM25K1: Double = 1.2

  /** Okapi BM25 length-normalization constant. */
  val BM25B: Double = 0.75

  /** Results per query. */
  val DefaultTopK: Int = 5

  /** Query-sheet size of the x65 INGEST-GATE driver query (and any
    * deployment sizing guidance): the gate evaluates its whole sheet per
    * ROW as one scalar expression — the right tool for a task-targeted
    * sheet of a handful of queries, not the full retrieval eval suite
    * (per-row cost is Σ_q \|q terms\| token scans, and past a few hundred
    * sheet terms the batch [[bm25TopKAgainst]] probe is the better shape;
    * measured: 32 queries × ~30 dense terms cost 1.6 ms/row). */
  val GateQueryCount: Long = 8L

  // pre-computed in Scala so the oracle interpolates the SAME doubles
  private[graft] val K1Plus1: Double = BM25K1 + 1.0
  private[graft] val OneMinusB: Double = 1.0 - BM25B

  private def ws: Column = split(col("text"), " ")

  /** Membership predicate of the bounded query sheet (see [[QueryMod]]). */
  def querySheetCol(queryMod: Long = QueryMod): Column =
    col("doc_id") % queryMod === 0 && col("doc_id") < queryMod * QueryCount

  /** A document's token count; NULL for NULL text. */
  private def docLen: Column = size(ws)

  /** One-row corpus statistics: document count and average doc length as
    * `sum(dl)/count(*)` over exact integer sums — written out explicitly,
    * NOT `avg`, to stay in lockstep with the oracle's
    * `CAST(SUM(len) AS DOUBLE)/COUNT(*)`: `avg` skips NULL lengths in its
    * denominator (a NULL-text document would shift avgdl between the
    * engines) and accumulates integral input in DOUBLE rather than summing
    * exactly first. [[bm25Index]] denormalizes it onto every index row; the
    * self-contained passes observe the same two sums on their query-side
    * scan instead ([[queryScan]]). */
  private[corpus] def corpusStats(corpus: DataFrame): DataFrame =
    corpus.select(docLen.as("dl"))
      .agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

  /** A query sheet: per query, its (term, weight) pairs. */
  private[corpus] type Sheet = Seq[(Long, Seq[(String, Long)])]

  /** One collected [[termFreqs]] row: `(doc_id, dl, w, tf)`. */
  private[corpus] final case class TermRow(docId: Long, dl: Int, w: String,
      tf: Long)

  /** Collect a frame of [[termFreqs]]' columns, in its column order. */
  private def collectTerms(tf: DataFrame): Seq[TermRow] =
    tf.collect()
      .map(r => TermRow(r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSeq

  /** The query documents' term rows, unpruned: the one driver read every
    * sheet consumer shares — the weight-1 sheet ([[sheetOf]]), RM3's
    * original-query weights and [[bm25Model]]'s terms. One narrow job: a
    * query sheet is definitionally sheet-sized (a corpus-scale "sheet" is
    * a join, not a sheet, and belongs on [[bm25TopKAgainst]]'s corpus
    * side). */
  private def queryTerms(queryDocs: DataFrame): Seq[TermRow] =
    collectTerms(termFreqs(queryDocs, None))

  /** The self-contained passes' query side, in ONE narrow job over `docs`:
    * the [[queryTerms]] of the rows `isQuery` keeps, and the corpus
    * statistics of the rest, observed on the same scan — N = their count,
    * avgdl = Σdl / N with Σdl the exact integer sum of [[docLen]], the
    * [[corpusStats]] arithmetic (a NULL-text row counts in N, not in Σdl).
    * The stats are absent where [[corpusStats]]'s avgdl is NULL: N = 0, or
    * every corpus row has NULL text.
    *
    * Precondition, checked: the observed node runs in the collect's result
    * stage, with no exchange above it. Spark applies an accumulator update
    * exactly once only in a result stage; a retried task or stage of a map
    * stage would count its partition again. */
  private[corpus] def queryScan(docs: DataFrame, isQuery: Column)
      : (Seq[TermRow], Option[(Long, Double)]) = {
    val name = "retrieval_corpus_stats"
    val tf = termFreqs(docs.observe(name, count(when(!isQuery, 1)),
      sum(when(!isQuery, docLen))).filter(isQuery), None)
    val rows = collectTerms(tf)
    val qe = tf.queryExecution
    val above = PlanWalk.collect(qe.executedPlan) {
      case e: Exchange
          if PlanWalk.find(e)(_.isInstanceOf[CollectMetricsExec]).isDefined => e
    }
    if (above.nonEmpty) throw new IllegalStateException(
      s"queryScan: the corpus statistics were observed below an exchange, " +
        s"where a stage retry would count a partition twice:\n${qe.executedPlan}")
    val m = qe.observedMetrics(name)
    val n = m.getLong(0)
    (rows, if (n == 0L || m.isNullAt(1)) None
      else Some((n, m.getLong(1).toDouble / n.toDouble)))
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The weight-1 sheet of a query side: per query, its distinct terms
    * (bag-of-words: a repeated term counts once). A query `doc_id` held by
    * several rows pools their terms. */
  private def sheetOf(terms: Seq[TermRow]): Sheet =
    terms.groupBy(_.docId).toSeq.sortBy(_._1)
      .map { case (q, ts) => q -> ts.map(_.w).distinct.map(_ -> 1L) }

  /** BM25 top-`k` corpus documents for each query document.
    *
    * Query q's terms are its DISTINCT whitespace tokens (bag-of-words queries
    * count a repeated term once — the standard short-query convention; the
    * corpus side's tf still counts every occurrence). Scores:
    *
    *   idf(w)  = ln((N - df + 0.5) / (df + 0.5) + 1)          [Lucene shape,
    *             always positive — no negative-idf common terms]
    *   s(q,d)  = Σ_w round(idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)), 6)
    *
    * Output: (query_id, doc_id, n_terms, score, rank), rank 1..k per query by
    * (score desc, doc_id asc); queries whose terms match nothing emit no rows.
    *
    * Construction runs one Spark action, [[queryScan]]: the query sheet and
    * the corpus statistics (N, avgdl) in one narrow job. The returned frame
    * is the scoring pass only, with both frozen into it as literals:
    * EAGER-SNAPSHOT semantics (the [[rm3TopK]] contract) — if `docs`
    * changes after construction, the pass scores the new corpus against
    * the old sheet and the old N/avgdl.
    */
  def bm25TopK(docs: DataFrame, queryMod: Long = QueryMod,
      k: Int = DefaultTopK): DataFrame = {
    val isQuery = querySheetCol(queryMod)
    val (qterms, stats) = queryScan(docs, isQuery)
    bm25TopKOn(docs.filter(!isQuery), sheetOf(qterms), k, stats)
  }

  /** Per-document term frequencies: one row per (document, distinct term),
    * `(doc_id, dl, w, tf)` with `dl` the document's token count and `tf`
    * every occurrence of `w` in it. Each document's terms are counted inside
    * its own row by the [[graft.functions.TermFreqs]] kernel — one hash-map
    * pass over `split(text, " ")`'s tokens, pruned to `vocab` (a sheet's
    * vocabulary, [[sheetVocab]]; None keeps every term) — so no (doc, term)
    * shuffle runs, and the count is O(dl), where the declarative
    * `dl − size(array_remove(tokens, w))` per distinct term it replaces was
    * O(dl × distinct terms) and lived in per-query generated code.
    *
    * Precondition: `doc_id` is unique per row. A (doc, term) aggregate
    * would merge two rows sharing an id; this emits one row per copy. The
    * driver tables hold it: 500 distinct ids in 500 rows at sf0.01, 5000
    * in 5000 at sf0.1. */
  private def termFreqs(docs: DataFrame, vocab: Option[Set[String]]): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    docs.select(col("doc_id"), inline(column(
      graft.functions.TermFreqs(expression(col("text")), vocab))))
  }

  /** [[bm25TopK]]'s core over an explicit corpus/sheet split, also both
    * scoring passes of [[rm3TopK]] (`rm3Scale` for its weighted second
    * pass). The corpus stats come collected ([[queryScan]]), so they enter
    * the plan as literals: no pass re-scans the corpus for them, and no
    * join carries them. */
  private def bm25TopKOn(corpus: DataFrame, sheet: Sheet, k: Int,
      stats: Option[(Long, Double)], rm3Scale: Boolean = false): DataFrame = {
    val tf = termFreqs(corpus, Some(sheetVocab(sheet)))
    // df over the pruned postings = df of exactly the query terms — computed
    // as a COUNT window over the tf stream itself, not a groupBy+join back:
    // the join form duplicates the whole tokenize→prune→tf subtree into a
    // second physical pipeline (measured 2× the query's cost; exchange reuse
    // does not rescue it through AQE), while the window shuffles only the
    // pruned per-(doc, term) rows on the term key
    val tfd = tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("w"))))
    val (n, avgdl) = stats.getOrElse((0L, 1.0))
    val scored = scoreTail(
      tfd.withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl)),
      sheet, k, rm3Scale)
    // absent stats mean no corpus row has text, so the pass has no
    // postings and scores nothing; limit(0) folds to an empty relation at
    // optimization, so no job runs
    if (stats.isEmpty) scored.limit(0) else scored
  }

  /** The sheet vocabulary: every term of every query. */
  private def sheetVocab(sheet: Sheet): Set[String] =
    sheet.flatMap(_._2.map(_._1)).toSet

  /** The sheet vocabulary as ONE literal map (term → 1) for pruning
    * persisted postings: `map_contains_key` is a codegen'd hash probe per
    * posting row, with no broadcast build job and no join in the plan. */
  private def sheetVocabLit(sheet: Sheet): Column =
    typedLit(sheetVocab(sheet).map(w => w -> 1).toMap)

  /** Shared scoring tail: input carries (doc_id, dl, w, tf, df, n, avgdl);
    * `sheet` holds per query its (term, weight) pairs — weight 1 for plain
    * BM25, exact micro units for RM3 pass 2 (`rm3Scale` adds that path's
    * extra 10⁻⁶ rescale). Output: (query_id, doc_id, n_terms, score, rank),
    * rank 1..k per query by (score desc, doc_id). An empty sheet yields an
    * empty frame with the output schema.
    *
    * Input precondition: rows pruned to the sheet vocabulary. It is a cost
    * precondition, not a correctness one: an unpruned row's term is in no
    * query's slot, and such a row scores nothing — so pruning only saves
    * work.
    *
    * WHY a dense kernel (r20, guide §2.3/§2.4 — the round's biggest
    * single win): the sheet-join fan form it replaced multiplied each
    * pruned posting by the queries sharing its term — measured at sf0.1:
    * 2.70 M fanned rows whose (qid, doc) partial aggregate collapsed only
    * to 2.06 M while paying avgHashProbe ≈ 160–373 and an 82 MB shuffle.
    * The dense form never fans: each posting row updates one score slot
    * and one term-count slot per query holding its term in a doc_id-keyed
    * aggregate — rows through the aggregate = postings (116 k), groups =
    * documents (4.9 k) — then emits the (qid, doc) pairs that share a term.
    * The aggregate is the [[graft.functions.SheetSlotSums]] kernel: one
    * `long[2·|sheet|]` buffer per document, compiled once per JVM. Its
    * first form, a 2·|sheet|-column `sum(element_at(slot vector, i) · t)`
    * aggregate, generated 70–100 KB of Java per scoring pass that Spark
    * compiled again every pass (its codegen cache held fewer classes than
    * a twins pass generates), and bounded the sheet to 64-query chunks to
    * keep that code compilable; the kernel's width is memory only, so any
    * sheet is one aggregate. Slot sums are exact long additions,
    * commutative, so scores are order-independent. */
  private def scoreTail(tfd: DataFrame, sheet: Sheet, k: Int,
      rm3Scale: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = tfd
      .groupBy(col("doc_id"))
      .agg(graft.functions.SheetSlotSums.sums(col("w"), microTerm, sheet)
        .as("slots"))
      .select(col("doc_id"), inline(col("slots")))
      .select(col("qid"), col("doc_id"), col("nt").as("n_terms"),
        microScore(col("sm"), rm3Scale).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("doc_id"), col("n_terms"),
        col("score"), col("rank"))
    // a term-less sheet scores nothing; limit(0) folds to an empty relation
    // at optimization, so no job runs
    if (sheet.isEmpty) ranked.limit(0) else ranked
  }

  /** The BM25 per-posting contribution in exact integer MICRO units.
    * `term` is already on the 10⁻⁶ grid, so round(term·10⁶) recovers its
    * exact micro integer (term ≤ ln(2N)·(k1+1) ≈ 21·2.2 at N = 10⁹, so
    * term·10⁶ ≤ ~5·10⁷ carries ≤ 10⁻⁸ absolute double error — never near
    * the .5 rounding boundary), and a LONG sum buffer replaces the decimal(24,6) one whose
    * every add was a BigDecimal allocation (r19 profile: the score
    * aggregate stage was the plan's hottest). */
  private def microTerm: Column = {
    val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm = (col("tf") * K1Plus1) /
      (col("tf") + lit(BM25K1) * (lit(OneMinusB) +
        lit(BM25B) * (col("dl") / col("avgdl"))))
    round(round(idf * norm, 6) * 1e6, 0).cast("long")
  }

  /** Exact decimal reconstruction of a micro (or micro², RM3) long sum —
    * ONE rescale per OUTPUT group: sum·10⁻⁶ is scale-6-representable, so
    * the final double equals the oracle's cast(sum(decimal) as double)
    * bit-for-bit. Overflow headroom (ANSI mode makes any breach loud):
    * micro sums ≤ |query terms|·5·10⁷ ≈ 5·10¹⁰ at a 1000-term query;
    * micro² sums ≤ 5·10¹⁶ at wt ≤ 10⁶ — 180× under the long range. */
  private def microScore(sum: Column, rm3Scale: Boolean): Column = {
    val d = (sum.cast("decimal(20,0)") *
      lit(new java.math.BigDecimal("0.000001"))).cast("double")
    if (rm3Scale) d / 1e6 else d
  }

  /** Corpus-side BM25 index: the FULL corpus vocabulary's document
    * frequencies with the corpus statistics (N, avgdl) denormalized onto
    * every row — the artifact a deployment builds once per corpus snapshot
    * and probes with every increment/query-sheet change, the retrieval
    * plane's member of the persisted-index family (x3 `dedupIndex`, x54
    * `vocabulary`, x51 `assignedIndex`). One corpus pass: a per-(doc, term)
    * distinct collapse, a term-keyed map-side-partial df aggregate, and a
    * one-row stats aggregate broadcast onto the (vocabulary-sized) result. */
  def bm25Index(corpus: DataFrame): DataFrame = {
    val dfreq = corpus
      .select(col("doc_id"), explode(array_distinct(ws)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    dfreq.crossJoin(broadcast(corpusStats(corpus)))
  }

  /** Persist [[bm25Index]] BUCKETED on the term key so every later probe
    * join re-shuffles only the probing increment (x54's storage contract). */
  def writeBm25Index(index: DataFrame, tableName: String,
      buckets: Int = 16): Unit =
    graft.util.BucketedTable.write(index, tableName, buckets, "w")

  /** [[bm25TopK]]'s production/incremental shape: score NEW documents
    * against the frozen corpus index — the daily-increment relevance gate
    * (which arriving documents serve the task sheet?) that never re-reads
    * the corpus. Terms absent from the index vocabulary contribute nothing
    * (the frozen index DEFINES the term universe; an unseen term has no df
    * and no idf — its novelty is x54's signal, not a relevance signal).
    * Scored against the same corpus the index was built from, output is
    * IDENTICAL to the self-contained [[bm25TopK]] (spec-pinned, x51's
    * parity discipline).
    *
    * Scale: the increment's tf is counted in-row and pruned narrowly (one
    * kernel pass per document, [[termFreqs]]), then shuffle-joins the
    * index on the term key — with a bucketed index every exchange is
    * INCREMENT-side and the index reads in place (spec-pinned plan shape).
    *
    * Construction runs one Spark action: the query-sheet read
    * ([[queryTerms]]). The returned frame is the scoring pass only. */
  def bm25TopKAgainst(newDocs: DataFrame, index: DataFrame,
      queryDocs: DataFrame, k: Int = DefaultTopK): DataFrame = {
    val sheet = sheetOf(queryTerms(queryDocs))
    scoreTail(termFreqs(newDocs, Some(sheetVocab(sheet))).join(index, "w"),
      sheet, k, rm3Scale = false)
  }

  /** Driver-held scoring model for [[bm25IngestGate]]: the frozen corpus
    * statistics plus, per query, its sorted distinct terms with their index
    * document frequencies. Bounded by the QUERY SHEET (terms absent from
    * the sheet never load; terms absent from the index carry no entry and
    * score nothing — [[bm25TopKAgainst]]'s unseen-term contract), so it
    * holds on the driver and broadcasts as plan literals no matter how
    * large the corpus behind the index is. */
  final case class Bm25Model(n: Long, avgdl: Double,
      queries: Seq[(Long, Seq[(String, Long)])])

  /** Build a [[Bm25Model]] from a (typically persisted) [[bm25Index]] and
    * the query sheet. Two driver collects, both sheet-bounded: the sheet's
    * terms ([[queryTerms]], one narrow job), and the index rows for exactly
    * those terms. */
  def bm25Model(index: DataFrame, queryDocs: DataFrame): Bm25Model = {
    val qterms = queryTerms(queryDocs).map(t => (t.docId, t.w)).distinct
    val qvocab = qterms.map(_._2).distinct
    val session = queryDocs.sparkSession
    import session.implicits._
    // ONE index evaluation: (n, avgdl) are denormalized on every row, so
    // the pruned collect already carries them; the separate stats query is
    // only needed when no sheet term exists in the index at all
    val pruned = index
      .join(broadcast(qvocab.toDF("w")), Seq("w"), "left_semi")
      .select(col("w"), col("df"), col("n"), col("avgdl")).collect()
    val dfByTerm = pruned.map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n, avgdl) = pruned.headOption
      .map(r => (r.getLong(2), r.getDouble(3)))
      .getOrElse {
        val statsRow = index.select(col("n"), col("avgdl")).limit(1).collect()
          .headOption.getOrElse(throw new IllegalArgumentException(
            "bm25Model: the index is empty — build it from a non-empty " +
              "corpus (an empty index has no N/avgdl and can score nothing)"))
        (statsRow.getLong(0), statsRow.getDouble(1))
      }
    Bm25Model(n, avgdl,
      qterms.groupBy(_._1).view.mapValues(_.map(_._2).sorted
          .flatMap(w => dfByTerm.get(w).map(w -> _)).toSeq)
        .toSeq.sortBy(_._1))
  }

  /** X65 — ingest-time relevance gate: per document, its BEST query match
    * (highest BM25 score, ties to the smaller query id) under the frozen
    * model, as ONE narrow codegen'd projection — no explode, no join, no
    * aggregate, no window — so it composes unchanged onto a streaming
    * DataFrame (the [[graft.corpus.Semantic.embedDecontamAgainst]] shape:
    * screen each arriving micro-batch against the frozen task sheet, keep
    * what serves the task). Documents matching no query term emit no row.
    *
    * Exactness: per-term contributions are the SAME 6-dp-rounded doubles
    * as the batch path (idf precomputed on the driver with the identical
    * `ln`; tf/dl evaluated per row), summed as exact DECIMAL adds — so
    * the gate's scores are bit-equal to [[bm25TopKAgainst]]'s for the same
    * documents (spec-pinned), and a gate decision can be audited against a
    * batch re-run. The whole kernel — one-pass sheet tf count, per-query
    * score, best-query argmax — is fused into a single codegen'd
    * expression ([[graft.functions.Bm25GateScore]]): per-row cost is ONE
    * O(|tokens|) counting pass plus Σ_q |q terms| scalar ops, and the
    * fusion is what keeps the keep-filter's predicate pushdown harmless
    * (Catalyst substitutes the scoring expression into the pushed
    * predicate; a declarative per-term tree re-scanned the tokens
    * hundreds of times there — see the expression's scaladoc). The model
    * is sheet-bounded, so this is a constant per document at any corpus
    * scale. */
  def bm25IngestGate(docs: DataFrame, model: Bm25Model,
      passthrough: String*): DataFrame = {
    if (model.queries.isEmpty)
      // an empty sheet legitimately gates everything out. filter(false),
      // not limit(0): Limit is unsupported on streaming frames and this
      // gate's contract is to compose onto them
      return docs.filter(lit(false)).select(
        col("doc_id") +: passthrough.map(col) :+
          lit(0L).as("query_id") :+ lit(0.0).as("score") :+
          lit(0L).as("n_terms"): _*)
    val toks = split(col("text"), " ")
    val best = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.Bm25GateScore(
        org.apache.spark.sql.GraftExpressionBridge.expression(toks), model))
    // `passthrough` columns ride the SAME narrow projection — a join back
    // to the input would be stream-stream (stateful) on a streaming frame.
    // NULL-text rows carry a NULL struct; `NULL > 0` is NULL → filtered.
    docs
      .withColumn("__best", best)
      .filter(col("__best.n_terms") > 0)
      .select(col("doc_id") +: passthrough.map(col) :+
        col("__best.query_id").as("query_id") :+
        col("__best.score").as("score") :+
        col("__best.n_terms").as("n_terms"): _*)
  }

  /** X73 — hybrid ingest gate: the two frozen-model screens a production
    * ingest pipeline runs per arriving document — BM25 task-relevance
    * against the driver-held [[Bm25Model]] ([[bm25IngestGate]]'s kernel) and
    * embedding-space benchmark contamination against the driver-held
    * reference set ([[graft.corpus.Semantic.embedDecontamAgainst]]'s
    * kernel) — composed into ONE narrow stateless projection over a
    * `(doc_id, text, embedding, …)` frame, so the whole decision runs
    * unchanged on a streaming DataFrame. `keep = relevant ∧ ¬contaminated ∧
    * screenable`: serve the task, don't leak the benchmark, and QUARANTINE
    * what cannot be screened (NULL/zero-norm/wrong-dimension embeddings
    * cannot prove novelty — gating them through on text evidence alone
    * would make a degenerate encoder output a decontamination bypass).
    *
    * Sentinels (never NULL): an irrelevant document reports query_id −1 /
    * score 0 / n_terms 0; an unscreenable or benchmark-less one bench_id −1
    * / bench_cosine 0. Ids use −1 — NOT [[hybridRrfTopK]]'s rank-0
    * convention — because 0 is a legitimate id (doc_id 0 sits in every
    * shipped gate sheet, vec_id 0 in every benchmark slice) and a consumer
    * routing on the sentinel must not misclassify documents genuinely
    * matched to id 0. The boolean flags stay authoritative either way
    * (bench_cosine 0.0 can also be a true cosine).
    *
    * Scale shape: both models are eval-suite-bounded and ride the plan as
    * literals; per row the cost is one token-counting pass + Σ_q |q terms|
    * scalar ops ([[graft.functions.Bm25GateScore]]) plus |bench| dot
    * products ([[graft.functions.BestMatch]]) — constant per document at
    * any corpus scale, zero shuffles, no join, no state. */
  def hybridIngestGate(docs: DataFrame, model: Bm25Model,
      bench: Seq[(Long, Seq[Double])], tau: Double,
      passthrough: String*): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge.{column => c, expression => x}
    val lexCol =
      if (model.queries.isEmpty)
        // an empty sheet matches nothing: a constant zero-match struct (the
        // gate kernel needs ≥1 query; relevant is uniformly false)
        struct(lit(0L).as("query_id"), lit(0.0).as("score"),
          lit(0L).as("n_terms"))
      else c(graft.functions.Bm25GateScore(x(split(col("text"), " ")), model))
    val eCol = graft.functions.VectorOps.normalizeVec(
      col("embedding").cast("array<double>"))
    val out = docs
      .withColumn("__lex", lexCol)
      .withColumn("__bm",
        if (bench.isEmpty) lit(null).cast("struct<cos:double,nid:bigint>")
        else graft.functions.VectorOps.bestMatch(eCol, bench))
    val relevant = coalesce(col("__lex").getField("n_terms") > 0, lit(false))
    val contaminated =
      if (bench.isEmpty) lit(false)
      else coalesce(col("__bm").getField("cos") >= tau, lit(false))
    // with a benchmark: BestMatch's NULL struct already encodes
    // un-screenable (NULL/degenerate/dim-mismatched embedding); without
    // one, fall back to the normalization guard alone
    val screenable =
      if (bench.isEmpty) eCol.isNotNull else col("__bm").isNotNull
    out.select(col("doc_id") +: passthrough.map(col) :+
      when(relevant, col("__lex").getField("query_id")).otherwise(-1L)
        .as("query_id") :+
      coalesce(col("__lex").getField("score"), lit(0.0)).as("score") :+
      coalesce(col("__lex").getField("n_terms"), lit(0L)).as("n_terms") :+
      (if (bench.isEmpty) lit(-1L)
       else coalesce(-col("__bm").getField("nid"), lit(-1L))).as("bench_id") :+
      (if (bench.isEmpty) lit(0.0)
       else coalesce(round(col("__bm").getField("cos"), 6), lit(0.0)))
        .as("bench_cosine") :+
      relevant.as("relevant") :+
      contaminated.as("contaminated") :+
      screenable.as("screenable") :+
      (relevant && !contaminated && screenable).as("keep"): _*)
  }

  /** Reciprocal-rank-fusion constant for [[hybridRrfTopK]] — the standard
    * k = 60 of Cormack/Clarke/Buettcher (SIGIR'09). */
  val RrfK: Int = 60

  /** Per-system candidate depth feeding the fusion. */
  val DefaultFusionCandidates: Int = 20

  /** Dense candidate generator SPI for [[hybridRrfTopK]]:
    * `(corpus, queries, kCand) => (query_id, doc_id, dense_rank)` with
    * `dense_rank` in 1..kCand per query (ties on the generator's score break
    * to the lowest doc_id). Both inputs are PRE-NORMALIZED unit-vector
    * frames with degenerates already dropped: `corpus` = (vec_id, e) is the
    * sheet-excluded embedding corpus, `queries` = (query_id, qe) the sheet.
    * Swapping the generator changes ONLY how dense evidence is found —
    * fusion, ranks, and the lexical side are untouched, which is what lets a
    * deployment move exact → IVF → IVF-PQ as the corpus grows without
    * touching the retrieval contract. */
  type DenseCandidates = (DataFrame, DataFrame, Int) => DataFrame

  /** The exact dense generator (default): one narrow broadcast-queries pass
    * over the corpus — every (query, doc) cosine is computed — into a
    * per-query top-`kCand` window. The correctness baseline; its cost is one
    * full corpus scan per sheet, linear in N but exhaustive, so past the
    * point where scans dominate swap [[ivfDenseCandidates]] (same contract,
    * cell-pruned) or [[ivfAdcDenseCandidates]] (codes, not vectors). */
  val exactDenseCandidates: DenseCandidates = (corpus, queries, kCand) => {
    import org.apache.spark.sql.expressions.Window
    corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        graft.functions.VectorOps.dotp(col("qe"), col("e")).as("cos"))
      .withColumn("dense_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("dense_rank") <= kCand)
      .select(col("query_id"), col("doc_id"), col("dense_rank"))
  }

  /** The exact generator re-planned through the bounded
    * [[graft.functions.TopKPairs]] aggregate (x96): same scan, same
    * broadcast, same exhaustive (query, doc) cosines, but per-query state
    * is O(kCand) and the candidate stream is never sorted — the window
    * form's per-query sort grows with the corpus, the aggregate's does
    * not (x96's ladder: steady 0.48 s at 30× vs the window's 0.55–0.74 s
    * mins with 1.4–1.7 s cold reps). Contract-identical to
    * [[exactDenseCandidates]] (spec-pinned bit-equal on tie-heavy random
    * corpora): same (cos desc, doc_id) ranking, NULLS LAST should a
    * caller pass degenerate rows. Swap it into any SPI consumer when the
    * candidate stream is the dominant term. */
  val exactAggDenseCandidates: DenseCandidates = (corpus, queries, kCand) => {
    corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        graft.functions.VectorOps.dotp(col("qe"), col("e")).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.topK(col("cos"), col("doc_id"), kCand)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("dense_rank"))
  }

  /** IVF-backed dense generator: coarse-quantize the corpus into
    * `numCentroids` cells ([[Similarity.annIvfSearchOn]]'s one narrow
    * BestMatch pass), search each query's `nprobe` closest cells only.
    * Centroids default to the corpus vectors with `vec_id < numCentroids`
    * (the [[Similarity.annIvf]] / [[Quantization.centroidSeeds]]
    * deterministic stand-in — an ID-RANGE convention, loud-fail below if the
    * corpus's ids don't cover it); production passes k-means-trained ones
    * via `centroids` (pre-normalized (cid, ce) rows,
    * [[Semantic.trainCentroids]]' shape). FULL PROBE (`nprobe >=
    * numCentroids`) scores every (query, doc) pair exactly once with the
    * same dot-product kernel as the exact generator — bit-for-bit the same
    * fusion (spec-pinned), which is the restriction-never-changes-a-score
    * discipline that makes the nprobe knob trustworthy. */
  def ivfDenseCandidates(numCentroids: Int = Similarity.DefaultIvfCentroids,
      nprobe: Int = Similarity.DefaultIvfNprobe,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DenseCandidates =
    (corpus, queries, kCand) => {
      val centRows = centroids.getOrElse(
        // bounded driver artifact: numCentroids × dim doubles (BestMatch's
        // broadcast discipline), the annIvf centroid-collect shape
        corpus.filter(col("vec_id") < numCentroids)
          .orderBy(col("vec_id"))
          .select(col("vec_id"), col("e")).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq.toSeq)
          .toSeq)
      if (centRows.isEmpty) {
        // DEFAULT seeding missing on a NONEMPTY corpus is an id-range miss,
        // not an empty index: returning an empty frame here would silently
        // degrade the fusion to lexical-only evidence while the exact
        // generator returns full dense evidence — the contract says
        // swapping generators changes only HOW candidates are found. Mirror
        // centroidSeeds' loud-failure instead. An EXPLICIT Some(Seq.empty)
        // keeps the empty-frame contract: the caller chose an empty index.
        if (centroids.isEmpty && !corpus.isEmpty)
          throw new IllegalArgumentException(
            s"ivfDenseCandidates: no centroid seeds — corpus has no vec_id <" +
              s" $numCentroids and no explicit centroids were passed; supply" +
              " trained centroids for corpora whose ids don't start at 0")
        // empty corpus ⇒ nothing to search: the annIvf empty contract —
        // schema from the real plan (analyzed, never executed) so it cannot
        // drift
        corpus.sparkSession.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          ivfDenseCandidates(numCentroids, nprobe,
            Some(Seq(0L -> Seq(1.0))))(corpus, queries, kCand).schema)
      }
      else
        Similarity.annIvfSearchOn(corpus,
            queries.select(col("query_id").as("qid"), col("qe")),
            centRows, nprobe, kCand)
          .select(col("qid").as("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").as("dense_rank"))
    }

  /** IVF-PQ-backed dense generator — the 100 TB tier: candidates come from a
    * (typically persisted, cid-partitioned) [[Quantization.ivfPqIndex]] and
    * integer ADC scores over codes; full vectors are never touched. Ranks
    * are the ADC approximation's, so fusion output is approximate by design
    * (the PQ recall audit, x68, is the knob that says how much) — there is
    * deliberately no "exact" setting here; for exactness use
    * [[ivfDenseCandidates]] at full probe. `index`/`cbs`/`centroids` come
    * from the corpus the fusion runs against ([[Quantization.sliceCodebooks]],
    * [[Quantization.centroidSeeds]], [[Quantization.ivfPqIndex]] or its
    * persisted twin); the generator ignores its corpus argument — the index
    * IS the corpus, which is the point.
    *
    * SIZING RULE — pick this tier by MEASUREMENT, never by name (the r16
    * recall-sweep verdict, SCALING.md "the audit that said NO"; the sweep's
    * `graft.RecallSweep` main was last at commit 5156bae): a
    * PQ code ranks with m·log₂(ksub) bits, and whether that supports your
    * top-k depends on how much neighbor structure survives the dim/m-dim
    * subspace quantization. On the structure-less 64-dim fixture (8
    * subspaces × 16 codewords = 32 bits), ADC's direct top-5 recall was
    * 0.17–0.20 at EVERY nprobe and k-means training bought ~0.04, while
    * the shortlist-survival rate consumers actually need FELL from 0.64
    * to 0.49 as the probe widened (misscored impostors displace true
    * neighbors) — the right generator there was [[ivfDenseCandidates]]
    * (0.85–1.0, monotone in nprobe). Real embeddings on low-dim manifolds
    * quantize far better — so run [[Similarity.denseRecallEval]] at the
    * probe budgets you would deploy on an audit slice FIRST, and adopt this
    * tier only when the measured shortlist survival clears your recall
    * bar; when codes-only scanning is mandatory anyway, keep nprobe small
    * and the shortlist (kCand) deep.
    *
    * The r18 structured-fixture addendum (SCALING.md "the OPQ bracket"):
    * the sweep on a TIGHT-CLUSTER mixture (spherical MoG) read WORSE than
    * random — IVF hit 1.0 by nprobe 4 while ADC direct recall sat at
    * 0.03–0.07, because within-cluster ordering lives entirely in the
    * residual that 32-bit codes erase; clusterable data does not by itself
    * rescue a thin code. What does move the number on the ANISOTROPIC
    * shape real embeddings have (decaying spectrum, arbitrary orientation)
    * is the learned OPQ rotation ([[Quantization.opqRotation]], applied
    * with [[Quantization.rotateEmbeddings]] before building `index`/`cbs`
    * on the rotated frame): shortlist survival 0.57 → 0.72 and direct
    * recall ×2 on that fixture, at zero per-query cost (the rotation rides
    * the ingest scan). On an ISOTROPIC residual it cannot help by symmetry
    * (rotation of a spherical Gaussian is spherical — measured +0.03
    * survival, noise) — so the order of levers is: measure; if
    * anisotropic, rotate (free at query time); if survival still misses
    * the bar, add bits (m/ksub) or fall back to [[ivfDenseCandidates]]. */
  def ivfAdcDenseCandidates(index: DataFrame,
      cbs: Array[Array[Array[Double]]], centroids: Seq[(Long, Seq[Double])],
      nprobe: Int = Similarity.DefaultIvfNprobe): DenseCandidates =
    (_, queries, kCand) =>
      Quantization.ivfAdcSearchOn(index,
          queries.select(col("query_id").as("qid"), col("qe")),
          cbs, centroids, nprobe, kCand)
        .select(col("qid").as("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))

  /** X71 — hybrid lexical + semantic retrieval: BM25 ([[bm25TopK]]) and
    * dense-cosine candidate lists fused by reciprocal-rank fusion,
    *
    *   rrf(q, d) = Σ_{sys ∋ d} 1 / (rrfK + rank_sys(q, d)),
    *
    * the score-free fusion that needs no cross-system calibration — the
    * production-standard first stage of a modern retrieval stack, and the
    * training-data use: mine task-relevant documents with BOTH surface-form
    * and semantic evidence, so neither paraphrases (lexical-blind) nor rare
    * named entities (embedding-blind) are missed. The linkage convention is
    * positional: `embeddings.vec_id` is `documents.doc_id`'s embedding. Both
    * systems run the SAME x60 query sheet ([[querySheetCol]]) against the
    * sheet-excluded corpus; each contributes its top-`kCand` candidates.
    *
    * Determinism / oracle parity: ranks are integers, so each contribution
    * `1.0 / (rrfK + rank)` is one exact IEEE division; the two contributions
    * add in fixed lexical-then-dense order in both engines. Absent evidence
    * scores 0 and the output rank columns report 0 (= "not in that system's
    * top-kCand"), never NULL. Degenerate (zero-norm/NULL) embeddings drop
    * from the dense side only ([[Similarity.annLsh]]'s no-row contract) —
    * such documents still surface on lexical evidence alone.
    *
    * Scale shape: all the N-scale work lives in the two candidate
    * generators, each already scale-shaped (BM25: sheet-pruned in-row
    * postings; dense: the pluggable [[DenseCandidates]] generator —
    * [[exactDenseCandidates]] by default, [[ivfDenseCandidates]] /
    * [[ivfAdcDenseCandidates]] at larger N, same contract). The fusion
    * itself touches only the two (|sheet| × kCand)-bounded lists: the
    * full-outer join and final window are driver-trivial at any corpus
    * size. */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame,
      queryMod: Long = QueryMod, kCand: Int = DefaultFusionCandidates,
      k: Int = DefaultTopK, rrfK: Int = RrfK,
      dense: DenseCandidates = exactDenseCandidates): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopK(docs, queryMod, kCand)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val vbase = Similarity.normalizedBase(emb).filter(col("e").isNotNull)
    val sheetOnVec = col("vec_id") % queryMod === 0 &&
      col("vec_id") < queryMod * QueryCount
    val vq = vbase.filter(sheetOnVec)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val denseCands = dense(vbase.filter(!sheetOnVec), vq, kCand)
      .select(col("query_id"), col("doc_id"), col("dense_rank"))
    val contrib = (r: Column) => coalesce(lit(1.0) / (lit(rrfK) + r), lit(0.0))
    lex.join(denseCands, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
        (contrib(col("lex_rank")) + contrib(col("dense_rank"))).as("rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), round(col("rrf"), 6).as("rrf_score"), col("rank"))
  }

  /** Feedback documents per query for [[rm3TopK]]'s first pass. */
  val Rm3FbDocs: Int = 5

  /** Expansion terms kept per query (top of the RM1 distribution). */
  val Rm3FbTerms: Int = 10

  /** Original-query interpolation weight. FIXED at 1/2 (not a parameter):
    * the original-side weight is computed by EXACT integer half-up micro
    * division (see below), and that formula hardcodes the half. */
  val Rm3Alpha: Double = 0.5

  /** X87 — RM3 pseudo-relevance-feedback retrieval (Lavrenko & Croft
    * relevance models, the Anserini-default RM3 shape): run [[bm25TopK]],
    * treat each query's top [[Rm3FbDocs]] results as pseudo-relevant, build
    * the RM1 expansion-term distribution
    * `p(w|R) = Σ_d (score_d / Σscore) · tf(w,d)/dl(d)` over those documents,
    * keep the top [[Rm3FbTerms]] terms, interpolate half-and-half with the
    * original query's term distribution `qtf/qlen`, and re-score the corpus
    * under the weighted expanded query — the standard recall lever when the
    * query sheet undersamples task vocabulary (exactly the data-mining
    * setting: a handful of seed documents rarely names everything relevant).
    * Queries whose first pass matched nothing keep their original terms at
    * half weight (RM3 degrades to a dampened BM25, never to silence).
    * Output: (query_id, doc_id, n_terms, score, rank), rank 1..k per query
    * by (score desc, doc_id).
    *
    * Scale shape — two pruned corpus passes plus pass 1's ranked scan,
    * nothing quadratic, every intermediate a BOUNDED driver artifact (the
    * centroid/codebook pattern): the query side and the corpus stats come
    * from one narrow scan ([[queryScan]]); pass 1 executes ONCE and
    * collects the (|sheet| × fbDocs) feedback set; its doc-id list pushes
    * down into the narrow scan that collects the feedback documents' FULL
    * term distributions (the expansion source — the whole point is terms
    * OUTSIDE the query vocabulary, so pass 1's pruned postings cannot
    * supply them); the expanded weight sheet ((|sheet| × (qlen +
    * fbTerms))-bounded) is assembled on the driver ([[rm3WeightSheet]])
    * and enters the second scoring pass as literals — the same pass as
    * [[bm25TopK]]'s ([[bm25TopKOn]]: in-row sheet-pruned tf,
    * [[scoreTail]]'s dense slot kernel), with the RM3 weight rescale.
    *
    * Determinism / oracle parity: RM1 contributions are rounded to 9 dp and
    * DECIMAL-summed (x19's trick), then carried as exact integer NANO-units;
    * the interpolated weight is exact integer MICRO-units on BOTH sides —
    * the original side as the integer half-up division
    * `(10⁶·qtf + qlen) div (2·qlen)` and the RM1 side as
    * `(rw_nano + 1000) div 2000` (the x78 discipline, both: an RM1 mass
    * lives on the 10⁻⁹ grid, so `round(rw/2, 6)` in doubles CAN land on a
    * half-micro tie where the engines' rounding disagrees — confirmed
    * empirically at rw = 0.000249: Spark 125 vs DuckDB 124 micro). The one
    * remaining double round is the 9-dp rounding of each RM1 contribution
    * `(score/ssum)·(tf/dl)` — a quotient of non-grid doubles, the same
    * accepted class as x60's `round(idf·norm, 6)`. Per-term second-pass
    * contributions are the exact DECIMAL product `bm25_term(14,6) ×
    * wt_micro`, summed exactly, divided by 10⁶ once at the end.
    *
    * EAGER-SNAPSHOT SEMANTICS (API contract): the query-side scan (sheet
    * and corpus stats), pass 1 and the feedback documents' terms run as
    * Spark jobs AT CONSTRUCTION TIME — three actions — and freeze into
    * plan literals: the returned frame is pass 2 only. Treat it as
    * single-shot over an immutable input: if the `docs` source changes
    * between construction and execution (or the frame is re-executed later
    * over changed data), pass 2 scores the NEW corpus against the STALE
    * frozen stats/feedback/weights with no warning. Same contract as every
    * bounded-driver-artifact operator here (centroids, codebooks,
    * [[Similarity.mmrTopK]]'s pool). */
  def rm3TopK(docs: DataFrame, queryMod: Long = QueryMod,
      k: Int = DefaultTopK, fbDocs: Int = Rm3FbDocs,
      fbTerms: Int = Rm3FbTerms): DataFrame = {
    val isQuery = querySheetCol(queryMod)
    val corpus = docs.filter(!isQuery)
    val (qterms, stats) = queryScan(docs, isQuery)
    val wsheet = rm3Feedback(
      bm25TopKOn(corpus, sheetOf(qterms), fbDocs, stats),
      ids => termFreqs(corpus.filter(col("doc_id").isin(ids: _*)), None),
      qterms, fbTerms)
    // pass 2: the BM25 pass under the expanded, weighted sheet
    bm25TopKOn(corpus, wsheet, k, stats, rm3Scale = true)
  }

  /** The RM3 feedback step [[rm3TopK]] and [[rm3TopKAgainst]] share, two
    * driver collects: pass 1, executed ONCE — the feedback set is (|sheet| ×
    * fbDocs)-bounded, so it collects to a driver artifact (leaving it lazy
    * would re-run the whole ranked BM25 pass once per consumer; measured:
    * three instantiations in the physical plan) — then the feedback
    * documents' term rows, `feedbackTerms(ids)` (the bounded id list
    * becomes an `isin` literal the scan pushes down), into the driver-built
    * weight sheet. */
  private def rm3Feedback(pass1: DataFrame,
      feedbackTerms: Seq[Long] => DataFrame, qterms: Seq[TermRow],
      fbTerms: Int): Sheet = {
    val fbRows = pass1.select(col("query_id"), col("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val fbIds = fbRows.map(_._2).distinct
    rm3WeightSheet(fbRows,
      if (fbIds.isEmpty) Nil else collectTerms(feedbackTerms(fbIds)),
      qterms, fbTerms)
  }

  /** The interpolated RM3 weight sheet, built on the driver from bounded
    * inputs: the pass-1 feedback set `(qid, doc_id, score)`, the feedback
    * documents' term rows and the query documents' term rows. Output: per
    * query, its `(w, wt)` micro-unit weights, grouped for [[scoreTail]]'s
    * dense kernel — (|sheet| × (qlen + fbTerms))-bounded.
    *
    * EXACTNESS RULES — every step is the integer or double operation the
    * Spark chain this replaced (pinned against it, kept as a referee in
    * test code) and the oracle evaluate:
    *  - per-query score normalizers sum exactly in BigDecimal: each score
    *    is a DECIMAL(14,6)-cast double, ≤ 14 significant digits, so
    *    BigDecimal.valueOf (via Double.toString) recovers the exact
    *    decimal the oracle's SUM(CAST(score AS DECIMAL(14,6))) adds;
    *  - each RM1 contribution is `round(round(snorm·(tf/dl), 9)·10⁹, 0)`
    *    nano-units, with `round` Spark's double rounding ([[roundHalfUp]]:
    *    decimal HALF_UP on the double's shortest decimal form, not
    *    `Math.round`, which rounds the binary value) and an ANSI-checked
    *    long conversion; a feedback document shared by two queries counts
    *    once for each;
    *  - the top `fbTerms` terms per query rank by (mass desc, term asc)
    *    with terms in UTF-8 byte order (`UTF8String.compareTo`, Spark's
    *    string order; `String.compareTo` compares UTF-16 units, which
    *    disagree past the BMP);
    *  - the original side is `(10⁶·tf + dl) div (2·dl)` per query term row
    *    (rows of a repeated query `doc_id` add up), the RM1 side
    *    `(rw + 1000) div 2000`, and a term on both sides sums the two;
    *  - every sum and product is `Math.addExact`/`multiplyExact`: an
    *    overflow throws, as the ANSI arithmetic does. */
  private[corpus] def rm3WeightSheet(fbRows: Seq[(Long, Long, Double)],
      fbTf: Seq[TermRow], qterms: Seq[TermRow], fbTerms: Int): Sheet = {
    val ssum: Map[Long, Double] = fbRows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(r => BigDecimal.valueOf(r._3)).sum.toDouble
    }
    val tfByDoc = fbTf.groupBy(_.docId)
    val rm1 = scala.collection.mutable.HashMap.empty[(Long, String), Long]
    for ((q, d, s) <- fbRows; snorm = s / ssum(q); t <- tfByDoc.getOrElse(d, Nil)) {
      val c = ansiLong(roundHalfUp(
        roundHalfUp(snorm * (t.tf.toDouble / t.dl.toDouble), 9) * 1e9, 0))
      rm1((q, t.w)) = Math.addExact(rm1.getOrElse((q, t.w), 0L), c)
    }
    val byMassThenBytes = Ordering.fromLessThan[(String, Long)] {
      case ((a, ma), (b, mb)) => ma > mb || ma == mb &&
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    }
    val wt = scala.collection.mutable.HashMap.empty[(Long, String), Long]
    def add(q: Long, w: String, m: Long): Unit =
      wt((q, w)) = Math.addExact(wt.getOrElse((q, w), 0L), m)
    qterms.foreach { t =>
      add(t.docId, t.w, Math.addExact(Math.multiplyExact(1000000L, t.tf),
        t.dl.toLong) / (2L * t.dl))
    }
    rm1.toSeq.groupBy(_._1._1).foreach { case (q, ms) =>
      ms.map { case ((_, w), m) => (w, m) }.sorted(byMassThenBytes).take(fbTerms)
        .foreach { case (w, m) => add(q, w, Math.addExact(m, 1000L) / 2000L) }
    }
    wt.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
      .map { case (q, ws) => q -> ws.map { case ((_, w), m) => (w, m) }.sortBy(_._1) }
  }

  /** Spark's `round(x, scale)` on a double: HALF_UP on the decimal the
    * double prints as (`BigDecimal.valueOf`), NaN and infinities as is. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The ANSI double → long cast: out-of-range and NaN throw. */
  private def ansiLong(x: Double): Long =
    if (math.floor(x) <= Long.MaxValue.toDouble &&
        math.ceil(x) >= Long.MinValue.toDouble) x.toLong
    else throw new ArithmeticException(s"$x cannot be cast to BIGINT")

  /** Corpus-side BM25 POSTINGS — the classic inverted index: one row per
    * (document, term) with the term frequency and the document's length,
    * the corpus-scale artifact [[rm3TopKAgainst]] probes so that NO RM3
    * pass ever re-tokenizes a corpus the index already digested (the
    * vocabulary-level [[bm25Index]] holds df/N/avgdl but not per-doc tf —
    * scoring needs both). One narrow corpus pass ([[termFreqs]]), no
    * shuffle. Schema: (doc_id bigint, dl int, w string, tf bigint). */
  def bm25Postings(corpus: DataFrame): DataFrame = termFreqs(corpus, None)

  /** Persist [[bm25Postings]] BUCKETED on the term key (x54's storage
    * contract, [[writeBm25Index]]'s bucket default) so every probe's
    * term-keyed join — vocabulary prunes AND the index stats join — reads
    * the postings in place with zero postings-side exchanges. */
  def writeBm25Postings(postings: DataFrame, tableName: String,
      buckets: Int = 16): Unit =
    graft.util.BucketedTable.write(postings, tableName, buckets, "w")

  /** X92 — [[rm3TopK]]'s production shape over the persisted retrieval
    * artifacts: RM3 against a frozen [[bm25Postings]] + [[bm25Index]] pair,
    * never re-reading — let alone re-tokenizing — the corpus the indexes
    * digested (the x54/x60/x84/x86 persisted-probe discipline applied to
    * the suite's most expensive steady-state query). The self-contained
    * [[rm3TopK]] tokenizes the corpus ~2.5 times per sheet run; a
    * deployment re-running RM3 per sheet revision (the expansion terms
    * depend on the sheet, so every revision re-scores) pays that ENTIRE
    * cost again each time, while this probe's per-run work is three
    * postings-side joins on the bucketed term key plus sheet-bounded
    * driver artifacts. Scored against the same corpus the artifacts were
    * built from, output is IDENTICAL to [[rm3TopK]] (spec-pinned, x51's
    * parity discipline):
    *
    *  - pass 1 = [[bm25TopKAgainst]]'s shape: postings pruned by the
    *    collected query sheet's literal vocabulary map, index-joined for
    *    df/N/avgdl ([[bm25Index]] df counts distinct docs per term = the
    *    self-contained count window over the pruned postings; stats rows
    *    are denormalized corpus-wide);
    *  - the feedback documents' full term distributions READ from the
    *    postings (`doc_id isin` pushes into the scan) — no tokenize;
    *  - pass 2: postings pruned by the collected expanded-weight sheet's
    *    literal vocabulary, index-joined, into the shared scoring tail.
    *
    * With both artifacts persisted via [[writeBm25Postings]] /
    * [[writeBm25Index]] at matching bucket counts, every postings↔index
    * join co-locates on the term buckets — the only exchanges left are the
    * bounded aggregate/rank shuffles (spec-pinned plan shape).
    *
    * Construction runs three Spark actions, the [[rm3TopK]] eager-snapshot
    * contract: the query-sheet read ([[queryTerms]]), pass 1's feedback
    * collect and the feedback documents' postings collect; the weight
    * sheet is assembled on the driver ([[rm3WeightSheet]]). The returned
    * frame is pass 2 only. */
  def rm3TopKAgainst(postings: DataFrame, index: DataFrame,
      queryDocs: DataFrame, k: Int = DefaultTopK, fbDocs: Int = Rm3FbDocs,
      fbTerms: Int = Rm3FbTerms): DataFrame = {
    val qterms = queryTerms(queryDocs)
    def probe(sheet: Sheet) = postings
      .filter(map_contains_key(sheetVocabLit(sheet), col("w")))
      .join(index, "w")
    val sheet1 = sheetOf(qterms)
    val wsheet = rm3Feedback(
      scoreTail(probe(sheet1), sheet1, fbDocs, rm3Scale = false),
      ids => postings.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("dl"), col("w"), col("tf")),
      qterms, fbTerms)
    scoreTail(probe(wsheet), wsheet, k, rm3Scale = true)
  }
}
