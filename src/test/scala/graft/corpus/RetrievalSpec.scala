package graft.corpus

import graft.SparkSpec
import graft.functions.TermFreqs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X60–X63: BM25 retrieval, BPE pair counts, stratified sampling, kNN label
  * transfer. */
class RetrievalSpec extends AnyFunSuite with SparkSpec with Matchers
    with AdaptiveSparkPlanHelper {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The corpus tokens meet the collected sheet's vocabulary inside the
    * [[TermFreqs]] kernel BEFORE any shuffle: the operator evaluating the
    * vocabulary-pruned kernel has no exchange beneath it, and sits below
    * the plan's first exchange. */
  private def prunedTermFreqsBelowFirstExchange(plan: SparkPlan): Unit = {
    def pruned(p: SparkPlan) = p.expressions.exists(_.exists {
      case TermFreqs(_, Some(_)) => true
      case _ => false
    })
    val sites = collect(plan) { case p if pruned(p) => p }
    sites should not be empty
    val exchanges = collect(plan) { case e: Exchange => e }
    exchanges should not be empty
    sites.foreach { site =>
      collect(site) { case e: Exchange => e } shouldBe empty
      exchanges.exists(e => find(e)(_ eq site).isDefined) shouldBe true
    }
  }

  // doc_id 0 and 50 are queries under QueryMod = 50
  test("bm25: tf saturation ranks the heavier doc first, absent terms score nothing") {
    val d = docs(
      0L -> "apple",                       // query: one term
      1L -> "apple apple banana",          // tf=2
      2L -> "apple banana cherry",         // tf=1, same length
      3L -> "banana cherry date")          // no match
    val out = Retrieval.bm25TopK(d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank")))
    out.map(t => (t._2, t._3)).toSet shouldBe Set((1L, 1), (2L, 2))
    out.forall(_._1 == 0L) shouldBe true
  }

  test("bm25: length normalization penalizes padding; repeated query terms count once") {
    val d = docs(
      0L -> "apple apple apple",           // query repeats its term — one lookup
      1L -> "apple pad1 pad2 pad3 pad4 pad5 pad6 pad7",
      2L -> "apple pad1")
    val rows = Retrieval.bm25TopK(d).collect()
    // same tf=1 both docs; shorter doc must rank first
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).toSet shouldBe
      Set((2L, 1), (1L, 2))
    // distinct-term queries: n_terms is 1, never 3
    rows.map(_.getAs[Long]("n_terms")).toSet shouldBe Set(1L)
  }

  test("bm25 stats count NULL-text docs in the corpus but not in the length sum") {
    // oracle lockstep: avgdl = SUM(dl)/COUNT(*) — a NULL-text doc has no
    // length (excluded from the sum) but IS a corpus row (in N and the
    // denominator); Spark's avg() would silently drop it from both
    val d = docs(0L -> "apple", 1L -> "apple", 2L -> null)
    val row = Retrieval.bm25TopK(d).collect().head
    // N=2, df=1, tf=1, dl=1, avgdl = 1/2
    val idf = StrictMath.log((2 - 1 + 0.5) / 1.5 + 1.0)
    val norm = Retrieval.K1Plus1 /
      (1 + Retrieval.BM25K1 * (Retrieval.OneMinusB + Retrieval.BM25B * (1.0 / 0.5)))
    row.getAs[Double]("score") shouldBe BigDecimal(idf * norm)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("bm25 scores match the formula computed by hand") {
    val d = docs(0L -> "apple", 1L -> "apple banana", 2L -> "banana cherry")
    val row = Retrieval.bm25TopK(d).collect().head
    // corpus: docs 1,2 (N=2, avgdl=2); apple: df=1, tf=1, dl=2
    val idf = math.log((2 - 1 + 0.5) / (1 + 0.5) + 1.0)
    val norm = (1 * Retrieval.K1Plus1) /
      (1 + Retrieval.BM25K1 * (Retrieval.OneMinusB + Retrieval.BM25B * (2.0 / 2.0)))
    val expected = BigDecimal(idf * norm)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    row.getAs[Long]("doc_id") shouldBe 1L
    row.getAs[Double]("score") shouldBe expected
  }

  test("bm25 plan: the sheet-pruned TermFreqs runs before any shuffle") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bm25plan").toString
    (0L to 120L).map(i => (i, s"tok${i % 13} tok${i % 7} filler$i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val executed = Retrieval.bm25TopK(spark.read.parquet(dir))
      .queryExecution.executedPlan
    val plan = executed.toString
    // corpus tokens meet the collected sheet's vocabulary inside the tf
    // kernel before any shuffle — no broadcast build, no semi join, and
    // the corpus-sized token stream must never sort-merge; the corpus
    // stats enter as literals, so no join is left
    prunedTermFreqsBelowFirstExchange(executed)
    plan should not include "LeftSemi"
    plan should not include "SortMergeJoin"
    // the sheet itself enters the slot kernel, not a join: the fan
    // BroadcastHashJoin on the term key is gone
    plan should not include "BroadcastHashJoin"
    // tf is counted inside each document row: no (doc, dl, term) exchange
    "hashpartitioning\\(doc_id#\\d+L?, dl#\\d+, w#".r.findFirstIn(plan) shouldBe None
  }

  test("tokenizer fertility: sums referee against applyBpe, ratios are " +
      "exact integer half-up micros, degenerate groups go NULL") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa ab aa", "en", "web"),
      (2L, "aa aa", "en", "web"),
      (3L, "xyz", "de", "web"),
      (4L, null.asInstanceOf[String], "de", "web"), // drops out of sums
      (5L, "", "sw", "web"))                         // degenerate group
      .toDF("doc_id", "text", "lang", "source")
    val merges = TextStats.trainBpe(d).map(t => (t._1, t._2))
    val seg = TextStats.applyBpe(d, merges).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Number].longValue),
          Option(r.get(2)).map(_.asInstanceOf[Number].longValue))).toMap
    val texts = Map(1L -> "aa ab aa", 2L -> "aa aa", 3L -> "xyz", 5L -> "")
    def expect(ids: Seq[Long]) = {
      val chars = ids.map(texts(_).length.toLong).sum
      val words = ids.map(seg(_)._1.get).sum
      val subs = ids.map(seg(_)._2.get).sum
      (chars, words, subs)
    }
    def micro(a: Long, b: Long): Option[Double] =
      if (b <= 0) None
      else Some(((BigInt(2000000) * a + b) / (BigInt(2) * b)).toDouble / 1e6)
    val got = TextStats.tokenizerFertility(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          Option(r.get(6)).map(_ => r.getDouble(6)),
          Option(r.get(7)).map(_ => r.getDouble(7))))).toMap
    val (c1, w1, s1) = expect(Seq(1L, 2L))
    assert(got(("en", "web")) ==
      ((2L, c1, w1, s1, micro(c1, s1), micro(s1, w1))))
    val (c2, w2, s2) = expect(Seq(3L)) // doc 4's NULL text drops out
    assert(got(("de", "web")) ==
      ((1L, c2, w2, s2, micro(c2, s2), micro(s2, w2))))
    // the empty-text group: one doc, zero of everything, NULL ratios
    assert(got(("sw", "web")) == ((1L, 0L, 0L, 0L, None, None)))
  }

  test("fertility drift: identical slices read zero delta, one-sided " +
      "slices surface with NULL opposite stats, values referee against " +
      "two fertilityAgainst runs") {
    import spark.implicits._
    def frame(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "text", "lang", "source")
    val ref = frame(Seq((2L, "aa ab aa", "en", "web"), (4L, "aa aa", "en", "web"),
      (6L, "xyz xyz", "de", "web")))
    val nw = frame(Seq(
      (1L, "aa ab aa", "en", "web"), (3L, "aa aa", "en", "web"), // = ref slice
      (5L, "zz zz zz", "sw", "web")))                            // new slice
    val merges = TextStats.trainBpe(ref).map(t => (t._1, t._2))
    val got = TextStats.fertilityDrift(nw, ref, merges).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(got.keySet == Set(("en", "web"), ("de", "web"), ("sw", "web")))
    val en = got(("en", "web"))
    assert(en.getAs[Double]("delta_chars_per_token") == 0.0)
    assert(en.getAs[Double]("delta_tokens_per_word") == 0.0)
    val de = got(("de", "web"))                    // ref-only slice
    assert(de.get(de.fieldIndex("n_docs_new")) == null)
    assert(de.get(de.fieldIndex("delta_chars_per_token")) == null)
    val sw = got(("sw", "web"))                    // new-only slice
    assert(sw.get(sw.fieldIndex("n_docs_ref")) == null)
    // referee: pivot of two independent fertilityAgainst runs
    val newFert = TextStats.fertilityAgainst(nw, merges).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("chars_per_token"),
          r.getAs[Double]("tokens_per_word"))).toMap
    assert(sw.getAs[Double]("chars_per_token_new") ==
      newFert(("sw", "web"))._1)
    assert(en.getAs[Double]("tokens_per_word_new") ==
      newFert(("en", "web"))._2)
  }

  test("rm3: expansion terms reach documents sharing NO query vocabulary") {
    val d = docs(
      0L -> "apple",          // query
      1L -> "apple zebra",    // pseudo-relevant: donates "zebra"
      2L -> "zebra zebra",    // invisible to plain BM25
      3L -> "plum plum")      // unrelated
    val bm = Retrieval.bm25TopK(d).collect().map(_.getAs[Long]("doc_id")).toSet
    bm shouldBe Set(1L)
    val rm = Retrieval.rm3TopK(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("rank")).toMap
    rm.keySet shouldBe Set(1L, 2L)
    rm(1L) shouldBe 1 // still carries the original term at full interpolated mass
    rm(2L) shouldBe 2
  }

  test("rm3: a self-concentrated query reproduces its BM25 score exactly " +
      "(orig micro-half + RM1 micro-half sum to exactly 10^6)") {
    // query "apple", one feedback doc "apple": om = (10^6·1+1) div 2 =
    // 500000, rw = 1.0 -> 500000; weight = exactly 1_000_000 micro,
    // so the weighted score equals the plain BM25 score bit for bit
    val d = docs(0L -> "apple", 1L -> "apple", 2L -> "plum")
    val bm = Retrieval.bm25TopK(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val rm = Retrieval.rm3TopK(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    rm shouldBe bm
  }

  test("rm3: a query whose first pass matches nothing keeps its original " +
      "terms (no silent disappearance when feedback is empty)") {
    val d = docs(
      0L -> "unobtanium",    // no corpus doc matches -> zero feedback
      1L -> "plum cherry", 2L -> "cherry plum")
    Retrieval.bm25TopK(d).collect() shouldBe empty
    // no feedback, no expansion: second pass scores the original terms at
    // half weight -> still no match here, and no spurious rows either
    Retrieval.rm3TopK(d).collect() shouldBe empty
    // a partially-matching query (one unobtainable term, one real) still
    // retrieves through the surviving term
    val d2 = docs(0L -> "unobtanium cherry", 1L -> "plum", 2L -> "cherry")
    val rm = Retrieval.rm3TopK(d2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    rm.map(_._1).toSet shouldBe Set(2L)
    rm.head._2 should be > 0.0
  }

  test("rm3 pass-2 plan: the sheet-pruned TermFreqs runs before any shuffle") {
    // what the returned frame's plan contains is ONLY pass 2: rm3TopK runs
    // pass 1 (bm25TopK — its plan is pinned by the bm25 plan test above)
    // and the feedback documents' term collect eagerly, as separate jobs,
    // and builds the weight sheet on the driver. Pass 2
    // is the one corpus-scale plan a caller executes, so it is the one a
    // sort-merge join must never enter.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rm3plan").toString
    (0L to 120L).map(i => (i, s"tok${i % 13} tok${i % 7} filler$i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val df = Retrieval.rm3TopK(spark.read.parquet(dir))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    prunedTermFreqsBelowFirstExchange(df.queryExecution.executedPlan)
    plan should not include "LeftSemi"
    plan should not include "SortMergeJoin"
    plan should not include "BroadcastHashJoin"
  }

  test("rm3 against prebuilt postings + index reproduces the " +
      "self-contained query exactly (random corpora)") {
    for (seed <- Seq(41, 42)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
        "pad", "rarer")
      val all = docs((0L until 180L).map { i =>
        i -> Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }: _*)
      val isQuery = col("doc_id") % Retrieval.QueryMod === 0 &&
        col("doc_id") < Retrieval.QueryMod * Retrieval.QueryCount
      val corpus = all.filter(!isQuery)
      def key(df: DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_terms"), r.getAs[Double]("score"),
          r.getAs[Int]("rank"))).toSet
      val self = key(Retrieval.rm3TopK(all))
      self should not be empty
      key(Retrieval.rm3TopKAgainst(
        Retrieval.bm25Postings(corpus), Retrieval.bm25Index(corpus),
        all.filter(isQuery))) shouldBe (self)
    }
  }

  test("bucketed rm3 probe: postings and index read in place — the only " +
      "hash exchanges are the bounded aggregate/rank shuffles") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val corpus = docs((10L until 90L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }: _*)
    Retrieval.writeBm25Postings(
      Retrieval.bm25Postings(corpus), "rm3_postings_spec", buckets = 4)
    Retrieval.writeBm25Index(
      Retrieval.bm25Index(corpus), "rm3_idx_spec", buckets = 4)
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Retrieval.rm3TopKAgainst(
        spark.table("rm3_postings_spec"), spark.table("rm3_idx_spec"),
        docs(0L -> "alpha gamma", 1L -> "delta"))
      out.collect() should not be empty
      val finalPlan = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val rendered = finalPlan.toString
      // both artifacts enter as bucketed FileScans with nothing above them
      "SelectedBucketsCount: 4 out of 4".r.findAllIn(rendered).size shouldBe 2
      // the returned (pass-2) plan's only hash exchanges: the dense
      // per-document slot aggregate and the ranking window — an
      // artifact-side exchange would add a term-keyed third
      val hashEx = "Exchange hashpartitioning".r.findAllIn(rendered).size
      assert(hashEx <= 2, s"artifact-side exchange crept in:\n$rendered")
      rendered should not include "Exchange hashpartitioning(w#"
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS rm3_postings_spec")
      spark.sql("DROP TABLE IF EXISTS rm3_idx_spec")
    }
  }

  test("bpe pairs: counts weight by word frequency and order ties lexicographically") {
    val d = docs(1L -> "ab ab", 2L -> "ab cd", 3L -> "x")
    // 'ab' freq 3 → (a,b)=3; 'cd' freq 1 → (c,d)=1; 'x' has no pair
    val out = TextStats.bpePairCounts(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_occurrences")))
    out shouldBe Array(("a", "b", 3L), ("c", "d", 1L))
  }

  test("bpe pairs: within-word multiplicity counts every adjacent position") {
    val d = docs(1L -> "aaa")
    // 'aaa' has positions (a,a) twice
    val out = TextStats.bpePairCounts(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_occurrences")))
    out shouldBe Array(("a", "a", 2L))
  }

  // --- independent BPE reference (plain collections, no Spark) ---
  private def refMerge(syms: Vector[String], l: String, r: String): Vector[String] =
    syms.foldLeft(Vector.empty[String])((acc, x) =>
      if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
      else acc :+ x)

  private def refTrain(corpus: Seq[String], n: Int): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] = corpus.flatMap(_.split(" "))
      .filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong)
      .toMap.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 0 until n) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) return out.toSeq
      val ((l, r), c) = counts.toSeq.minBy { case ((a, b), k) => (-k, a, b) }
      out += ((l, r, c))
      words = words.map { case (syms, f) => refMerge(syms, l, r) -> f }
    }
    out.toSeq
  }

  test("trainBpe learns the reference merge list on a classic corpus") {
    // Sennrich's toy shape: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3
    val corpus =
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val d = docs(corpus.zipWithIndex.map { case (w, i) => i.toLong -> w }: _*)
    val merges = TextStats.trainBpe(d, numMerges = 6)
    merges shouldBe refTrain(corpus, 6)
    // the famous first merges: 'es' (9), then 'est' (9)
    merges.head shouldBe (("e", "s", 9L))
    merges(1) shouldBe (("es", "t", 9L))
  }

  test("trainBpe and applyBpe agree with the reference on random corpora") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd"
    val corpus = Seq.fill(60)(
      Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(4))).mkString)
        .mkString(" "))
    val d = docs(corpus.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    val merges = TextStats.trainBpe(d, numMerges = 5)
    merges shouldBe refTrain(corpus, 5)
    val pairs = merges.map(m => (m._1, m._2))
    val applied = TextStats.applyBpe(d, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_subwords"), r.getAs[String]("subword_text")))).toMap
    corpus.zipWithIndex.foreach { case (text, i) =>
      val expected = text.split(" ").toSeq.flatMap(w =>
        pairs.foldLeft(w.map(_.toString).toVector) {
          case (syms, (l, r)) => refMerge(syms, l, r)
        })
      applied(i.toLong) shouldBe ((expected.size, expected.mkString(" ")))
    }
  }

  test("trainBpe: the driver-local small-vocab fast path equals the " +
      "distributed loop merge-for-merge on random corpora (r20)") {
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcde"
      val corpus = Seq.fill(50)(
        Seq.fill(1 + rnd.nextInt(4))(
          Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(5))).mkString)
          .mkString(" "))
      val d = docs(corpus.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
      // localVocabCap = 0 forces the distributed per-round loop; the
      // default takes the collected fast path — same merges, same counts
      TextStats.trainBpe(d, numMerges = 6) shouldBe
        TextStats.trainBpe(d, numMerges = 6, localVocabCap = 0L)
    }
  }

  test("trainBpe stops early when no pair remains; single-char corpus trains nothing") {
    val d = docs(1L -> "a b", 2L -> "c")
    TextStats.trainBpe(d, numMerges = 4) shouldBe Seq.empty
  }

  test("consecutive separators create no phantom empty symbols in train or apply") {
    val corpus = Seq("ab  ab", " ab")  // double space + leading space
    val d = docs(corpus.zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
    val merges = TextStats.trainBpe(d, numMerges = 2)
    merges shouldBe refTrain(corpus, 2)
    merges.head shouldBe (("a", "b", 3L))
    val applied = TextStats.applyBpe(d, merges.map(m => (m._1, m._2)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_subwords"),
          r.getAs[String]("subword_text")))).toMap
    applied(0L) shouldBe ((2, 2, "ab ab"))  // empty middle token dropped
    applied(1L) shouldBe ((1, 1, "ab"))
  }

  test("empty query sheet gates everything out; empty index fails loudly") {
    val corpus = docs(1L -> "alpha beta")
    val model = Retrieval.bm25Model(Retrieval.bm25Index(corpus),
      corpus.limit(0))
    val out = Retrieval.bm25IngestGate(docs(7L -> "alpha"), model)
    out.count() shouldBe 0L
    out.columns shouldBe Array("doc_id", "query_id", "score", "n_terms")
    an[IllegalArgumentException] should be thrownBy
      Retrieval.bm25Model(Retrieval.bm25Index(corpus.limit(0)),
        docs(0L -> "alpha"))
  }

  test("stratified sample: exactly k per source, identity-keyed (text edits never move it)") {
    import spark.implicits._
    val d = (1L to 40L).map(i => (i, s"text $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val out = Curation.stratifiedSample(d, k = 3).collect()
    out.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap shouldBe
      Map("src0" -> 3, "src1" -> 3)
    // editing every text changes nothing — the key is doc_id, not content
    val edited = (1L to 40L).map(i => (i, s"EDITED $i", s"src${i % 2}"))
      .toDF("doc_id", "text", "source")
    val out2 = Curation.stratifiedSample(edited, k = 3).collect()
    out2.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
      r.getAs[Int]("rank"))).toSet shouldBe
      out.map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("rank"))).toSet
  }

  test("stratified sample uses its own hash namespace, not the split/quota key") {
    import org.apache.spark.sql.functions._
    // same doc_id must produce different orderings under sample vs raw md5 —
    // pin the namespace prefix actually lands in the key
    val d = docs(1L -> "t").withColumn("source", lit("s"))
    val key = Curation.stratifiedSample(d, k = 1).collect().head
      .getAs[String]("sample_key")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("sample:1".getBytes("UTF-8")).map("%02x".format(_)).mkString
    key shouldBe md
  }

  test("bm25 against a prebuilt index reproduces the self-contained query exactly") {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "pad")
    val all = docs((0L until 180L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }: _*)
    val isQuery = col("doc_id") % Retrieval.QueryMod === 0 &&
      col("doc_id") < Retrieval.QueryMod * Retrieval.QueryCount
    val corpus = all.filter(!isQuery)
    val viaIndex = Retrieval.bm25TopKAgainst(
      corpus, Retrieval.bm25Index(corpus), all.filter(isQuery))
    def key(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_terms"), r.getAs[Double]("score"),
        r.getAs[Int]("rank"))).toSet
    val self = key(Retrieval.bm25TopK(all))
    self should not be empty
    key(viaIndex) shouldBe self
  }

  test("a 70-query sheet: bm25 and rm3 against the index equal one-query runs") {
    val rnd = new scala.util.Random(70)
    val vocab = Vector.tabulate(24)(i => s"t$i")
    def text(n: Int) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = docs((1000L until 1120L).map(i =>
      i -> text(3 + rnd.nextInt(10))): _*)
    // wider than the 64-query chunks the slot aggregate once scored in
    val nq = 70L
    val queries = docs((0L until nq).map(i => i -> text(1 + rnd.nextInt(3))): _*)
    val postings = Retrieval.bm25Postings(corpus).localCheckpoint()
    val index = Retrieval.bm25Index(corpus).localCheckpoint()
    def key(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_terms"), r.getAs[Double]("score"),
        r.getAs[Int]("rank"))).toSet
    // the 2 × 70 one-query runs go four at a time: each is a handful of
    // small jobs, so a serial loop is all driver-side scheduling
    def perQuery(run: DataFrame => DataFrame) = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse((0L until nq).toList)(q =>
          Future(key(run(queries.filter(col("doc_id") === q))))),
        scala.concurrent.duration.Duration(10, "min")).reduce(_ ++ _)
      finally pool.shutdown()
    }
    val bm = key(Retrieval.bm25TopKAgainst(corpus, index, queries))
    // every query matches, so slots past the 64th score too
    bm.map(_._1) shouldBe (0L until nq).toSet
    bm shouldBe perQuery(Retrieval.bm25TopKAgainst(corpus, index, _))
    val rm = key(Retrieval.rm3TopKAgainst(postings, index, queries))
    rm.map(_._1) shouldBe (0L until nq).toSet
    rm shouldBe perQuery(Retrieval.rm3TopKAgainst(postings, index, _))
  }

  test("bm25 increment scoring: unseen terms contribute nothing, seen terms score") {
    // index corpus knows only 'alpha beta'; the increment doc adds 'newterm'
    val corpus = docs(1L -> "alpha beta", 2L -> "beta beta")
    val queries = docs(0L -> "alpha newterm")
    val inc = docs(7L -> "alpha newterm newterm")
    val out = Retrieval.bm25TopKAgainst(inc, Retrieval.bm25Index(corpus), queries)
      .collect()
    out.length shouldBe 1
    // only 'alpha' scored: one matched term despite 'newterm' matching the query
    out.head.getAs[Long]("n_terms") shouldBe 1L
    out.head.getAs[Long]("doc_id") shouldBe 7L
  }

  test("bucketed bm25 index: the probe re-shuffles ONLY the increment side") {
    Retrieval.writeBm25Index(
      Retrieval.bm25Index(docs(1L -> "alpha beta gamma", 2L -> "beta delta")),
      "bm25_idx_spec", buckets = 4)
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val scored = Retrieval.bm25TopKAgainst(
        docs(7L -> "alpha alpha delta", 8L -> "gamma"),
        spark.table("bm25_idx_spec"), docs(0L -> "alpha gamma delta"))
      scored.collect() should not be empty
      val finalPlan = scored.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val rendered = finalPlan.toString
      // the index enters as a bucketed FileScan with NOTHING above it —
      // every bucket participates in the probe join in place
      rendered should include("Bucketed: true")
      rendered should include("SelectedBucketsCount: 4 out of 4")
      // three hash-exchange mentions, all accounted increment-side: the
      // term-key probe join's increment side, the dense per-document slot
      // aggregate, and the ranking window (tf is counted in-row, so no
      // (doc, term) aggregate exchange; the dense kernel has no sheet
      // broadcasts and no ReusedExchange echo); an index-side exchange
      // would make it four
      "Exchange hashpartitioning".r.findAllIn(rendered).size shouldBe 3
      "ReusedExchange".r.findAllIn(rendered).size shouldBe 0
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bm25_idx_spec")
    }
  }

  test("ingest gate scores are bit-equal to the batch index path; best query wins") {
    val rnd = new scala.util.Random(97)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val corpus = docs((10L until 80L).map { i =>
      i -> Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }: _*)
    val queries = docs(0L -> "alpha beta", 1L -> "gamma delta", 2L -> "eps")
    val inc = docs((200L until 240L).map { i =>
      i -> Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }: _*)
    val index = Retrieval.bm25Index(corpus)
    val gate = Retrieval.bm25IngestGate(inc, Retrieval.bm25Model(index, queries))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("query_id"), r.getAs[Double]("score"),
          r.getAs[Long]("n_terms")))).toMap
    // batch reference: every (query, doc) score, reduced to best-per-doc
    // with the gate's tiebreak (max score, then min qid)
    val batch = Retrieval.bm25TopKAgainst(inc, index, queries, k = Int.MaxValue)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("query_id"), r.getAs[Double]("score"),
          r.getAs[Long]("n_terms"))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).minBy { case (q, s, _) => (-s, q) }).toMap
    gate should not be empty
    gate shouldBe batch
  }

  test("ingest gate is one narrow projection (no exchange) — the streamable shape") {
    val corpus = docs(1L -> "alpha beta", 2L -> "beta gamma")
    val model = Retrieval.bm25Model(Retrieval.bm25Index(corpus),
      docs(0L -> "alpha gamma"))
    val gated = Retrieval.bm25IngestGate(docs(7L -> "alpha x y"), model)
    gated.queryExecution.executedPlan.toString should not include "Exchange"
    // and no-match docs emit nothing
    Retrieval.bm25IngestGate(docs(8L -> "unrelated words"), model)
      .count() shouldBe 0L
  }

  test("ingest gate corners: zero-score tie, NULL text, multi-byte + shared terms") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // (1) zero-score tie-break prefers the MATCHFUL query: a term in
    // (nearly) every one of 5M docs has idf ≈ 1e-7, so its rounded 6-dp
    // contribution is 0.000000 — TYING the non-matching query's 0. The
    // batch scorer (and the x65 oracle's sc CTE) rank over matching rows
    // only, so they emit (q5, 0.0) here — the gate must agree, whichever
    // side of the tie holds the smaller id, or it drops a document the
    // batch path emits.
    val tieModel = Retrieval.Bm25Model(5000000L, 10.0, Seq(
      1L -> Seq.empty, 5L -> Seq("x" -> 5000000L)))
    val tie = Retrieval.bm25IngestGate(docs(7L -> "x x x"), tieModel).collect()
    tie.map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("score"),
      r.getAs[Long]("n_terms"))).toSeq shouldBe Seq((5L, 0.0, 1L))
    // flipped ids: same decision when the matching query holds the smaller id
    val winModel = Retrieval.Bm25Model(5000000L, 10.0, Seq(
      1L -> Seq("x" -> 5000000L), 5L -> Seq.empty))
    val win = Retrieval.bm25IngestGate(docs(7L -> "x x x"), winModel).collect()
    win.map(r => (r.getAs[Long]("query_id"), r.getAs[Double]("score"),
      r.getAs[Long]("n_terms"))).toSeq shouldBe Seq((1L, 0.0, 1L))
    // (2) NULL text → NULL struct → filtered, not an NPE and not a row
    val nullText = spark.createDataFrame(
      java.util.Arrays.asList(Row(9L, null: String)),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
    Retrieval.bm25IngestGate(nullText, winModel).count() shouldBe 0L
    // (3) multi-byte terms match through the internal UTF8 representation,
    // and a term shared by two queries scores in both (higher-idf... same
    // idf — the doc carries q2's second term too, so q2 wins on score)
    val utf = Retrieval.Bm25Model(100L, 4.0, Seq(
      2L -> Seq("héllo" -> 5L, "wörld" -> 5L), 3L -> Seq("héllo" -> 5L)))
    val got = Retrieval.bm25IngestGate(docs(11L -> "héllo wörld naïve"), utf)
      .collect()
    got.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_terms")))
      .toSeq shouldBe Seq((2L, 2L))
  }

  private def vecs(rows: (Long, Seq[Double], Int)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v, l) => (id, v.map(_.toFloat).toArray, l) }
      .toDF("vec_id", "embedding", "label")
  }

  test("knn label transfer: majority vote wins, vote ties go to the smaller label") {
    // held-out vec 10 nearest: three label-1, two label-2 under k=5
    val d = vecs(
      (10L, Seq(1.0, 0.0), 9),            // held out (vec_id % 10 == 0)
      (1L, Seq(1.0, 0.01), 1), (2L, Seq(1.0, 0.02), 1),
      (3L, Seq(1.0, 0.03), 1), (4L, Seq(1.0, 0.04), 2),
      (5L, Seq(1.0, 0.05), 2), (6L, Seq(0.0, 1.0), 3))
    val r = Similarity.knnLabelTransfer(d).collect()
    r.length shouldBe 1
    r.head.getAs[Int]("predicted_label") shouldBe 1
    r.head.getAs[Long]("n_votes") shouldBe 3L
    r.head.getAs[Int]("actual_label") shouldBe 9
    r.head.getAs[Boolean]("agree") shouldBe false

    // 2-2 vote tie (k=4): smaller label predicted
    val tied = vecs(
      (10L, Seq(1.0, 0.0), 2),
      (1L, Seq(1.0, 0.01), 1), (2L, Seq(1.0, 0.02), 1),
      (3L, Seq(1.0, 0.03), 2), (4L, Seq(1.0, 0.04), 2))
    val t = Similarity.knnLabelTransfer(tied, k = 4).collect().head
    t.getAs[Int]("predicted_label") shouldBe 1
    t.getAs[Boolean]("agree") shouldBe false
  }

  test("knn label transfer: degenerate vectors neither vote nor get predictions") {
    val d = vecs(
      (10L, Seq(0.0, 0.0), 1),            // zero-norm held-out: no prediction
      (20L, Seq(1.0, 0.0), 1),            // healthy held-out
      (1L, Seq(0.0, 0.0), 2),             // zero-norm corpus: never votes
      (2L, Seq(1.0, 0.1), 3))
    val r = Similarity.knnLabelTransfer(d).collect()
    r.map(_.getAs[Long]("vec_id")).toSet shouldBe Set(20L)
    r.head.getAs[Int]("predicted_label") shouldBe 3
  }

  private def rrfRound(terms: Int*): Double = {
    val s = terms.filter(_ > 0)
      .map(r => 1.0 / (Retrieval.RrfK + r)).foldLeft(0.0)(_ + _)
    BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("hybrid RRF: two-system evidence beats either alone; scores match 1/(60+rank) by hand") {
    val d = docs(
      0L -> "apple banana",                // query sheet (doc_id % 50 == 0)
      1L -> "apple banana",                // lexical rank 1
      2L -> "apple",                       // lexical rank 2
      3L -> "cherry durian")               // no lexical match
    val e = vecs(
      (0L, Seq(1.0, 0.0, 0.0), 0),
      (1L, Seq(0.0, 1.0, 0.0), 0),        // cos 0   → dense rank 3
      (2L, Seq(0.6, 0.8, 0.0), 0),        // cos 0.6 → dense rank 2
      (3L, Seq(0.9, 0.43588989435406736, 0.0), 0)) // cos 0.9 → dense rank 1
    val out = Retrieval.hybridRrfTopK(d, e).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("lex_rank"), r.getAs[Int]("dense_rank"),
          r.getAs[Double]("rrf_score"), r.getAs[Int]("rank")))).toMap
    // doc 1: lex 1 + dense 3 = 1/61 + 1/63 — edges out doc 2's 2/62 by 8e-6,
    // exactly the near-tie the 6-dp rounding must preserve
    out(1L) shouldBe ((1, 3, rrfRound(1, 3), 1))
    out(2L) shouldBe ((2, 2, rrfRound(2, 2), 2))
    // doc 3: dense-only evidence — lexical absence reports rank 0, not NULL
    out(3L) shouldBe ((0, 1, rrfRound(1), 3))
  }

  test("hybrid RRF: a degenerate embedding loses dense evidence but lexical evidence still surfaces the doc") {
    val d = docs(
      0L -> "apple banana",
      1L -> "apple banana",
      2L -> "apple")
    val e = vecs(
      (0L, Seq(1.0, 0.0), 0),
      (1L, Seq(0.0, 0.0), 0),             // zero-norm: no dense row
      (2L, Seq(0.8, 0.6), 0))
    val out = Retrieval.hybridRrfTopK(d, e).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("lex_rank"), r.getAs[Int]("dense_rank"),
          r.getAs[Double]("rrf_score")))).toMap
    out(1L) shouldBe ((1, 0, rrfRound(1)))
    out(2L) shouldBe ((2, 1, rrfRound(2, 1)))
  }

  test("hybrid ingest gate routes: keep / contaminated / irrelevant / unscreenable, with sentinels") {
    import spark.implicits._
    val corpus = docs(
      10L -> "alpha beta", 11L -> "alpha", 12L -> "unrelated junk",
      13L -> "alpha gamma")
    val sheet = docs(50L -> "alpha")     // nonzero qid: sentinel 0 is distinct
    val model = Retrieval.bm25Model(Retrieval.bm25Index(corpus), sheet)
    val bench = Seq(100L -> Seq(1.0, 0.0))           // unit benchmark vector
    val inp = corpus.join(Seq(
      (10L, Array(0.1f, 1f)),            // cos≈0.0995 < τ: clean
      (11L, Array(1f, 0.2f)),            // cos≈0.98 ≥ τ: contaminated
      (12L, Array(0f, 1f)),              // clean but irrelevant text
      (13L, Array(0f, 0f)))              // zero-norm: unscreenable
      .toDF("doc_id", "embedding"), "doc_id")
    val out = Retrieval.hybridIngestGate(inp, model, bench, tau = 0.3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("relevant"), r.getAs[Boolean]("contaminated"),
          r.getAs[Boolean]("screenable"), r.getAs[Boolean]("keep"),
          r.getAs[Long]("query_id"), r.getAs[Long]("bench_id")))).toMap
    out(10L) shouldBe ((true, false, true, true, 50L, 100L))
    out(11L) shouldBe ((true, true, true, false, 50L, 100L))
    // irrelevant: query sentinel −1 (0 would collide with a legitimate
    // sheet doc_id 0; not the kernel's internal argmax pick either)
    out(12L) shouldBe ((false, false, true, false, -1L, 100L))
    // unscreenable: quarantined even though its text serves the task
    out(13L) shouldBe ((true, false, false, false, 50L, -1L))
  }

  test("hybrid ingest gate: empty benchmark screens on normalizability alone; empty sheet gates all out") {
    import spark.implicits._
    val corpus = docs(10L -> "alpha", 11L -> "alpha")
    val sheet = docs(0L -> "alpha")
    val model = Retrieval.bm25Model(Retrieval.bm25Index(corpus), sheet)
    val inp = corpus.join(Seq(
      (10L, Array(1f, 0f)), (11L, Array(0f, 0f)))
      .toDF("doc_id", "embedding"), "doc_id")
    val noBench = Retrieval.hybridIngestGate(inp, model, Nil, tau = 0.3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("contaminated"), r.getAs[Boolean]("screenable"),
          r.getAs[Boolean]("keep"), r.getAs[Long]("bench_id"),
          r.getAs[Double]("bench_cosine")))).toMap
    noBench(10L) shouldBe ((false, true, true, -1L, 0.0))
    noBench(11L) shouldBe ((false, false, false, -1L, 0.0))
    val emptyModel = Retrieval.bm25Model(Retrieval.bm25Index(corpus),
      docs().limit(0))
    val noSheet = Retrieval.hybridIngestGate(inp, emptyModel,
      Seq(100L -> Seq(1.0, 0.0)), tau = 0.3).collect()
      .map(r => (r.getAs[Boolean]("relevant"), r.getAs[Boolean]("keep")))
    noSheet.toSet shouldBe Set((false, false))
  }

  test("gate kernel: a zero-ROUNDED matching score still beats a matchless query on the tie") {
    // hand-built model: avgdl ~ 1e-9 makes dlTerm enormous, so the matching
    // term's idf·norm rounds to 0.000000 — the decimal sum then TIES the
    // matchless query's zero. The batch scorer ranks over matching rows
    // only, so the gate must prefer the matchful query (q7) over the
    // lower-id matchless one (q3) or it would drop a document the batch
    // path emits. (Reachable in nature only at df≈N million-doc corpora —
    // which is exactly why it is pinned with a synthetic model here.)
    val model = Retrieval.Bm25Model(n = 10, avgdl = 1e-9,
      queries = Seq(3L -> Seq("zzz" -> 1L), 7L -> Seq("alpha" -> 1L)))
    val out = Retrieval.bm25IngestGate(
      docs(20L -> "alpha filler"), model).collect()
    out.length shouldBe 1
    out.head.getAs[Long]("query_id") shouldBe 7L
    out.head.getAs[Long]("n_terms") shouldBe 1L
    out.head.getAs[Double]("score") shouldBe 0.0
  }

  test("hybrid RRF: a degenerate QUERY vector still retrieves on lexical evidence alone") {
    val d = docs(0L -> "apple", 1L -> "apple pad")
    val e = vecs((0L, Seq(0.0, 0.0), 0), (1L, Seq(1.0, 0.0), 0))
    val out = Retrieval.hybridRrfTopK(d, e).collect()
    out.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      r.getAs[Int]("lex_rank"), r.getAs[Int]("dense_rank"))).toSeq shouldBe
      Seq((0L, 1L, 1, 0))
  }

  /** A deterministic 60-doc corpus wide enough that cells are non-trivial:
    * words cycle so lexical evidence varies, embeddings sweep the unit circle
    * in 4-d so cosines are dense and distinct. doc_ids 0 and 50 are the sheet
    * (QueryMod = 50, QueryCount = 2). */
  private def fusionFixture(): (DataFrame, DataFrame) = {
    val words = Seq("apple", "banana", "cherry", "date", "elder")
    val d = docs((0L until 60L).map(i =>
      i -> (0 to (i % 4).toInt).map(j => words(((i + j) % 5).toInt))
        .mkString(" ")): _*)
    val e = vecs((0L until 60L).map { i =>
      val t = 0.1 * i
      (i, Seq(math.cos(t), math.sin(t), math.cos(2 * t) / 2, 0.25), 0)
    }: _*)
    (d, e)
  }

  test("pluggable dense generator: full-probe IVF fusion is bit-for-bit the exact fusion") {
    val (d, e) = fusionFixture()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
    val exact = Retrieval.hybridRrfTopK(d, e).collect().sortBy(key).toSeq
    // nprobe >= numCentroids: every cell probed, every (query, doc) cosine
    // computed exactly once with the same kernel — the x70 restriction-
    // never-changes-a-score discipline, so equality is exact, not approximate
    val full = Retrieval.hybridRrfTopK(d, e,
      dense = Retrieval.ivfDenseCandidates(numCentroids = 5, nprobe = 5))
      .collect().sortBy(key).toSeq
    full shouldBe exact
  }

  test("pluggable dense generator: default seeding on an id-shifted corpus" +
      " fails loudly instead of silently going lexical-only") {
    // a corpus whose vec_ids start past numCentroids has NO default seeds;
    // an empty dense frame here would silently degrade the fusion while the
    // exact generator returns full dense evidence — the SPI contract says
    // swapping generators changes only HOW candidates are found
    val shifted = vecs((100L until 110L).map(i =>
      (i, Seq(1.0, 0.1 * i, 0.0, 0.0), 0)): _*)
    val corpus = graft.corpus.Similarity.normalizedBase(shifted)
      .filter(col("e").isNotNull)
    val queries = corpus.limit(1)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val ex = intercept[IllegalArgumentException] {
      Retrieval.ivfDenseCandidates(numCentroids = 5)(corpus, queries, 10)
    }
    ex.getMessage should include("no centroid seeds")
    // an EMPTY corpus still returns the empty frame (the annIvf contract):
    // nothing to search is not an error
    Retrieval.ivfDenseCandidates(numCentroids = 5)(
      corpus.limit(0), queries, 10).count() shouldBe 0
    // and an EXPLICIT empty centroid list is the caller's choice, not an
    // id-range miss: the empty-frame contract holds, no throw
    Retrieval.ivfDenseCandidates(numCentroids = 5,
      centroids = Some(Seq.empty))(corpus, queries, 10).count() shouldBe 0
  }

  test("pluggable dense generator: restricted probe stays a well-formed fusion; lexical side untouched") {
    val (d, e) = fusionFixture()
    val out = Retrieval.hybridRrfTopK(d, e,
      dense = Retrieval.ivfDenseCandidates(numCentroids = 5, nprobe = 1))
      .collect()
    out.nonEmpty shouldBe true
    out.foreach { r =>
      r.getAs[Int]("dense_rank") should be <= Retrieval.DefaultFusionCandidates
      r.getAs[Int]("rank") should be >= 1
    }
    // restricting the probe can only REMOVE dense evidence, never change the
    // lexical side: every surfaced lex_rank must be BM25's own rank for that
    // (query, doc) — compared against bm25TopK directly, because the final
    // top-k can legitimately admit different docs once dense evidence thins
    val bm25 = Retrieval.bm25TopK(d, k = Retrieval.DefaultFusionCandidates)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rank")).toMap
    out.filter(_.getAs[Int]("lex_rank") > 0).foreach { r =>
      bm25((r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))) shouldBe
        r.getAs[Int]("lex_rank")
    }
  }

  test("pluggable dense generator: IVF-PQ-backed fusion runs off the code index with the exact schema") {
    val (d, e) = fusionFixture()
    val Q = Quantization
    val cbs = Q.sliceCodebooks(e, m = 2, ksub = 8, dim = 4)
    val cents = Q.centroidSeeds(e, numCentroids = 5, dim = 4)
    val index = Q.ivfPqIndex(e, cbs, cents, dim = 4)
    val out = Retrieval.hybridRrfTopK(d, e,
      dense = Retrieval.ivfAdcDenseCandidates(index, cbs, cents, nprobe = 5))
    val exact = Retrieval.hybridRrfTopK(d, e)
    out.schema shouldBe exact.schema
    val rows = out.collect()
    rows.nonEmpty shouldBe true
    // deterministic: the ADC path has no randomness — a second run is equal
    Retrieval.hybridRrfTopK(d, e,
        dense = Retrieval.ivfAdcDenseCandidates(index, cbs, cents, nprobe = 5))
      .collect().toSeq shouldBe rows.toSeq
  }
}
