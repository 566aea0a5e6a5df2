package graft.corpus

import graft.SparkSpec
import graft.corpus.Retrieval.TermRow
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The retrieval twins' driver artifacts: the RM3 weight sheet built on the
  * driver against the Spark chain it replaced, the corpus statistics
  * observed on the query-side scan against [[Retrieval.corpusStats]], and
  * the number of Spark actions each operator runs while it is built. */
class RetrievalDriverSpec extends AnyFunSuite with SparkSpec with Matchers
    with AdaptiveSparkPlanHelper {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** The weight-sheet chain as Spark ran it before it moved to the driver:
    * the RM1 join, the per-(query, term) sum, the top-`fbTerms` window,
    * and the union with the original weights, summed per (query, term). */
  private def referee(fbRows: Seq[(Long, Long, Double)], fbTf: Seq[TermRow],
      qterms: Seq[TermRow], fbTerms: Int): Set[(Long, String, Long)] = {
    import spark.implicits._
    val ssum = fbRows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(r => BigDecimal.valueOf(r._3)).sum.toDouble
    }
    val fbSnorm = fbRows.map { case (q, d, s) => (q, d, s / ssum(q)) }
      .toDF("qid", "doc_id", "snorm")
    def tfFrame(ts: Seq[TermRow]) =
      ts.map(t => (t.docId, t.dl, t.w, t.tf)).toDF("doc_id", "dl", "w", "tf")
    val rm1 = tfFrame(fbTf).join(broadcast(fbSnorm), "doc_id")
      .select(col("qid"), col("w"),
        round(round(col("snorm") * (col("tf") / col("dl").cast("double")), 9)
          * 1e9, 0).cast("long").as("c"))
      .groupBy(col("qid"), col("w"))
      .agg(sum(col("c")).as("rw_nano"))
    val topm = rm1.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rw_nano").desc, col("w"))))
      .filter(col("rn") <= fbTerms)
      .select(col("qid"), col("w"), col("rw_nano"))
    tfFrame(qterms)
      .select(col("doc_id").as("qid"), col("w"),
        expr("(1000000L * tf + dl) div (2L * dl)").as("m"))
      .unionByName(topm.select(col("qid"), col("w"),
        expr("(rw_nano + 1000L) div 2000L").as("m")))
      .groupBy(col("qid"), col("w")).agg(sum(col("m")).as("wt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
  }

  private def driver(fbRows: Seq[(Long, Long, Double)], fbTf: Seq[TermRow],
      qterms: Seq[TermRow], fbTerms: Int): Set[(Long, String, Long)] = {
    val sheet = Retrieval.rm3WeightSheet(fbRows, fbTf, qterms, fbTerms)
    val flat = sheet.flatMap { case (q, ws) => ws.map { case (w, m) => (q, w, m) } }
    flat.map(t => (t._1, t._2)).distinct.size shouldBe flat.size
    flat.toSet
  }

  /** A document's term rows, as [[Retrieval]]'s term-frequency kernel
    * counts them. */
  private def termRows(id: Long, toks: Seq[String]): Seq[TermRow] =
    toks.distinct.map(w => TermRow(id, toks.size, w, toks.count(_ == w).toLong))

  /** A contribution tf/dl that lies on a 9-dp HALF_UP boundary in decimal,
    * (2000k + 999.5)·10⁻⁹, whose double times 10⁹ rounds DOWN under
    * `Math.round`: Spark's decimal rounding gives 2000k + 1000 nano units,
    * so the RM1 half-weight (rw + 1000) div 2000 is k + 1, where rounding
    * the binary value would give k. */
  private lazy val boundary: (Long, Int) = {
    val dl = 2000000000
    (0L until 100000L).iterator.map(k => 4000L * k + 1999L)
      .find { tf =>
        val x = tf.toDouble / dl.toDouble
        val decimal = java.math.BigDecimal.valueOf(x)
          .setScale(9, java.math.RoundingMode.HALF_UP).movePointRight(9).longValueExact
        decimal != Math.round(x * 1e9) && Math.round(x * 1e9) % 2000L == 999L
      }
      .map(tf => (tf, dl))
      .getOrElse(fail("no 9-dp boundary contribution below k = 100000"))
  }

  test("rm3 weight sheet: the driver build equals the Spark chain on its corner cases") {
    val (btf, bdl) = boundary
    // query 1: original "apple pear"; two feedback docs, doc 20 shared with
    // query 3; "apple" is in both the original and the expansion
    // query 2: one feedback doc (snorm = 1) holding the 9-dp boundary term
    // and two equal-mass terms that UTF-16 and UTF-8 order differently
    // query 3: its doc_id is held by two query rows whose terms add up
    val qterms = termRows(1, Seq("apple", "pear")) ++
      termRows(2, Seq("｡", "kiwi")) ++
      termRows(3, Seq("fig", "fig", "lime")) ++ termRows(3, Seq("fig"))
    val fbTf = termRows(10, Seq("apple", "plum", "plum", "zebra")) ++
      termRows(20, Seq("apple", "｡", "😀", "kiwi")) ++
      Seq(TermRow(30, bdl, "edge", btf), TermRow(30, bdl, "😀", 1L),
        TermRow(30, bdl, "｡", 1L)) ++
      termRows(40, Seq("lime", "date"))
    val fbRows = Seq((1L, 10L, 3.141592), (1L, 20L, 1.5), (2L, 30L, 2.0),
      (3L, 40L, 0.25), (3L, 20L, 0.75))
    for (fbTerms <- 0 to 5) withClue(s"fbTerms = $fbTerms: ") {
      driver(fbRows, fbTf, qterms, fbTerms) shouldBe
        referee(fbRows, fbTf, qterms, fbTerms)
    }
    val q2 = driver(fbRows.filter(_._1 == 2L), fbTf, Nil, 2)
    // the boundary term keeps its decimal rounding: (2000k + 1000) nano
    q2 should contain((2L, "edge", (btf + 1L) / 4000L + 1L))
    // "｡" (EF BD A1) sorts before "😀" (F0 9F 98 80) in UTF-8, after it in
    // UTF-16: at equal mass, the byte order keeps "｡"
    q2.map(_._2) shouldBe Set("edge", "｡")
  }

  test("rm3 weight sheet: the driver build equals the Spark chain on random sheets") {
    val vocab = Vector("a", "b", "c", "d", "e", "é", "ß", "｡", "😀", "中", "")
    for (seed <- 1 to 6) withClue(s"seed $seed: ") {
      val rnd = new scala.util.Random(seed)
      def text() = Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val nq = 1 + rnd.nextInt(6)
      val qterms = (0 until nq + rnd.nextInt(3)).flatMap(_ =>
        termRows(rnd.nextInt(nq).toLong, text()))
      val pool = 100L until 100L + 2 + rnd.nextInt(8)
      val fbTf = pool.flatMap(d => termRows(d, text()))
      val fbRows = (0 until nq).flatMap { q =>
        rnd.shuffle(pool.toList).take(1 + rnd.nextInt(pool.size)).map(d =>
          (q.toLong, d, BigDecimal(rnd.nextInt(20000000), 6).toDouble))
      }
      val fbTerms = rnd.nextInt(6)
      driver(fbRows, fbTf, qterms, fbTerms) shouldBe
        referee(fbRows, fbTf, qterms, fbTerms)
    }
  }

  test("rm3 weight sheet: an overflowing weight throws, as the ANSI arithmetic does") {
    val qterms = Seq(TermRow(1, 1, "w", Long.MaxValue / 1000000L + 1L))
    an[ArithmeticException] should be thrownBy
      Retrieval.rm3WeightSheet(Nil, Nil, qterms, 1)
  }

  /** (N, avgdl) as [[Retrieval.corpusStats]] computes them over the rows
    * the query sheet excludes; None where its avgdl is NULL. */
  private def referenceStats(d: DataFrame): Option[(Long, Double)] = {
    val r = Retrieval.corpusStats(d.filter(!Retrieval.querySheetCol()))
      .collect().head
    if (r.isNullAt(1)) None else Some((r.getLong(0), r.getDouble(1)))
  }

  test("query-side scan: the observed (N, avgdl) equal corpusStats") {
    val cases = Seq(
      "NULL text" -> docs(0L -> "apple", 1L -> "apple pie", 2L -> null, 3L -> "x y z"),
      "empty text" -> docs(0L -> "apple", 1L -> "", 2L -> "apple", 3L -> " "),
      "all-NULL corpus" -> docs(0L -> "apple", 1L -> null, 2L -> null),
      "empty corpus" -> docs(0L -> "apple", 50L -> "pear"))
    for ((name, d) <- cases) withClue(s"$name: ") {
      val (terms, stats) = Retrieval.queryScan(d, Retrieval.querySheetCol())
      stats shouldBe referenceStats(d)
      terms.map(_.docId).toSet shouldBe
        d.filter(Retrieval.querySheetCol()).collect().map(_.getLong(0)).toSet
    }
    referenceStats(cases(2)._2) shouldBe None
    referenceStats(cases(3)._2) shouldBe None
    // no corpus row with text: both passes return the empty frame
    for ((_, d) <- cases.drop(2)) {
      Retrieval.bm25TopK(d).collect() shouldBe empty
      Retrieval.rm3TopK(d).collect() shouldBe empty
    }
  }

  /** The SQL executions (Dataset actions) `f` runs on the shared session. */
  private def actions[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        n.incrementAndGet()
    }
    GraftExpressionBridge.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val a = f
      GraftExpressionBridge.drainListenerBus(spark)
      (a, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("construction cost: one action per bm25 pass, three per rm3 pass") {
    val rnd = new scala.util.Random(12)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val all = docs((0L until 160L).map(i => i ->
      Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")): _*)
    val isQuery = Retrieval.querySheetCol()
    val corpus = all.filter(!isQuery)
    val postings = Retrieval.bm25Postings(corpus).localCheckpoint()
    val index = Retrieval.bm25Index(corpus).localCheckpoint()
    val queryDocs = all.filter(isQuery)

    val (bm25, bm25Actions) = actions(Retrieval.bm25TopK(all))
    bm25Actions shouldBe 1
    actions(Retrieval.bm25TopKAgainst(corpus, index, queryDocs))._2 shouldBe 1
    actions(Retrieval.rm3TopK(all))._2 shouldBe 3
    actions(Retrieval.rm3TopKAgainst(postings, index, queryDocs))._2 shouldBe 3

    // the corpus stats enter bm25's plan as literals: no stats join
    bm25.collect() should not be empty
    collect(bm25.queryExecution.executedPlan) {
      case j: BroadcastNestedLoopJoinExec => j
    } shouldBe empty
  }
}
