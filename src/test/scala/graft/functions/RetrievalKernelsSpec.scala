package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, functions => F}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The two retrieval kernels against the DataFrame formulations they
  * replace in `graft.corpus.Retrieval`, which live on here only as referees:
  * [[TermFreqs]] against `split` → `array_distinct` → `explode` →
  * `map_contains_key` → `array_remove`, and [[SheetSlotSums]] against the
  * 2·|sheet|-column `sum(element_at(slot vector, i) · t)` aggregate. */
class RetrievalKernelsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def texts(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def kernelTf(docs: DataFrame, vocab: Option[Set[String]]): DataFrame =
    docs.select(col("doc_id"), inline(GraftExpressionBridge.column(
      TermFreqs(GraftExpressionBridge.expression(col("text")), vocab))))

  private def refereeTf(docs: DataFrame, vocab: Option[Set[String]]): DataFrame = {
    val terms = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), F.size(col("ws")).as("dl"), col("ws"),
        explode(array_distinct(col("ws"))).as("w"))
    vocab.fold(terms)(v =>
        terms.filter(map_contains_key(typedLit(v.map(_ -> 1).toMap), col("w"))))
      .select(col("doc_id"), col("dl"), col("w"),
        (col("dl") - F.size(array_remove(col("ws"), col("w")))).cast("long").as("tf"))
  }

  private def rows(df: DataFrame): Seq[(Long, Int, String, Long)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))

  test("TermFreqs equals the split/array_remove referee, pruned and unpruned, " +
      "in first-occurrence order") {
    val rnd = new scala.util.Random(17)
    val words = Vector("a", "b", "tok", "日本", "語", "ünï", "cødé", "x" * 12, "😀")
    val edge = Seq(" lead", "trail ", "double  space", "", " ", "  ", null,
      "日本 語 日本", "ünï cødé ünï ünï", "a a a", "a  a ", "😀 😀x 😀")
    val random = Seq.fill(200) {
      val n = rnd.nextInt(9)
      val sb = new StringBuilder
      if (rnd.nextInt(6) == 0) sb.append(' ')
      (0 until n).foreach { i =>
        if (i > 0) sb.append(if (rnd.nextInt(8) == 0) "  " else " ")
        sb.append(words(rnd.nextInt(words.size)))
      }
      if (rnd.nextInt(6) == 0) sb.append(' ')
      sb.toString
    }
    val docs = texts((edge ++ random).zipWithIndex.map { case (t, i) => i.toLong -> t }: _*)
      .repartition(3).localCheckpoint()
    for (vocab <- Seq(None, Some(Set("a", "日本", "", "ünï", "😀", "absent")))) {
      val got = rows(kernelTf(docs, vocab))
      got shouldBe rows(refereeTf(docs, vocab))
      got should not be empty
    }
    val schema = kernelTf(docs, None).schema
    schema.map(f => f.name -> f.dataType) shouldBe
      Seq("doc_id" -> LongType, "dl" -> IntegerType, "w" -> StringType, "tf" -> LongType)
  }

  test("TermFreqs: NULL text has no rows; dl counts pruned-away tokens") {
    val docs = texts(1L -> null, 2L -> "x y x  z")
    rows(kernelTf(docs, Some(Set("x", "")))) shouldBe
      Seq((2L, 5, "x", 2L), (2L, 5, "", 1L))
  }

  private type Sheet = Seq[(Long, Seq[(String, Long)])]

  private def kernelSums(in: DataFrame, sheet: Sheet): Set[(Long, Long, Long, Long)] =
    in.groupBy(col("doc_id"))
      .agg(SheetSlotSums.sums(col("w"), col("t"), sheet).as("s"))
      .select(col("doc_id"), inline(col("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  /** The slot aggregate `Retrieval.scoreTail` ran before the kernel: per
    * term a weight vector and a presence vector over the qid-sorted sheet,
    * one `sum` column per slot and per count. */
  private def refereeSums(in: DataFrame, sheet: Sheet): Set[(Long, Long, Long, Long)] = {
    val qids = sheet.map(_._1).sorted
    val slot = qids.zipWithIndex.toMap
    val nq = qids.size
    val wvec = scala.collection.mutable.Map.empty[String, Array[Long]]
    val pvec = scala.collection.mutable.Map.empty[String, Array[Long]]
    for ((qid, tws) <- sheet; (w, wt) <- tws) {
      wvec.getOrElseUpdate(w, new Array[Long](nq))(slot(qid)) = wt
      pvec.getOrElseUpdate(w, new Array[Long](nq))(slot(qid)) = 1L
    }
    val wlit = typedLit(wvec.view.mapValues(_.toSeq).toMap)
    val plit = typedLit(pvec.view.mapValues(_.toSeq).toMap)
    val aggs =
      (0 until nq).map(i => sum(element_at(col("qw"), i + 1) * col("t")).as(s"s$i")) ++
        (0 until nq).map(i => sum(element_at(col("qp"), i + 1)).as(s"n$i"))
    in.select(col("doc_id"), col("t"),
        element_at(wlit, col("w")).as("qw"), element_at(plit, col("w")).as("qp"))
      .groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), explode(array((0 until nq).map(i => struct(
        lit(qids(i)).as("qid"), col(s"s$i").as("sm"), col(s"n$i").as("nt"))): _*)).as("e"))
      .filter(col("e.nt") > 0)
      .select(col("doc_id"), col("e.qid"), col("e.sm"), col("e.nt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  }

  private def postings(ps: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    ps.toDF("doc_id", "w", "t").repartition(3)
  }

  private def randomCase(rnd: scala.util.Random, nq: Int): (Sheet, DataFrame) = {
    val vocab = Vector.tabulate(30)(i => s"t$i")
    val sheet = rnd.shuffle((0L until 400L).toVector).take(nq).map { q =>
      q -> rnd.shuffle(vocab).take(1 + rnd.nextInt(6)).map(w => w -> rnd.nextInt(5).toLong)
    }
    val ps = Seq.fill(600)((rnd.nextInt(40).toLong, s"t${rnd.nextInt(36)}",
      rnd.nextInt(1000000).toLong))
    (sheet, postings(ps))
  }

  test("SheetSlotSums equals the per-slot sum referee on random sheets, " +
      "wider than 64 queries included") {
    val rnd = new scala.util.Random(23)
    for (nq <- Seq(1, 5, 32, 100)) {
      val (sheet, in) = randomCase(rnd, nq)
      val got = kernelSums(in, sheet)
      got should not be empty
      got shouldBe refereeSums(in, sheet)
      if (nq > 64) got.map(_._2).size should be > 64
    }
  }

  test("SheetSlotSums: a zero-weight term still counts toward n_terms") {
    val sheet: Sheet = Seq(5L -> Seq("a" -> 0L, "b" -> 3L), 9L -> Seq("b" -> 1L))
    val in = postings(Seq((1L, "a", 7L), (2L, "b", 2L), (2L, "a", 4L), (3L, "c", 1L)))
    val got = kernelSums(in, sheet)
    got shouldBe Set((1L, 5L, 0L, 1L), (2L, 5L, 6L, 2L), (2L, 9L, 2L, 1L))
    got shouldBe refereeSums(in, sheet)
  }

  test("SheetSlotSums: a long overflow throws as the ANSI sum does") {
    spark.conf.get("spark.sql.ansi.enabled") shouldBe "true"
    def overflows(run: => Any): Unit = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]) shouldBe true
    }
    // the product: weight × t past Long.MaxValue
    val product: Sheet = Seq(1L -> Seq("a" -> (Long.MaxValue / 2)))
    val in1 = postings(Seq((1L, "a", 3L)))
    overflows(kernelSums(in1, product))
    overflows(refereeSums(in1, product))
    // the sum: two in-range products whose total is not
    val total: Sheet = Seq(1L -> Seq("a" -> 1L))
    val in2 = postings(Seq((1L, "a", Long.MaxValue - 1), (1L, "a", 2L)))
    overflows(kernelSums(in2, total))
    overflows(refereeSums(in2, total))
  }

  test("SheetSlotSums: two kernels built from one sheet are semanticEquals") {
    val w = AttributeReference("w", StringType)()
    val t = AttributeReference("t", LongType)()
    val sheet: Sheet = Seq(3L -> Seq("b" -> 2L, "a" -> 1L), 1L -> Seq("a" -> 5L))
    val a = SheetSlotSums.of(w, t, sheet)
    val b = SheetSlotSums.of(w, t, sheet.reverse.map { case (q, tws) => q -> tws.reverse })
    a.semanticEquals(b) shouldBe true
    a.hashCode shouldBe b.hashCode
    a.toAggregateExpression().semanticEquals(b.toAggregateExpression()) shouldBe true
    a.semanticEquals(SheetSlotSums.of(w, t, Seq(3L -> Seq("b" -> 2L)))) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      SheetSlotSums.of(w, t, Seq(1L -> Seq("a" -> 1L), 1L -> Seq("b" -> 1L)))
  }
}
