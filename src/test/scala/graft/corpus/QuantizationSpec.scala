package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X66–X68: product-quantization encode, ADC search, recall evaluation. */
class QuantizationSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def vecs(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.map(_.toFloat).toArray, 0) }
      .toDF("vec_id", "embedding", "label")
  }

  // spec-side replica of the engine's normalize (float→double cast, then
  // x/√Σx²) — mismatches would surface as flipped argmins below
  private def norm(v: Seq[Double]): Array[Double] = {
    val xs = v.map(_.toFloat.toDouble).toArray
    val n = math.sqrt(xs.foldLeft(0.0)((s, x) => s + x * x))
    xs.map(_ / n)
  }

  private def micro(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  private def rnd = new scala.util.Random(12)

  private def randomFixture(n: Int, dim: Int): Seq[(Long, Seq[Double])] = {
    val r = rnd
    (0L until n).map(i => i -> Seq.fill(dim)(r.nextGaussian()))
  }

  test("encode matches a brute-force argmin replica; ties go to the smaller code") {
    val dim = 8; val m = 2; val ksub = 3
    val rows = randomFixture(12, dim)
    val d = vecs(rows: _*)
    val cbs = Quantization.sliceCodebooks(d, m, ksub, dim)
    val got = Quantization.encoded(d, cbs, dim).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap

    val dsub = dim / m
    rows.foreach { case (id, v) =>
      val e = norm(v)
      val expect = (0 until m).map { s =>
        val xs = e.slice(s * dsub, (s + 1) * dsub)
        val dists = cbs(s).map { c =>
          val xx = xs.foldLeft(0.0)((a, x) => a + x * x)
          val cc = c.foldLeft(0.0)((a, x) => a + x * x)
          val dot = xs.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
          (xx + cc) - 2.0 * dot
        }
        dists.indexOf(dists.min)
      }
      got(id) shouldBe expect
    }
    // duplicated codeword slices (seed 0 == seed 2 here) tie exactly; the
    // smaller code must win
    val dup = vecs(0L -> Seq(1.0, 0, 0, 1), 1L -> Seq(0.0, 1, 1, 0),
      2L -> Seq(1.0, 0, 0, 1), 7L -> Seq(2.0, 0, 0, 2))
    val dcb = Quantization.sliceCodebooks(dup, 2, 3, 4)
    Quantization.encoded(dup, dcb, 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
      .apply(7L) shouldBe Seq(0, 0)
  }

  test("degenerate vectors encode nothing: zero-norm and wrong-dim rows drop") {
    val d = vecs(0L -> Seq(1.0, 0, 0, 0), 1L -> Seq(0.0, 1, 0, 0),
      2L -> Seq(0.0, 0, 0, 0),      // zero norm → e NULL
      3L -> Seq(1.0, 2.0),          // wrong dim
      4L -> Seq(0.5, 0.5, 0.5, 0.5))
    val cbs = Quantization.sliceCodebooks(d, 2, 2, 4)
    Quantization.encoded(d, cbs, 4).collect().map(_.getLong(0)).sorted shouldBe
      Array(0L, 1L, 4L)
  }

  test("streaming PQ encoding emits batch-equal codes and drops degenerates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = (0L until 12L).map { i =>
      (i, Array.tabulate(8)(j => (1.0 + ((i + j) % 5)).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val cbs = graft.corpus.Quantization.sliceCodebooks(corpus, 2, 4, 8)
    val input = MemoryStream[(Long, Array[Float], String)]
    val out = Quantization.encoded(
      input.toDF().toDF("vec_id", "embedding", "source"), cbs, 8, Seq("source"))
    out.isStreaming shouldBe true
    val sink = s"pqenc_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("pqenc").toString)
      .start()
    try {
      input.addData(
        (100L, Array.tabulate(8)(j => (2.0 + j % 3).toFloat), "srcA"),
        (101L, Array.fill(8)(0.0f), "srcB"),      // zero norm → dropped
        (102L, Array.fill(4)(1.0f), "srcC"),      // wrong dim → dropped
        (103L, Array.tabulate(8)(j => (1.0 + j % 5).toFloat), "srcD"))
      q.processAllAvailable()
      val rows = s.table(sink).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[String]("source"), r.getSeq[Int](r.fieldIndex("codes")))))
        .toMap
      rows.keySet shouldBe Set(100L, 103L)
      rows(100L)._1 shouldBe "srcA"
      // streaming codes equal the BATCH encoder's bit-for-bit
      val batch = graft.corpus.Quantization.encoded(
        Seq((100L, Array.tabulate(8)(j => (2.0 + j % 3).toFloat), 0),
          (103L, Array.tabulate(8)(j => (1.0 + j % 5).toFloat), 0))
          .toDF("vec_id", "embedding", "label"), cbs, 8).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
      rows(100L)._2 shouldBe batch(100L)
      rows(103L)._2 shouldBe batch(103L)
    } finally q.stop()
  }

  test("streaming SQ8 encoding emits batch-equal codes and drops degenerates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = (0L until 12L).map { i =>
      (i, Array.tabulate(8)(j => (1.0 + ((i + j) % 5)).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val (mins, diffs) = graft.corpus.Quantization.sq8Stats(corpus, 8)
    val input = MemoryStream[(Long, Array[Float], String)]
    val out = Quantization.sq8Encoded(
      input.toDF().toDF("vec_id", "embedding", "source"), mins, diffs, 8,
      Seq("source"))
    out.isStreaming shouldBe true
    val sink = s"sq8enc_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sq8enc").toString)
      .start()
    try {
      input.addData(
        (100L, Array.tabulate(8)(j => (2.0 + j % 3).toFloat), "srcA"),
        (101L, Array.fill(8)(0.0f), "srcB"),      // zero norm → dropped
        (102L, Array.fill(4)(1.0f), "srcC"),      // wrong dim → dropped
        (103L, Array.tabulate(8)(j => (1.0 + j % 5).toFloat), "srcD"))
      q.processAllAvailable()
      val rows = s.table(sink).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[String]("source"), r.getSeq[Long](r.fieldIndex("codes")))))
        .toMap
      rows.keySet shouldBe Set(100L, 103L)
      rows(100L)._1 shouldBe "srcA"
      // streaming codes equal the BATCH encoder's bit-for-bit
      val batch = graft.corpus.Quantization.sq8Encoded(
        Seq((100L, Array.tabulate(8)(j => (2.0 + j % 3).toFloat), 0),
          (103L, Array.tabulate(8)(j => (1.0 + j % 5).toFloat), 0))
          .toDF("vec_id", "embedding", "label"), mins, diffs, 8).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Long](1)).toMap
      rows(100L)._2 shouldBe batch(100L)
      rows(103L)._2 shouldBe batch(103L)
      // codes must be in byte range — the storage contract
      rows.values.flatMap(_._2).foreach { c =>
        c should be >= 0L; c should be <= 255L }
    } finally q.stop()
  }

  test("a degenerate seed inside the window compacts codeword indices") {
    // vec_id 1 is zero-norm → seeds are vecs 0 and 2; codeword 1 must be
    // vec 2's slice (dense index), not a hole at index 1 keyed by vec_id
    val d = vecs(0L -> Seq(1.0, 0, 0, 0), 1L -> Seq(0.0, 0, 0, 0),
      2L -> Seq(0.0, 1, 1, 0), 7L -> Seq(0.0, 1, 1, 0))
    val cbs = Quantization.sliceCodebooks(d, 2, 3, 4)
    cbs(0).length shouldBe 2
    cbs(0)(1) shouldBe norm(Seq(0.0, 1, 1, 0)).slice(0, 2)
    Quantization.encoded(d, cbs, 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
      .apply(7L) shouldBe Seq(1, 1)
  }

  test("ADC scores are the exact micro-sum of per-subspace LUT entries") {
    val dim = 8; val m = 4; val ksub = 4; val nq = 3; val k = 4
    val rows = randomFixture(16, dim)
    val d = vecs(rows: _*)
    val cbs = Quantization.sliceCodebooks(d, m, ksub, dim)
    val dsub = dim / m
    val codes = Quantization.encoded(d, cbs, dim).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    val got = Quantization.adcTopKWith(d, cbs, nq, k, dim).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    got should not be empty
    got.foreach { case ((qid, nid), score) =>
      val q = norm(rows(qid.toInt)._2)
      val sum = (0 until m).map { s =>
        val qs = q.slice(s * dsub, (s + 1) * dsub)
        val c = cbs(s)(codes(nid)(s))
        micro(qs.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2))
      }.sum
      score shouldBe sum.toDouble / 1000000.0
    }
  }

  test("adc search: broadcast-join shape, self excluded, k rows per query") {
    val d = vecs(randomFixture(30, 8): _*)
    val out = Quantization.adcTopK(d, m = 2, ksub = 4, numQueries = 2,
      k = 3, dim = 8)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "SortMergeJoin"
    val rows = out.collect()
    rows.groupBy(_.getAs[Long]("qid")).view.mapValues(_.length).toMap shouldBe
      Map(0L -> 3, 1L -> 3)
    rows.foreach(r =>
      r.getAs[Long]("neighbor_id") should not be r.getAs[Long]("qid"))
  }

  test("recall is 1.0 when every vector IS a codeword concatenation") {
    // 4 distinct per-subspace patterns; every corpus vector is one of the
    // seed vectors repeated → PQ reconstruction is exact → ADC ranking
    // equals the exact cosine ranking
    val seedVals = Seq(
      Seq(1.0, 0, 0, 0, 1, 0, 0, 0), Seq(0.0, 1, 0, 0, 0, 1, 0, 0),
      Seq(0.0, 0, 1, 0, 0, 0, 1, 0), Seq(0.0, 0, 0, 1, 0, 0, 0, 1))
    val rows = (0L until 24L).map(i => i -> seedVals((i % 4).toInt))
    val d = vecs(rows: _*)
    val rec = Quantization.pqRecall(d, m = 2, ksub = 4, numQueries = 4,
      k = 3, dim = 8).collect()
    rec.length shouldBe 4
    rec.foreach(_.getAs[Double]("recall") shouldBe 1.0)
  }

  test("training reduces quantization error and keeps codes dense") {
    val dim = 8; val m = 2; val ksub = 4
    val rows = randomFixture(60, dim)
    val d = vecs(rows: _*)
    val slice = Quantization.sliceCodebooks(d, m, ksub, dim)
    val trained = Quantization.trainedCodebooks(d, m, ksub, rounds = 2, dim)
    trained.length shouldBe m
    trained.foreach(_.length shouldBe slice(0).length)

    def sqErr(cbs: Array[Array[Array[Double]]]): Double = {
      val dsub = dim / m
      val codes = Quantization.encoded(d, cbs, dim).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
      rows.map { case (id, v) =>
        val e = norm(v)
        (0 until m).map { s =>
          val xs = e.slice(s * dsub, (s + 1) * dsub)
          val c = cbs(s)(codes(id)(s))
          xs.zip(c).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
        }.sum
      }.sum
    }
    val (es, et) = (sqErr(slice), sqErr(trained))
    // Lloyd's rounds are monotone non-increasing in the encode objective
    // (up to the 9-dp mean rounding)
    et should be <= es + 1e-6
    // trained codes stay dense in [0, ksub)
    Quantization.encoded(d, trained, dim).collect()
      .flatMap(_.getSeq[Int](1)).foreach { c =>
        c should be >= 0; c should be < ksub
      }
  }

  test("re-rank at full depth reproduces the exact cosine baseline") {
    val rows = randomFixture(30, 8)
    val d = vecs(rows: _*)
    val cbs = Quantization.sliceCodebooks(d, 2, 4, 8)
    // depth·k covers the whole corpus → the candidate set is everything →
    // the re-rank IS the exact search
    val rr = Quantization.adcRerankTopKWith(d, cbs, numQueries = 3, k = 4,
      depth = 10, dim = 8).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    val exact = Similarity.cosineTopK(d, 3, 4).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    rr shouldBe exact
  }

  test("re-rank candidates come from ADC: shallow depth can only re-order them") {
    val rows = randomFixture(40, 8)
    val d = vecs(rows: _*)
    val cbs = Quantization.sliceCodebooks(d, 2, 4, 8)
    val cands = Quantization.adcTopKWith(d, cbs, numQueries = 2, k = 6, dim = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")))
      .toSet
    val rr = Quantization.adcRerankTopKWith(d, cbs, numQueries = 2, k = 3,
      depth = 2, dim = 8).collect()
    rr.length shouldBe 6 // k rows per query
    rr.foreach { r =>
      cands should contain((r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")))
    }
  }

  test("IVF-PQ with full probe coverage equals the unrestricted ADC search") {
    val d = vecs(randomFixture(40, 8): _*)
    val ivf = Quantization.ivfAdcTopK(d, m = 2, ksub = 4, numCentroids = 6,
      nprobe = 6, numQueries = 3, k = 4, dim = 8).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toMap
    val full = Quantization.adcTopK(d, m = 2, ksub = 4, numQueries = 3,
      k = 4, dim = 8).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toMap
    ivf should not be empty
    ivf shouldBe full
  }

  test("IVF-PQ restricts candidates to probed cells but never changes a score") {
    val d = vecs(randomFixture(40, 8): _*)
    val allScores = Quantization.adcTopK(d, m = 2, ksub = 4, numQueries = 3,
      k = Int.MaxValue, dim = 8).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("score")).toMap
    val ivf = Quantization.ivfAdcTopK(d, m = 2, ksub = 4, numCentroids = 6,
      nprobe = 1, numQueries = 3, k = 4, dim = 8).collect()
    ivf should not be empty
    // a candidate from a probed cell scores exactly what the full search
    // scored it; the restriction changes WHICH pairs exist, never a value
    ivf.foreach { r =>
      r.getAs[Double]("score") shouldBe
        allScores((r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")))
    }
    // nprobe=1 scans one cell — candidate sets can only shrink
    ivf.groupBy(_.getAs[Long]("qid")).values.foreach(_.length should be <= 4)
  }

  test("persisted IVF-PQ index: search-against equals self-contained; scan prunes to probed cells") {
    val d = vecs(randomFixture(50, 8): _*)
    val cbs = Quantization.sliceCodebooks(d, 2, 4, 8)
    val cents = Quantization.centroidSeeds(d, numCentroids = 6, dim = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Quantization.writeIvfPqIndex(Quantization.ivfPqIndex(d, cbs, cents, 8), dir)
    val index = spark.read.parquet(dir)
    val against = Quantization.ivfAdcTopKAgainst(index, d, cbs, cents,
      nprobe = 2, numQueries = 3, k = 4, dim = 8)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("qid"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))
    val self = Quantization.ivfAdcTopK(d, m = 2, ksub = 4, numCentroids = 6,
      nprobe = 2, numQueries = 3, k = 4, dim = 8).collect().map(key).toMap
    against.collect().map(key).toMap shouldBe self
    self should not be empty
    // the cid-partitioned layout + the static probe filter = the scan reads
    // ONLY the probed cells' files
    val scan = against.queryExecution.executedPlan.toString
    scan should include("PartitionFilters: [")
    scan should not include "PartitionFilters: []"
  }

  test("streaming IVF-PQ index maintenance emits batch-equal (cid, codes) rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = (0L until 12L).map { i =>
      (i, Array.tabulate(8)(j => (1.0 + ((i + 2 * j) % 5)).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val Q = graft.corpus.Quantization
    val cbs = Q.sliceCodebooks(corpus, 2, 4, 8)
    val cents = Q.centroidSeeds(corpus, numCentroids = 4, dim = 8)
    val input = MemoryStream[(Long, Array[Float])]
    val out = Q.ivfPqIndex(
      input.toDF().toDF("vec_id", "embedding"), cbs, cents, 8)
    out.isStreaming shouldBe true
    val sink = s"pqidx_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("pqidx").toString)
      .start()
    try {
      val v200 = Array.tabulate(8)(j => (3.0 + j % 4).toFloat)
      val v201 = Array.tabulate(8)(j => (1.0 + (j * j) % 5).toFloat)
      input.addData((200L, v200), (201L, v201),
        (202L, Array.fill(8)(0.0f)))   // degenerate → dropped
      q.processAllAvailable()
      val rows = s.table(sink).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cid"), r.getSeq[Int](r.fieldIndex("codes")))))
        .toMap
      rows.keySet shouldBe Set(200L, 201L)
      val batch = Q.ivfPqIndex(
        Seq((200L, v200, 0), (201L, v201, 0))
          .toDF("vec_id", "embedding", "label"), cbs, cents, 8).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cid"), r.getSeq[Int](r.fieldIndex("codes")))))
        .toMap
      rows shouldBe batch
    } finally q.stop()
  }

  test("recall universe keeps degenerate queries visible at recall 0") {
    // query 1 is a zero vector: the exact baseline still emits its k rows
    // (neighbor_id tiebreak), PQ emits none → hits 0, recall 0.0, row KEPT
    val r = rnd
    val rows = (2L until 20L).map(i => i -> Seq.fill(8)(r.nextGaussian() + i * 0.1))
    val d = vecs((Seq(0L -> Seq.fill(8)(1.0), 1L -> Seq.fill(8)(0.0)) ++ rows): _*)
    val rec = Quantization.pqRecall(d, m = 2, ksub = 4, numQueries = 2,
      k = 3, dim = 8).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Long]("hits"), r.getAs[Double]("recall"))).toMap
    rec.keySet shouldBe Set(0L, 1L)
    rec(1L) shouldBe ((0L, 0.0))
  }
}
