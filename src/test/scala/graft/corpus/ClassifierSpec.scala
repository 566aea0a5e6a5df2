package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X76 — hashed-unigram logistic-regression quality classifier.
  *
  * The training loop is pinned against a collections-only referee that
  * replays the EXACT arithmetic contract (md5-prefix bucket hash, 8-dp
  * fixed-point margins as long sums, `math.exp` sigmoid, `floor(x + 0.5)`
  * fixed-point rounding, `w -= floor(lr·G/N + 0.5)` updates) — the same
  * lockstep discipline the x76 DuckDB oracle encodes in SQL. */
class ClassifierSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  // the collections-only referee lives in [[ClassifierReferee]] — ONE
  // definition shared with ClassifierProperties, so the two suites can
  // never pin conflicting contracts
  private val R = ClassifierReferee

  private val corpus = Seq(
    (0L, "src0", "the quick brown fox"),
    (1L, "src0", "the quick quick fox"),
    (2L, "src1", "lorem ipsum dolor sit amet"),
    (3L, "src7", "spam spam spam click here"),
    (4L, "src8", "click here now spam"),
    (5L, "src9", "the brown dog sleeps"),
    (6L, "src1", "fox and dog and fox"))

  test("trainQualityLr matches the collections referee exactly (weights, bias, margins)") {
    val positives = Set("src0", "src1")
    for (iters <- Seq(1, 2, 3)) {
      val model = Classifier.trainQualityLr(docsDf(corpus),
        positiveSources = positives.toSeq, buckets = 64, lr = 0.5,
        iterations = iters)
      val (rw, rb) = R.train(corpus, positives, 64, 0.5, iters)
      model.biasMicro shouldBe rb
      model.weightsMicro.toSeq shouldBe rw.toSeq
      // scored margins are the exact fixed-point referee margins at 6 dp
      // (integer half-away-from-zero — the engine/oracle rounding contract)
      val scored = Classifier.scoreQualityLr(
        docsDf(corpus), model, positives.toSeq).collect()
      scored.foreach { r =>
        val micro = corpus.find(_._1 == r.getLong(0)).map(c =>
          R.marginMicro(c._3, rw, rb)).get
        r.getAs[Double]("margin") shouldBe R.margin6(micro)
      }
    }
  }

  test("margin rounding is integer half-away-from-zero on systematic ties") {
    // |micro| ≡ 50 (mod 100) is an EXACT 6-dp half-tie — the class where
    // Spark round(double) and DuckDB round() disagree; the integer contract
    // rounds away from zero on both engines
    R.margin6(1619211450L) shouldBe 16.192115 // the empirically-found case
    R.margin6(50L) shouldBe 0.000001
    R.margin6(-50L) shouldBe -0.000001
    R.margin6(149L) shouldBe 0.000001
    R.margin6(-2060452500L) shouldBe -20.604525
    // and the engine agrees with the referee on a model that produces ties:
    // bias 50 micro, no tokens → margin micro exactly 50
    val s = spark
    import s.implicits._
    val df = Seq((0L, "src0", Option.empty[String]))
      .toDF("doc_id", "source", "text")
    val m = Classifier.scoreQualityLr(df,
      Classifier.LrModel(Array.fill(8)(0L), 50L)).collect().head
    m.getAs[Double]("margin") shouldBe 0.000001
    // and the division is a TRUE integral divide: this constant is chosen
    // to DISCRIMINATE against the old floor-double path — its numerator
    // 2·m+100 = 2⁵⁶+62 ≡ 398 (mod 400) sits past 2⁵³ where doubles space
    // 16 apart, so the double conversion rounds it UP by 2, crossing a
    // 200-boundary: floor-double yields …640 where the exact integral
    // divide yields …639. (The previous 2⁵⁵−18 constant had an exactly
    // representable numerator and could not tell the two apart.)
    val huge = 36028797018963949L
    val hm = Classifier.scoreQualityLr(df,
      Classifier.LrModel(Array.fill(8)(0L), huge)).collect().head
    hm.getAs[Double]("margin") shouldBe R.margin6(huge)
    R.margin6(huge) shouldBe (360287970189639L.toDouble / 1.0e6)
  }

  test("trainQualityLr on randomized corpora stays in referee lockstep") {
    val rnd = new scala.util.Random(76)
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh", "", "é")
    for (trial <- 1 to 3) {
      val rows = (0L until 40L).map { id =>
        val src = s"src${rnd.nextInt(6)}"
        val text = Seq.fill(1 + rnd.nextInt(12))(
          words(rnd.nextInt(words.size))).mkString(" ")
        (id, src, text)
      }
      val positives = Set("src0", "src3")
      val model = Classifier.trainQualityLr(docsDf(rows),
        positiveSources = positives.toSeq, buckets = 32, lr = 0.3,
        iterations = 2)
      val (rw, rb) = R.train(rows, positives, 32, 0.3, 2)
      withClue(s"trial $trial: ") {
        model.biasMicro shouldBe rb
        model.weightsMicro.toSeq shouldBe rw.toSeq
      }
    }
  }

  test("a separable corpus trains toward separation (positives score higher)") {
    // disjoint vocabularies: the classifier must order every positive above
    // every negative after two passes
    val rows = (0L until 20L).map { id =>
      if (id < 10) (id, "src0", "good clean prose text here")
      else (id, "src9", "zz xx yy ww vv uu")
    }
    val model = Classifier.trainQualityLr(docsDf(rows))
    val scored = Classifier.scoreQualityLr(docsDf(rows), model).collect()
      .map(r => (r.getInt(1), r.getAs[Double]("prob"))).toSeq
    val pos = scored.collect { case (1, p) => p }
    val neg = scored.collect { case (0, p) => p }
    pos.min should be > neg.max
  }

  test("NULL text carries the bias alone: counted in N, margin = bias") {
    val s = spark
    import s.implicits._
    val rows = Seq((0L, "src0", Some("alpha beta")), (1L, "src5", None),
      (2L, "src5", Some("alpha gamma")))
    val df = rows.toDF("doc_id", "source", "text")
    val model = Classifier.trainQualityLr(df, buckets = 16, iterations = 2)
    // referee with null text for doc 1
    val refRows = rows.map { case (id, src, t) => (id, src, t.orNull) }
    val (rw, rb) = R.train(refRows, Classifier.PositiveSources.toSet,
      16, Classifier.DefaultLearningRate, 2)
    model.biasMicro shouldBe rb
    model.weightsMicro.toSeq shouldBe rw.toSeq
    val m = Classifier.scoreQualityLr(df, model).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("margin")).toMap
    m(1L) shouldBe R.margin6(rb)
  }

  test("empty corpus yields the zero model, not a NaN-poisoned one") {
    val model = Classifier.trainQualityLr(docsDf(Nil), buckets = 8)
    model.biasMicro shouldBe 0L
    model.weightsMicro.toSeq shouldBe Seq.fill(8)(0L)
  }

  test("scoring compiles to a shuffle-free narrow plan (driver-held model)") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val model = Classifier.LrModel(Array.fill(16)(100L), 5L)
    val plan = Classifier.scoreQualityLr(docsDf(corpus), model)
      .queryExecution.executedPlan
    plan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] shouldBe false
    plan.collect { case e: Exchange => e } shouldBe empty
  }

  test("paretoResample matches a collections referee (draw, rounding, keep)") {
    val model = Classifier.trainQualityLr(docsDf(corpus))
    val out = Classifier.paretoResample(docsDf(corpus), model).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Double]("prob"), r.getAs[Double]("pareto"),
          r.getAs[Boolean]("keep")))).toMap
    out.size shouldBe corpus.size
    corpus.foreach { case (id, _, _) =>
      val pareto = R.paretoDraw(id)
      val (prob, gotPareto, keep) = out(id)
      gotPareto shouldBe pareto
      // keep is decided on the ROUNDED doubles, ties KEEP — the
      // cross-engine contract
      keep shouldBe (pareto >= 1.0 - prob)
    }
    // a perfect-scoring doc (prob = 1.0 after rounding) survives EVERY
    // draw: 1 − prob = 0.0 and pareto ≥ 0 always, including the tail draws
    // that round to exactly 0.000000 (the reason keep is >=, not >)
    val sure = Classifier.paretoResample(docsDf(corpus),
      Classifier.LrModel(Array.fill(256)(10L * 100000000L), 0L)).collect()
    all(sure.map(_.getAs[Boolean]("keep"))) shouldBe true
  }

  test("a zero-rounded tail draw keeps a perfect score (the >= boundary)") {
    // ~1 in 220k ids draws a raw pareto below 5e-7, which rounds to exactly
    // 0.000000; under `>` a perfect-scoring doc (1 − prob = 0.0) would then
    // be dropped. Too rare to hit via the hash in a spec corpus — pin the
    // ENGINE's decision expression on the boundary row directly instead.
    val s = spark
    import s.implicits._
    // dyadic values so the ties are exact in binary floating point
    val rows = Seq((0.0, 1.0), (0.0, 0.999999), (0.25, 0.75))
      .toDF("pareto", "prob")
    val kept = rows
      .withColumn("keep", Classifier.paretoKeep(col("pareto"), col("prob")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    kept.toSet shouldBe Set(
      (0.0, 1.0, true),        // tie keeps: the perfect score survives
      (0.0, 0.999999, false),  // a real gap still rejects
      (0.25, 0.75, true))      // exact tie away from zero keeps too
  }

  test("resample draw is namespaced: independent of other doc_id-keyed gates") {
    // the acceptance uniform must come from md5("resample:" || id), not
    // md5(id) — otherwise it would correlate with x35/x62's identity gates
    val model = Classifier.LrModel(Array.fill(8)(0L), 0L)
    val out = Classifier.paretoResample(docsDf(corpus), model).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("pareto")).toMap
    val unnamespaced = corpus.map { case (id, _, _) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      id -> BigDecimal(math.pow(1.0 - u, -(1.0 / 9.0)) - 1.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    out should not equal unnamespaced
  }

  test("calibrationReport bins rounded probs and reports exact ratios") {
    val model = Classifier.trainQualityLr(docsDf(corpus))
    val scored = Classifier.scoreQualityLr(docsDf(corpus), model).collect()
      .map(r => (r.getInt(1), r.getAs[Double]("prob")))
    val expect = scored
      .groupBy { case (_, p) => math.min(math.floor(p * 10).toInt, 9) }
      .map { case (bin, xs) =>
        val n = xs.size.toLong
        // micro-unit integer half-up division — the engine/oracle contract
        // (never round(double): Spark and DuckDB disagree on half-micro
        // quotient ties, e.g. probs 0.500000/0.500001 → 0.500001 vs 0.500000)
        val sm = xs.map(x => math.floor(x._2 * 1.0e6 + 0.5).toLong).sum
        val mean = ((2 * sm + n) / (2 * n)).toDouble / 1.0e6
        val st = xs.count(_._1 == 1).toLong
        val rate = ((2 * 1000000L * st + n) / (2 * n)).toDouble / 1.0e6
        bin -> ((n, mean, rate))
      }
    val got = Classifier.calibrationReport(docsDf(corpus), model).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getAs[Double]("mean_prob"),
        r.getAs[Double]("target_rate")))).toMap
    got shouldBe expect
  }

  test("calibration's top bin is closed: prob = 1.0 lands in bin bins-1") {
    val model = Classifier.LrModel(Array.fill(256)(10L * 100000000L), 0L)
    val rows = Classifier.calibrationReport(docsDf(corpus), model).collect()
    rows.map(_.getInt(0)).toSeq shouldBe Seq(9)
    rows.head.getLong(1) shouldBe corpus.size.toLong
    rows.head.getAs[Double]("mean_prob") shouldBe 1.0
  }

  test("a persisted model round-trips and scores identically (train once, gate forever)") {
    val model = Classifier.trainQualityLr(docsDf(corpus))
    val path = java.nio.file.Files
      .createTempDirectory("lrmodel").resolve("m").toString
    Classifier.writeLrModel(spark, model, path)
    val loaded = Classifier.readLrModel(spark, path)
    loaded.biasMicro shouldBe model.biasMicro
    loaded.weightsMicro.toSeq shouldBe model.weightsMicro.toSeq
    val a = Classifier.scoreQualityLr(docsDf(corpus), model).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("margin")).toMap
    val b = Classifier.scoreQualityLr(docsDf(corpus), loaded).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("margin")).toMap
    b shouldBe a
  }

  test("readLrModel fails loudly on a corrupt weight table") {
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("lrmodelbad").resolve("m").toString
    // bucket 1 missing, bucket 3 present: ids are not 0..n-1
    Seq((-1, 5L), (0, 1L), (3, 2L)).toDF("b", "w")
      .write.mode("overwrite").parquet(path)
    an[IllegalArgumentException] should be thrownBy
      Classifier.readLrModel(s, path)
    // a stray negative id is NOT the bias row
    Seq((-2, 5L), (0, 1L)).toDF("b", "w")
      .write.mode("overwrite").parquet(path)
    an[IllegalArgumentException] should be thrownBy
      Classifier.readLrModel(s, path)
    // a bias-only table has no usable feature space
    Seq((-1, 5L)).toDF("b", "w").write.mode("overwrite").parquet(path)
    an[IllegalArgumentException] should be thrownBy
      Classifier.readLrModel(s, path)
  }

  test("qualityGate refuses inputs that already carry routing columns") {
    // composing onto x73's flagged output must fail loudly, not overwrite
    val model = Classifier.LrModel(Array.fill(8)(0L), 0L)
    val flagged = docsDf(corpus)
      .withColumn("keep", org.apache.spark.sql.functions.lit(true))
    val e = intercept[IllegalArgumentException] {
      Classifier.qualityGate(flagged, model, 0.5)
    }
    e.getMessage should include("keep")
  }

  test("streaming resampleIngest decides batch-equal through a live query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val model = Classifier.trainQualityLr(docsDf(corpus))
    val input = MemoryStream[(Long, String, String)]
    val out = Classifier.paretoResample(
      input.toDF().toDF("doc_id", "source", "text"), model)
    out.isStreaming shouldBe true
    val sink = s"resample_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("resample").toString)
      .start()
    try {
      val batchRows = Seq((200L, "src0", "the quick brown fox"),
        (201L, "src9", "spam click here"))
      input.addData(batchRows: _*)
      q.processAllAvailable()
      val live = s.table(sink).collect().map(r => r.getLong(0) ->
        ((r.getAs[Double]("prob"), r.getAs[Double]("pareto"),
          r.getAs[Boolean]("keep")))).toMap
      val batch = Classifier.paretoResample(
        docsDf(batchRows), model).collect().map(r => r.getLong(0) ->
        ((r.getAs[Double]("prob"), r.getAs[Double]("pareto"),
          r.getAs[Boolean]("keep")))).toMap
      live shouldBe batch
    } finally q.stop()
  }

  test("streaming gateByQuality scores batch-equal through a live query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val model = Classifier.trainQualityLr(docsDf(corpus),
      positiveSources = Seq("src0", "src1"), buckets = 64, iterations = 2)
    val input = MemoryStream[(Long, String)]
    val out = Classifier.qualityGate(
      input.toDF().toDF("doc_id", "text"), model, tau = 0.5)
    out.isStreaming shouldBe true
    val sink = s"quality_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("classifier").toString)
      .start()
    try {
      input.addData((100L, "the quick brown fox"), (101L, "spam click here"))
      q.processAllAvailable()
      val rows = s.table(sink).collect().map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("margin"), r.getAs[Double]("prob"),
            r.getAs[Boolean]("keep")))).toMap
      val batch = Classifier.qualityGate(
        Seq((100L, "the quick brown fox"), (101L, "spam click here"))
          .toDF("doc_id", "text"), model, tau = 0.5).collect().map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("margin"), r.getAs[Double]("prob"),
            r.getAs[Boolean]("keep")))).toMap
      rows shouldBe batch
    } finally q.stop()
  }
}
