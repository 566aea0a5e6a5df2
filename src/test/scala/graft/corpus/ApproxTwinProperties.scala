package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** ScalaCheck properties for the sketch-based 100 TB twins
  * ([[Profiling.lengthProfileApprox]], [[Profiling.datasetCardApprox]]):
  * the fixture spec pins one corpus; these pin the TOLERANCE CONTRACT
  * itself across random corpora — duplicate rates, source/lang
  * cardinalities, and length distributions the fixture never covers.
  *
  * Bounds are the sketches' own guarantees, not tuned-to-pass slack:
  *  - `percentile_approx` (GK) at accuracy 10 000 has rank error
  *    ≤ n/accuracy < 1 for every generated corpus, so the returned value
  *    must be one of the two order statistics the exact interpolated
  *    percentile lies between — asserted per source, per quartile.
  *  - `approx_count_distinct` (HLL++, rsd 0.02, so 2^12 registers): every
  *    generated cardinality (≤ 300) lies in the linear-counting range, where
  *    the estimate is exactly `round(m·ln(m/(m−k)))` for the k registers the
  *    values occupy. At these sizes its error is register collisions — an
  *    absolute count that no relative bound such as 3·rsd·exact covers (4
  *    distinct digests in 2 registers read as 2 duplicates). So a referee
  *    recomputes the registers (the top 12 bits of `xxhash64`, seed 42, as
  *    HLL++ hashes) and the estimate must EQUAL linear counting over them:
  *    for n_sources, n_langs, and the distinct-digest term of n_dup_docs
  *    (docs − distinct digests, clamped at zero).
  *  - everything non-sketched in the twins (counts, min/max/sums,
  *    mean_quality) must be EXACTLY equal — same expressions by
  *    construction; a drifted copy is a bug, not an approximation.
  *
  * Sample count is bounded (each trial runs four tiny Spark jobs). */
object ApproxTwinProperties extends Properties("approx-twins") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session

  /** Random corpus with injected exact duplicates (15%) so n_dup_docs is
    * non-trivial, across varying sizes, vocabularies, and cardinalities. */
  private val corpusGen: Gen[List[Doc]] = for {
    n <- Gen.choose(1, 300)
    nSrc <- Gen.choose(1, 6)
    nLang <- Gen.choose(1, 4)
    vocab <- Gen.choose(5, 60)
    maxLen <- Gen.choose(1, 80)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rnd = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val text =
        if (i > 0 && rnd.nextDouble() < 0.15) texts(rnd.nextInt(texts.size))
        else (0 until (1 + rnd.nextInt(maxLen)))
          .map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ")
      texts += text
      Doc(i.toLong, text, s"lang${rnd.nextInt(nLang)}", s"src${rnd.nextInt(nSrc)}")
    }.toList
  }

  private def df(docs: List[Doc]) = {
    val s = spark
    import s.implicits._
    docs.map(d => (d.doc_id, d.text, d.lang, d.source))
      .toDF("doc_id", "text", "lang", "source")
  }

  property("lengthProfileApprox: exact fields equal; quartiles inside the GK rank bracket") =
    Prop.forAll(corpusGen) { docs =>
      val byLabel = (r: org.apache.spark.sql.Row) => r.getString(0) -> r
      val exact = Profiling.lengthProfile(df(docs)).collect().map(byLabel).toMap
      val approx = Profiling.lengthProfileApprox(df(docs)).collect().map(byLabel).toMap
      val referee = docs.groupBy(_.source).map { case (src, ds) =>
        src -> ds.map(_.text.split(" ").length).sorted.toIndexedSeq
      }
      Prop.all(referee.toSeq.map { case (src, sorted) =>
        val e = exact(src); val a = approx(src)
        val quartiles = Seq(0.25 -> 4, 0.5 -> 5, 0.75 -> 6).map { case (q, idx) =>
          val rank = (sorted.size - 1) * q
          val (lo, hi) = (sorted(rank.toInt), sorted(math.ceil(rank).toInt))
          val interp = lo + (rank - rank.toInt) * (hi - lo)
          // the exact operator IS the interpolated percentile...
          (e.getDouble(idx) == interp) :| s"$src exact q$q" &&
            // ...and GK at accuracy 10k (rank error < 1 doc here) must return
            // one of the two bracketing order statistics, in the input's type
            (a.getInt(idx) >= lo && a.getInt(idx) <= hi) :| s"$src approx q$q"
        }
        val untouched = Seq(1, 2, 3, 7).forall(i => e.getLong(i) == a.getLong(i))
        Prop.all((untouched :| s"$src non-sketched fields drifted") +: quartiles: _*)
      }: _*)
    }

  /** HLL++'s estimate in the linear-counting range: the register of a value
    * is the top p bits of its xxhash64 (seed 42), m = 2^p registers. */
  private def linearCount(values: Iterable[String], rsd: Double): Long = {
    val p = math.ceil(2.0 * math.log(1.106 / rsd) / math.log(2.0)).toInt
    val m = 1 << p
    val k = values.iterator.map(v => XxHash64Function.hash(
      UTF8String.fromString(v), StringType, 42L) >>> (64 - p)).toSet.size
    math.round(m * math.log(m.toDouble / (m - k)))
  }

  private def md5Hex(text: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def cardAgreesWithSketch(docs: List[Doc]): Prop = {
    val rsd = 0.02
    val e = Profiling.datasetCard(df(docs)).collect().head
    val a = Profiling.datasetCardApprox(df(docs), rsd).collect().head
    def referee(name: String, expected: Long): Prop = {
      val av = a.getAs[Long](name)
      (av == expected) :| s"$name: approx=$av linear counting=$expected exact=${e.getAs[Long](name)}"
    }
    // pure-Scala referee pins the exact card too (not just twin-vs-twin)
    val refDup = docs.size - docs.map(_.text).distinct.size
    Prop.all(
      (e.getAs[Long]("n_docs") == docs.size.toLong) :| "exact n_docs vs referee",
      (e.getAs[Long]("n_dup_docs") == refDup.toLong) :| "exact n_dup_docs vs referee",
      (a.getAs[Long]("n_docs") == e.getAs[Long]("n_docs")) :| "n_docs drifted",
      (a.getAs[Long]("n_tokens") == e.getAs[Long]("n_tokens")) :| "n_tokens drifted",
      (a.getAs[Long]("n_chars") == e.getAs[Long]("n_chars")) :| "n_chars drifted",
      (a.getAs[Double]("mean_quality") == e.getAs[Double]("mean_quality")) :|
        "mean_quality drifted",
      referee("n_sources", linearCount(docs.map(_.source).distinct, rsd)),
      referee("n_langs", linearCount(docs.map(_.lang).distinct, rsd)),
      referee("n_dup_docs", math.max(0L,
        docs.size - linearCount(docs.map(d => md5Hex(d.text)).distinct, rsd))))
  }

  property("datasetCardApprox: exact fields equal; HLL fields equal linear counting on their registers") =
    Prop.forAll(corpusGen)(cardAgreesWithSketch)

  /** The seed that falsified the old 3·rsd tolerance: its first corpus has
    * digests that share registers, so the sketch reports duplicates the
    * corpus does not have — and linear counting predicts exactly how many. */
  property("datasetCardApprox: a register-collision corpus reads as linear counting predicts") = {
    val docs = corpusGen.pureApply(Gen.Parameters.default,
      Seed.fromBase64("K9-OTGNtW-D62kroBojeGeSybylukBMA0b8Pcsy8bTM=").get)
    val digests = docs.map(d => md5Hex(d.text)).distinct
    (linearCount(digests, 0.02) < digests.size) :| "the seed's digests no longer collide" &&
      cardAgreesWithSketch(docs)
  }
}

/** Top-level (not object-nested) so the tuple-free Dataset encoder would
  * stay codegen-friendly if ever used directly; the generator builds these. */
private[corpus] case class Doc(doc_id: Long, text: String, lang: String, source: String)
