package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** OPQ (Ge et al. 2013) — the learned orthogonal pre-encode rotation
  * ([[Quantization.opqRotation]] / [[Quantization.rotateEmbeddings]] /
  * [[graft.functions.RotateVector]]). Pins: the rotation is orthogonal,
  * the transform preserves the geometry ANN relies on (norms, cosines,
  * exact top-k), the NULL/mismatch contracts of the expression, and the
  * core claim — on an ANISOTROPIC corpus the learned rotation strictly
  * reduces PQ quantization distortion vs the same training without it,
  * measured by an independent plain-Scala encode referee. */
class OpqSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val dim = 64

  /** Independent referee: nearest-codeword PQ distortion (mean over rows
    * of Σ_s ‖x_s − cw_{s,argmin}‖²), plain collections — no reuse of the
    * production encode path. */
  private def distortion(rows: Seq[Array[Double]],
      cbs: Array[Array[Array[Double]]]): Double = {
    val m = cbs.length
    val dsub = cbs(0)(0).length
    rows.map { x =>
      (0 until m).map { s =>
        cbs(s).map { cw =>
          var d = 0.0; var j = 0
          while (j < dsub) {
            val t = x(s * dsub + j) - cw(j); d += t * t; j += 1
          }
          d
        }.min
      }.sum
    }.sum / rows.size
  }

  private def normalized(df: org.apache.spark.sql.DataFrame)
      : Seq[Array[Double]] =
    df.select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }.toSeq

  test("opqRotation returns an orthogonal matrix and rotateEmbeddings " +
      "preserves norms and pairwise cosines") {
    val e = OpqSpec.anisoEmbeddings(spark, n = 300)
    val r = Quantization.opqRotation(e, rounds = 2, innerRounds = 1)
    // R·Rᵀ = I
    (0 until dim).foreach { i =>
      (0 until dim).foreach { j =>
        val dot = (0 until dim).map(k => r(i)(k) * r(j)(k)).sum
        dot shouldBe (if (i == j) 1.0 else 0.0) +- 1e-9
      }
    }
    val before = e.orderBy("vec_id").limit(5)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val after = Quantization.rotateEmbeddings(e, r).orderBy("vec_id")
      .limit(5).select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    before.indices.foreach { i =>
      before.indices.foreach { j =>
        // float storage costs ~1e-7 relative; geometry is otherwise exact
        dot(after(i), after(j)) shouldBe dot(before(i), before(j)) +- 1e-5
      }
    }
  }

  test("on an anisotropic corpus the OPQ rotation strictly reduces PQ " +
      "distortion vs identically-trained codebooks without it " +
      "(the referee measures both)") {
    val e = OpqSpec.anisoEmbeddings(spark, n = 600)
    val tcbs = Quantization.trainedCodebooks(e, rounds = 2)
    val r = Quantization.opqRotation(e, rounds = 4, innerRounds = 1)
    val eR = Quantization.rotateEmbeddings(e, r)
    val ocbs = Quantization.trainedCodebooks(eR, rounds = 2)
    val base = distortion(normalized(e), tcbs)
    val opq = distortion(normalized(eR), ocbs)
    withClue(s"base distortion $base vs opq $opq: ") {
      opq should be < base * 0.85 // a real margin, not noise
    }
  }

  test("RotateVector contracts: NULL in, NULL out; dimension mismatch is " +
      "NULL, never a truncated rotation; identity round-trips") {
    val s = spark
    import s.implicits._
    val id = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val df = Seq(
      (1L, Seq.tabulate(dim)(_.toDouble)),
      (2L, null.asInstanceOf[Seq[Double]]),
      (3L, Seq(1.0, 2.0)) // wrong dim
    ).toDF("vec_id", "v")
    val out = df.select(col("vec_id"),
      org.apache.spark.sql.GraftExpressionBridge.column(
        graft.functions.RotateVector(
          org.apache.spark.sql.GraftExpressionBridge.expression(col("v")),
          id)).as("y"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    out(1L).get.asInstanceOf[scala.collection.Seq[Double]].toSeq shouldBe
      Seq.tabulate(dim)(_.toDouble)
    out(2L) shouldBe None
    out(3L) shouldBe None
  }
}

object OpqSpec {

  /** The OPQ test shape (Ge et al. 2013's experiments live here): a
    * deterministic mixture of `c` Gaussian clusters in `dim` dimensions,
    * coordinate j scaled by `decay`^j (a sharply decaying spectrum —
    * effective dimensionality ≈ 1/(1−decay²) ≈ 7 at the 0.92 default) and
    * then spun by a HIDDEN random orthogonal rotation
    * ([[Quantization.orthonormal]]), so the variance concentrates along
    * directions the fixed subspace grid cannot see. Plain PQ slices this
    * corpus across subspaces that each mix dominant and dead directions; a
    * learned OPQ rotation can re-align and re-balance them. Real embeddings
    * are this shape (decaying spectra under arbitrary orientation). Fixed
    * seed: two calls on the same arguments see the same corpus. */
  def anisoEmbeddings(spark: SparkSession, n: Int = 2000, dim: Int = 64,
      c: Int = 20, sigma: Double = 0.05, decay: Double = 0.92,
      seed: Long = 11L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val q = Quantization.orthonormal(dim, rnd)
    val centers = Array.fill(c, dim)(rnd.nextGaussian() / math.sqrt(dim))
    val scale = Array.tabulate(dim)(j => math.pow(decay, j))
    (0 until n).map { i =>
      val k = rnd.nextInt(c)
      val raw = Array.tabulate(dim)(j =>
        (centers(k)(j) + sigma * rnd.nextGaussian()) * scale(j))
      (i.toLong, Seq.tabulate(dim) { jj =>
        var s = 0.0; var j = 0
        while (j < dim) { s += q(jj)(j) * raw(j); j += 1 }
        s.toFloat
      }, k)
    }.toDF("vec_id", "embedding", "label")
  }
}
