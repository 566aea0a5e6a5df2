package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall/nprobe audit sweep — x94's generator audit
  * ([[graft.corpus.Similarity.denseRecallEval]]) run across probe budgets
  * for BOTH scale-tier generators: IVF over recomputed cells
  * ([[graft.corpus.Retrieval.ivfDenseCandidates]]) and IVF-PQ ADC over a
  * PERSISTED cid-partitioned code index
  * ([[graft.corpus.Retrieval.ivfAdcDenseCandidates]], x93's deployment
  * generator). One line per (generator, nprobe) with mean/min recall@k
  * over the audit slice — the table a deployment reads before turning the
  * nprobe knob, recorded in SCALING.md. At full probe the IVF tier is
  * exact by construction (spec-pinned); the ADC tier is NOT (codes
  * approximate the geometry), which is exactly what the sweep prices.
  *
  * Usage: `runMain graft.RecallSweep [sfDir|mog|moga] [nprobesCsv]`
  * (defaults `/root/testdata/sf0.1` and `1,2,4,8,16`). The literal `mog`
  * sweeps the spherical [[mogEmbeddings]] fixture and `moga` the
  * anisotropic [[anisoEmbeddings]] one instead of a parquet corpus — the
  * structured bracket around the sf tables' random-ish vectors (r16's
  * verdict was that PQ-16 cannot rank STRUCTURE-LESS 64-d vectors; the
  * pair answers what the tier buys on clusterable data, and `moga` —
  * decaying spectrum under a hidden rotation, the shape real embeddings
  * actually have — is where the OPQ columns earn their keep). */
object RecallSweep {

  /** Deterministic mixture-of-Gaussians embedding fixture: `c` unit-ish
    * cluster centers in `dim` dimensions (coords ~ N(0, 1/dim), so center
    * norms ≈ 1 and cross-cluster cosines scatter near 0), each vector a
    * center plus per-coordinate N(0, sigma²) noise (within-cluster cosine
    * ≈ 1/(1 + sigma²·dim) — tight at the 0.05 default). Real embeddings
    * concentrate on low-dimensional manifolds; this is the minimal
    * structured stand-in with a knowable geometry. `label` carries the
    * true cluster so the fixture doubles for classification-style audits.
    * Fixed seed: two sweeps on the same arguments see the same corpus. */
  def mogEmbeddings(spark: SparkSession, n: Int = 2000, dim: Int = 64,
      c: Int = 20, sigma: Double = 0.05, seed: Long = 7L)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(c, dim)(rnd.nextGaussian() / math.sqrt(dim))
    (0 until n).map { i =>
      val k = rnd.nextInt(c)
      (i.toLong, Seq.tabulate(dim)(j =>
        (centers(k)(j) + sigma * rnd.nextGaussian()).toFloat), k)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Deterministic random orthonormal matrix — the hidden orientation of
    * [[anisoEmbeddings]] ([[graft.corpus.Quantization.orthonormal]], the
    * one Gram-Schmidt construction). */
  private def randomRotation(dim: Int, rnd: scala.util.Random)
      : Array[Array[Double]] =
    graft.corpus.Quantization.orthonormal(dim, rnd)

  /** [[mogEmbeddings]]' ANISOTROPIC sibling — the OPQ test shape (Ge et
    * al. 2013's experiments live here): the same mixture, but coordinate j
    * scaled by `decay`^j (a sharply decaying spectrum — effective
    * dimensionality ≈ 1/(1−decay²) ≈ 7 at the 0.92 default) and then spun
    * by a HIDDEN random orthogonal rotation, so the variance concentrates
    * along directions the fixed subspace grid cannot see. Plain PQ slices
    * this corpus across subspaces that each mix dominant and dead
    * directions; a learned OPQ rotation can re-align and re-balance them.
    * Real embeddings are exactly this shape (decaying spectra under
    * arbitrary orientation), which is why the fixture pair — isotropic
    * [[mogEmbeddings]] where rotation provably buys nothing, this where it
    * should — brackets the OPQ decision. */
  def anisoEmbeddings(spark: SparkSession, n: Int = 2000, dim: Int = 64,
      c: Int = 20, sigma: Double = 0.05, decay: Double = 0.92,
      seed: Long = 11L): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val q = randomRotation(dim, rnd)
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

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nprobes = (if (args.length > 1) args(1) else "1,2,4,8,16")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.util.LocalSession()
    val e = sfDir match {
      case "mog" => mogEmbeddings(spark).localCheckpoint()
      case "moga" => anisoEmbeddings(spark).localCheckpoint()
      case d => spark.read.parquet(s"$d/embeddings.parquet")
    }
    val cbs = graft.corpus.Quantization.sliceCodebooks(e)
    val cents = graft.corpus.Quantization.centroidSeeds(e)
    // TRAINED codebooks alongside the deterministic stand-in: the stand-in
    // is the oracle-reproducible fixture, not a deployment artifact — the
    // sweep prices exactly what k-means training buys the ADC tier
    val tcbs = graft.corpus.Quantization.trainedCodebooks(e)
    // the persisted shape, deliberately: the sweep audits the artifact a
    // deployment actually probes, not an in-memory twin — ONE builder for
    // every tier so the persisted discipline cannot drift between them
    def persist(corpus: org.apache.spark.sql.DataFrame,
        cb: Array[Array[Array[Double]]],
        cs: Seq[(Long, Seq[Double])]): org.apache.spark.sql.DataFrame = {
      val idxDir = java.nio.file.Files
        .createTempDirectory("recall_sweep_idx").toString
      graft.corpus.Quantization.writeIvfPqIndex(
        graft.corpus.Quantization.ivfPqIndex(corpus, cb, cs), idxDir)
      spark.read.parquet(idxDir)
    }
    val index = persist(e, cbs, cents)
    val tindex = persist(e, tcbs, cents)
    // the OPQ tier: learned rotation (Ge et al. 2013), then the SAME
    // training protocol on the rotated corpus — the row pair (trained vs
    // opq) isolates exactly what the rotation buys. Rotation is
    // orthogonal, so eR's exact top-k is e's and the readings compare
    // directly; the whole eR pipeline (centroids, index, queries, exact
    // baseline) is rebuilt on the rotated frame, the deployment shape
    // (rotate once at ingest, everything downstream unchanged).
    val Q = graft.corpus.Quantization
    val rot = Q.opqRotation(e)
    val eR = Q.rotateEmbeddings(e, rot).localCheckpoint()
    val ocbs = Q.trainedCodebooks(eR)
    val ocents = Q.centroidSeeds(eR)
    val oindex = persist(eR, ocbs, ocents)
    // each cell re-runs the exact baseline inside denseRecallEval -- at
    // audit scale (sf0.1, 20 queries) that redundancy is cheaper than a
    // precomputed-exact API variant; a deployment sweeping a big corpus
    // should add one (the exact side depends on neither generator nor
    // nprobe)
    def cellOn(corpus: org.apache.spark.sql.DataFrame)(
        gen: graft.corpus.Retrieval.DenseCandidates): (Double, Double) = {
      val r = graft.corpus.Similarity.denseRecallEval(corpus, dense = gen)
        .agg(avg(col("recall")), min(col("recall"))).collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    def cell(gen: graft.corpus.Retrieval.DenseCandidates): (Double, Double) =
      cellOn(e)(gen)
    // the number SPI consumers actually need: every consumer re-scores
    // fetched vectors EXACTLY (x89/x93's discipline), so what matters is
    // whether the exact top-k SURVIVES the generator's PROPOSAL SET — the
    // kCand+1 ids it fetches (one slot for self, x89's argument; when self
    // is absent from the proposals the pool is kCand+1 deep, and that IS
    // what the consumer exact-reranks — a true top-k member in the pool
    // always outranks the consumer's cut, so pool membership equals
    // survival). The exact baseline, normalized corpus, and query slice
    // are nprobe-invariant — built once, not per sweep row.
    val kCand = graft.corpus.Similarity.HardNegCandidates
    val sweepK = graft.corpus.Similarity.DefaultTopK
    val sweepNq = graft.corpus.Similarity.DefaultTopKQueries
    val exactTop = graft.corpus.Similarity.cosineTopK(e, sweepNq, sweepK)
      .select(col("qid"), col("neighbor_id")).localCheckpoint()
    val nzBase = graft.corpus.Similarity.normalizedCorpus(e)
      .filter(col("e").isNotNull).localCheckpoint()
    val sweepQueries = nzBase.filter(col("vec_id") < sweepNq)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    // the OPQ twin of the exact/pool machinery, on the rotated frame
    val exactTopR = graft.corpus.Similarity.cosineTopK(eR, sweepNq, sweepK)
      .select(col("qid"), col("neighbor_id")).localCheckpoint()
    val nzBaseR = graft.corpus.Similarity.normalizedCorpus(eR)
      .filter(col("e").isNotNull).localCheckpoint()
    val sweepQueriesR = nzBaseR.filter(col("vec_id") < sweepNq)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    def poolCellOn(base: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame,
        exact: org.apache.spark.sql.DataFrame)(
        gen: graft.corpus.Retrieval.DenseCandidates): Double = {
      val pool = gen(base, queries, kCand + 1)
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id").as("qid"), col("doc_id").as("neighbor_id"))
      val hits = exact.join(pool, Seq("qid", "neighbor_id")).count()
      hits.toDouble / (sweepNq.toLong * sweepK)
    }
    nprobes.foreach { np =>
      val (ivfMean, ivfMin) = cell(
        graft.corpus.Retrieval.ivfDenseCandidates(nprobe = np))
      val (adcMean, adcMin) = cell(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(index, cbs, cents, np))
      val (tMean, tMin) = cell(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(tindex, tcbs, cents, np))
      val (oMean, oMin) = cellOn(eR)(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(oindex, ocbs, ocents, np))
      val adcPool = poolCellOn(nzBase, sweepQueries, exactTop)(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(index, cbs, cents, np))
      val tPool = poolCellOn(nzBase, sweepQueries, exactTop)(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(tindex, tcbs, cents, np))
      val oPool = poolCellOn(nzBaseR, sweepQueriesR, exactTopR)(
        graft.corpus.Retrieval.ivfAdcDenseCandidates(oindex, ocbs, ocents, np))
      def f(v: Double): String = graft.util.JsonNum.fixed(v, 3)
      println(s"""{"nprobe":$np,"ivf_mean":${f(ivfMean)},""" +
        s""""ivf_min":${f(ivfMin)},"adc_mean":${f(adcMean)},""" +
        s""""adc_min":${f(adcMin)},"adc_trained_mean":${f(tMean)},""" +
        s""""adc_trained_min":${f(tMin)},"adc_opq_mean":${f(oMean)},""" +
        s""""adc_opq_min":${f(oMin)},""" +
        s""""adc_pool${kCand + 1}_rerank_mean":${f(adcPool)},""" +
        s""""trained_pool_mean":${f(tPool)},""" +
        s""""opq_pool_mean":${f(oPool)}}""")
    }
    spark.stop()
  }
}
