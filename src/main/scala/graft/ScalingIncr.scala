package graft

import graft.corpus.{Semantic, TextDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental / index-probe scaling harness — the companion to [[Scaling]]'s
  * batch ladder, for the claims the batch ladder cannot test: a FIXED daily
  * increment probed against a growing persisted index. The OLD side scales
  * 1×→m× while the increment stays the base corpus; if the probe designs hold
  * ("only the increment shuffles"), time grows with the increment — a fitted
  * old-side exponent near 0 — plus at most a scan-bound linear term for
  * reading the index.
  *
  * Increment construction: the base corpus with ids shifted into a range
  * disjoint from every replica, TOKENS/VECTORS UNCHANGED — so each increment
  * row near-duplicates exactly its replica-0 twin and nothing else (replica
  * k ≥ 1 vocabularies/rotations are disjoint by [[Scaling]]'s construction).
  * True probe workload (candidates, novel grams, assignments) is therefore
  * CONSTANT in m; only the index grows.
  *
  * Probes measured (index builds are untimed):
  *  - '''x40_probe''' — `dedupIndex(increment)` left-semi joined against the
  *    persisted bucketed [[TextDedup.writeDedupIndex]] table (the batch twin
  *    of `StreamOps.flagNearDupCandidates`; spec pins the one-exchange plan).
  *  - '''x54_probe''' — [[TextDedup.noveltyScoreAgainst]] the persisted
  *    bucketed [[TextDedup.writeVocabulary]] table, `hashGrams = true` (the
  *    100 TB shuffle-width switch; spec pins both exchanges increment-side).
  *  - '''x51_assign''' — [[Semantic.assignAgainst]] fixed centroids trained
  *    (untimed) on the old side at the `kFor` occupancy policy — the
  *    streaming routing kernel; pure increment work by design.
  *  - '''x51_probe''' — [[Semantic.incrementalSemanticDedupAgainst]] the
  *    persisted bucketed [[Semantic.writeAssignedIndex]] table with frozen
  *    centroids: the full incremental dedup probe. The kFor occupancy
  *    policy holds per-cluster membership flat, so new×old pair work is
  *    |increment| × occupancy — constant in m; the index side reads in
  *    place (scan-bound linear term, no shuffle).
  *  - '''x51_full''' — the self-contained batch
  *    [[Semantic.incrementalSemanticDedup]] for contrast: it RE-TRAINS on
  *    the old side every run, so its old-side cost is linear by design and
  *    the gap between it and x51_probe is exactly what persisting the
  *    trained index buys.
  *
  *  - '''x93_probe''' — [[graft.corpus.Similarity.hardNegativesFor]] for a
  *    fixed 64-query arriving batch, candidates from
  *    [[graft.corpus.Retrieval.ivfAdcDenseCandidates]] over the persisted
  *    cid-partitioned [[graft.corpus.Quantization.ivfPqIndex]] (statically
  *    pruned to the probed cells); '''x93_full''' is the exact-generator
  *    contrast (one full corpus scan per batch, linear by design).
  *
  * Usage: `runMain graft.ScalingIncr [baseDir] [workDir] [scalesCsv] [iters]`
  * (defaults `/root/testdata/sf0.1 /tmp/graft_scaling_incr 1,3,10,30 2`).
  * Prints per-cell rows plus a fitted log-log exponent per op; one JSON line
  * (with exponents) to stdout and `scaling-incr-latest.json`. */
object ScalingIncr {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scaling_incr"
    val scales = (if (args.length > 2) args(2) else "1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val iters = if (args.length > 3) args(3).toInt else 2
    // the increment's id shift (100 × ReplicaOffset) is disjoint from
    // replica id ranges only below 100 replicas; the rotation-distinctness
    // bound is data-dependent (dim / gcd(7, dim)) and owned by
    // Scaling.buildScaledEmbeddings, which reads dim from the corpus —
    // duplicating it here with a constant invited the two checks to drift
    require(scales.max < 100,
      s"scales at or above 100 collide with the increment's id range: $scales")
    val cpus = graft.util.LocalSession.cpus
    val spark = graft.util.LocalSession(cpus)
    spark.range(1000000).selectExpr("sum(id * 2)").collect()

    val embBaseN = Scaling.buildScaledEmbeddings(spark, baseDir, workDir, scales)
    Scaling.buildScaledDocs(spark, baseDir, workDir, scales)

    // ids beyond every replica range (k ≤ 64 replicas × ReplicaOffset)
    val incrOffset = 100L * Scaling.ReplicaOffset
    val incDocs = spark.read.parquet(s"$baseDir/documents.parquet")
      .withColumn("doc_id", col("doc_id") + lit(incrOffset))
    val incEmb = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + lit(incrOffset))
    incDocs.write.mode("overwrite").parquet(s"$workDir/inc/documents.parquet")
    incEmb.write.mode("overwrite").parquet(s"$workDir/inc/embeddings.parquet")
    def inc(table: String): DataFrame =
      spark.read.parquet(s"$workDir/inc/$table.parquet")


    // optional op allowlist (Scaling's SPARK_GRAFT_SCALING_ONLY convention):
    // a targeted re-measure must not pay every scale's untimed index builds
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(names: String*): Boolean = only.forall(o => names.exists(o))

    val cells = scales.flatMap { m =>
      val dir = s"$workDir/x$m"
      val oldDocs = spark.read.parquet(s"$dir/documents.parquet")
      val oldEmb = spark.read.parquet(s"$dir/embeddings.parquet")
      val oldN = m * embBaseN

      // ---- untimed index builds (the amortized-once production cost) ----
      val idxTable = s"scal_incr_idx_x$m"
      val vocTable = s"scal_incr_voc_x$m"
      val semTable = s"scal_incr_sem_x$m"
      val bmTable = s"scal_incr_bm25_x$m"
      val spanVocTable = s"scal_incr_spanvoc_x$m"
      if (want("x40_probe"))
        TextDedup.writeDedupIndex(TextDedup.dedupIndex(oldDocs), idxTable)
      if (want("x54_probe"))
        TextDedup.writeVocabulary(
          TextDedup.vocabulary(oldDocs, hashGrams = true), vocTable)
      val cents =
        if (want("x51_assign", "x51_probe", "x51_full"))
          Semantic.trainCentroids(oldEmb, k = Semantic.kFor(oldN))
        else Seq.empty
      if (want("x51_probe"))
        Semantic.writeAssignedIndex(Semantic.assignedIndex(oldEmb, cents),
          semTable)
      // sheet-excluded, like every other bm25Index pairing (bm25TopK,
      // x65RelevanceGate, the RetrievalSpec parity test) — indexing the
      // sheet docs would shift N/avgdl/df away from the self-contained path
      if (want("x60_probe", "x92_probe"))
        graft.corpus.Retrieval.writeBm25Index(
          graft.corpus.Retrieval.bm25Index(
            oldDocs.filter(!graft.corpus.Retrieval.querySheetCol())), bmTable)
      val postTable = s"scal_incr_post_x$m"
      if (want("x92_probe"))
        graft.corpus.Retrieval.writeBm25Postings(
          graft.corpus.Retrieval.bm25Postings(
            oldDocs.filter(!graft.corpus.Retrieval.querySheetCol())),
          postTable)
      if (want("x84_probe", "x100_probe", "x102_probe"))
        TextDedup.writeVocabulary(
          TextDedup.spanVocabulary(oldDocs, hashGrams = true), spanVocTable)
      val lineVocTable = s"scal_incr_linevoc_x$m"
      if (want("x109_probe"))
        TextDedup.writeVocabulary(
          TextDedup.lineVocabulary(
            TextDedup.paragraphFixture(oldDocs), hashKeys = true),
          lineVocTable)
      val urlTable = s"scal_incr_urlidx_x$m"
      if (want("x112_probe"))
        // synthetic URL column: the driver fixture's 125-class key space
        // cannot grow an index, so every OLD doc gets a DISTINCT canonical
        // URL (index rows linear in m) decorated with a tracking param the
        // normalization must strip
        TextDedup.writeUrlIndex(TextDedup.urlIndex(
          oldDocs.withColumn("url", concat(lit("https://d"), col("doc_id"),
            lit(".com/x?utm_source=s")))), urlTable)
      // x116's graphs: [[Scaling.synthEdges]] (ONE generator shared with
      // the x113 ladder cell so the rows stay comparable); increment ids
      // are offset so its subgraph is disjoint new territory — a premise
      // that breaks at replica 61 (old dst ids reach the increment's id
      // range), guarded loud for BOTH cells (a cold-only run at 61+ would
      // otherwise silently skew the warm-vs-cold contrast it feeds).
      // The previous snapshot's ranks are the amortized-once artifact:
      // built on the OLD graph, untimed.
      if (want("x116_warm", "x116_cold"))
        require(m <= 60, s"x116 cells need scale <= 60 (got $m): old-side" +
          " synthetic dst ids collide with increment src ids at replica 61")
      val prevRanks116: DataFrame =
        if (want("x116_warm"))
          graft.corpus.WebGraph.domainPageRank(Scaling.synthEdges(oldDocs))
        else null
      val lmTable = s"scal_incr_lm_x$m"
      if (want("x86_probe"))
        graft.corpus.Curation.writeUnigramLm(
          graft.corpus.Curation.unigramLm(oldDocs), lmTable)
      // x93's frozen retrieval artifacts: PQ codebooks + coarse centroids
      // (bounded driver artifacts) and the cid-partitioned persisted
      // IVF-PQ code index over the old side — all untimed (amortized-once
      // production cost, kept current per micro-batch by
      // StreamOps.indexEmbeddings)
      val pqPath = s"$workDir/pq_x$m"
      val (cbs93, cents93) = if (want("x93_probe")) {
        val Q = graft.corpus.Quantization
        val cbs = Q.sliceCodebooks(oldEmb)
        val cents = Q.centroidSeeds(oldEmb)
        Q.writeIvfPqIndex(Q.ivfPqIndex(oldEmb, cbs, cents), pqPath)
        (cbs, cents)
      } else (null, Seq.empty[(Long, Seq[Double])])
      // x86's frozen boundary table MATERIALIZED to the driver (tiny:
      // langs × 3) and rebuilt as a local relation — left lazy, the timed
      // probe would re-run the whole old-side bucketing inside the cell
      val bounds86: DataFrame = if (want("x86_probe")) {
        import spark.implicits._
        graft.corpus.Curation.ccnetBoundaries(
            graft.corpus.Curation.ccnetBuckets(oldDocs))
          .collect()
          .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket"),
            r.getAs[Double]("min_s")))
          .toSeq.toDF("lang", "bucket", "min_s")
      } else null
      // the fixed query sheet (base-corpus slice): constant across scales,
      // and replica k >= 1 vocabularies are disjoint from it — so the probe's
      // matched-postings workload is constant in m by construction and the
      // cell isolates the growing-index scan term
      val sheet = spark.read.parquet(s"$baseDir/documents.parquet")
        .filter(graft.corpus.Retrieval.querySheetCol())

      val ops: Seq[(String, () => DataFrame)] = Seq(
        ("x40_probe", () => TextDedup.dedupIndex(inc("documents"))
          .join(spark.table(idxTable), Seq("band", "bucket"), "left_semi")
          .select(col("doc_id")).distinct()),
        ("x54_probe", () => TextDedup.noveltyScoreAgainst(
          inc("documents"), spark.table(vocTable), hashGrams = true)),
        ("x51_assign", () => Semantic.assignAgainst(inc("embeddings"), cents)),
        ("x51_probe", () => Semantic.incrementalSemanticDedupAgainst(
          inc("embeddings"), spark.table(semTable), cents)),
        ("x51_full", () => Semantic.incrementalSemanticDedup(
          inc("embeddings"), oldEmb, k = Semantic.kFor(oldN))),
        ("x60_probe", () => graft.corpus.Retrieval.bm25TopKAgainst(
          inc("documents"), spark.table(bmTable), sheet)),
        // x92: RM3 over the persisted postings + index, fixed sheet. Unlike
        // the fixed-increment probes this re-SCORES the whole corpus per
        // sheet revision (that is RM3's contract), but the probe never
        // re-tokenizes: matched postings stay constant in m (replica k >= 1
        // vocabularies are sheet-disjoint), so the cell isolates the
        // bucketed postings/index scan term — flat downstream work plus a
        // scan-bound linear read. x87_full below is the self-contained
        // contrast that re-tokenizes the corpus ~2.5x every run
        ("x92_probe", () => graft.corpus.Retrieval.rm3TopKAgainst(
          spark.table(postTable), spark.table(bmTable), sheet)),
        ("x87_full", () => graft.corpus.Retrieval.rm3TopK(oldDocs)),
        // x84: fixed increment scrubbed against the growing persisted span
        // vocabulary. Each increment doc near-duplicates its replica-0 twin,
        // so its spans ARE in the vocabulary and removal work per doc is
        // constant in m by construction — only the bucketed vocabulary scan
        // grows
        ("x84_probe", () => TextDedup.spanScrubAgainst(
          inc("documents"), spark.table(spanVocTable), hashGrams = true)),
        // x100: fixed increment's long-overlap spans against the growing
        // persisted span vocabulary. Every increment doc duplicates its
        // replica-0 twin verbatim, so docs of >= minTokens tokens report
        // exactly one full-length run — constant span workload in m; only
        // the bucketed vocabulary scan grows (the x84 shape, minus the
        // rebuild)
        ("x100_probe", () => TextDedup.duplicatedSpansAgainst(
          inc("documents"), spark.table(spanVocTable), hashGrams = true)),
        // x102: fixed increment SCRUBBED at ExactSubstr length against the
        // growing persisted span vocabulary — x100's screen plus the
        // rebuild, x84's scrub plus the run gate. Increment docs duplicate
        // their replica-0 twins verbatim, so per-doc run structure and
        // removal work are constant in m by construction; only the
        // bucketed vocabulary scan grows
        ("x102_probe", () => TextDedup.spanScrubLongAgainst(
          inc("documents"), spark.table(spanVocTable), hashGrams = true)),
        // x109: fixed increment line-scrubbed against the growing persisted
        // LINE vocabulary (paragraph-fixtured on both sides — the fixture is
        // narrow per-row column work, constant per doc). Each increment
        // doc's body lines equal its replica-0 twin's (the 6-token chunking
        // is id-independent) and the planted header/footer lines sit at
        // corpus-wide df, so removal work per doc is constant in m by
        // construction — only the bucketed vocabulary scan grows
        ("x109_probe", () => TextDedup.lineScrubAgainst(
          TextDedup.paragraphFixture(inc("documents")),
          spark.table(lineVocTable), hashKeys = true)),
        // x112: fixed increment probed against the growing persisted
        // canonical-URL index — the frontier's "already crawled" gate.
        // Each increment doc carries its replica-0 twin's URL under
        // DIFFERENT decorations (trailing slash + fragment vs the index
        // side's tracking param), so every probe is a hit, hits are
        // constant in m, and BOTH sides exercise the normalization kernel;
        // only the increment shuffles — the bucketed index reads in place
        ("x112_probe", () => TextDedup.urlDedupAgainst(
          inc("documents").withColumn("url",
            concat(lit("https://d"), col("doc_id") - incrOffset,
              lit(".com/x/#f"))),
          spark.table(urlTable))),
        // x116: warm-start PageRank after the day's edges land — ONE warm
        // round over the updated graph from the previous snapshot's ranks,
        // vs the cold contrast re-running the full iteration budget. Both
        // grow with the graph (rank propagation must touch every edge);
        // the warm/cold RATIO ≈ 1/PageRankIters is the claim, the x51
        // probe-vs-full contrast shape
        ("x116_warm", () => graft.corpus.WebGraph.domainPageRankFrom(
          Scaling.synthEdges(oldDocs)
            .unionByName(Scaling.synthEdges(inc("documents"))),
          prevRanks116, iters = 1)),
        ("x116_cold", () => graft.corpus.WebGraph.domainPageRank(
          Scaling.synthEdges(oldDocs)
            .unionByName(Scaling.synthEdges(inc("documents"))))),
        // x86: fixed increment scored against the growing persisted unigram
        // LM and the frozen boundary literal. Increment tokens equal their
        // replica-0 twins, so every token is LM-known and per-doc scoring
        // work is constant in m; the bucketed LM reads in place (scan-bound
        // linear term), the boundary probe is a broadcast against 3 rows
        ("x86_probe", () => graft.corpus.Curation.ccnetAssign(
          inc("documents"), spark.table(lmTable), bounds86)),
        // x93: denoised hard negatives for a FIXED arriving query batch,
        // candidates from the persisted cid-partitioned IVF-PQ code index
        // (statically pruned to the probed cells — codes, not vectors);
        // the only other corpus touch is the bounded-id vector fetch for
        // the exact re-score. Increment vectors equal their replica-0
        // twins, so each query's positive is that twin (cos ~1) and the
        // margin gate's workload is constant in m by construction
        ("x93_probe", () => graft.corpus.Similarity.hardNegativesFor(
          inc("embeddings").filter(col("vec_id") < incrOffset + 64),
          oldEmb,
          dense = graft.corpus.Retrieval.ivfAdcDenseCandidates(
            spark.read.parquet(pqPath), cbs93, cents93))),
        // x93_full: the exact-generator contrast — one full corpus scan
        // per batch, linear in m by design; the gap is what the persisted
        // code index buys
        ("x93_full", () => graft.corpus.Similarity.hardNegativesFor(
          inc("embeddings").filter(col("vec_id") < incrOffset + 64),
          oldEmb)))

      val rows = ops.filter(o => want(o._1)).map { case (name, fn) =>
        val nRows = fn().count() // untimed warm + workload-constancy evidence
        val times = (1 to iters).map(_ => Scaling.runOnce(fn))
        System.err.println(f"scale=$m%2d $name%-12s rows=$nRows%9d " +
          f"min=${times.min}%7.2fs all=${times.map(t => f"$t%.2f").mkString(",")}")
        (m, name, nRows, times)
      }
      spark.sql(s"DROP TABLE IF EXISTS $idxTable")
      spark.sql(s"DROP TABLE IF EXISTS $vocTable")
      spark.sql(s"DROP TABLE IF EXISTS $semTable")
      spark.sql(s"DROP TABLE IF EXISTS $bmTable")
      spark.sql(s"DROP TABLE IF EXISTS $spanVocTable")
      spark.sql(s"DROP TABLE IF EXISTS $lineVocTable")
      spark.sql(s"DROP TABLE IF EXISTS $lmTable")
      spark.sql(s"DROP TABLE IF EXISTS $postTable")
      spark.sql(s"DROP TABLE IF EXISTS $urlTable")
      rows
    }

    // log-log least-squares exponent per op across scales (min time per cell);
    // a single-scale run has no slope to fit — skip rather than emit NaN
    // (JsonNum would render it bare and break the JSON line)
    val exps = if (scales.distinct.size < 2) Map.empty[String, Double]
    else cells.groupBy(_._2).map { case (name, cs) =>
      val pts = cs.map(c => (math.log(c._1.toDouble), math.log(c._4.min)))
      val n = pts.size
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      name -> slope
    }
    exps.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"exponent $k%-12s ${v}%+.2f")
    }

    val json = cells.map { case (m, name, nRows, times) =>
      s"""{"scale":$m,"op":"$name","rows":$nRows,""" +
        s""""times":[${times.map(t =>
          graft.util.JsonNum.fixed(t, 3)).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    val expJson = exps.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":${graft.util.JsonNum.fixed(v, 3)}"""
    }.mkString("{", ",", "}")
    val line = s"""{"base":"$baseDir","cpus":$cpus,"mode":"incremental",""" +
      s""""exponents":$expJson,"cells":$json}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(workDir, "scaling-incr-latest.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
