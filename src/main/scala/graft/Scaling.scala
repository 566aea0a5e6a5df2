package graft

import graft.corpus.{Semantic, Similarity, TextDedup}
import graft.queries.RelationalQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling harness for the corpus-bound operators of ALL THREE
  * data planes — text (x3 MinHash+LSH, x20 cluster formation, x37
  * cross-doc spans, x58 line scrub), vector (x6 brute top-k, x7 sign-LSH
  * ANN, x13 IVF ANN, x44 k-means at the kFor occupancy policy, x45
  * semantic dedup), and relational (q1 scan-bound aggregate, q7 session
  * windows, and the two custom interval joins q8 as-of / q9 range — the
  * operators where a hidden per-key quadratic would live): generates
  * replica-scaled corpora from the sf0.1 tables, measures wall-time at
  * each scale, and emits one JSON report the fit script turns into
  * `SCALING.md`.
  *
  * Corpus construction — EXACT m× workload, zero confounds: scale m is the
  * base corpus unioned with m-1 replicas whose doc_ids are shifted by a
  * disjoint range and whose every token carries a per-replica suffix
  * (`w` → `w~k`). Tokenization is plain space-split
  * ([[TextDedup.tokens]]), so each replica reproduces the base corpus's
  * shingle sets, Jaccard similarities, LSH buckets, span families, and
  * line families EXACTLY, under a vocabulary disjoint from every other
  * replica. True output therefore grows exactly m× (pairs, clusters,
  * spans, scrubbed lines each m× the base), and a fitted time exponent
  * measures ENGINE scaling alone, not workload drift. (Mutating a
  * fraction of replica docs — the snapshot fixtures' " v2" convention —
  * would instead grow near-dup families superlinearly: a family of f
  * copies across m replicas yields ~(mf)² pairs, and the fit would
  * confound engine behavior with that quadratic workload.)
  *
  * Usage: `runMain graft.Scaling [baseDir] [workDir] [scalesCsv] [iters]`
  * (defaults `/root/testdata/sf0.1 /tmp/graft_scaling 1,3,10 2`).
  * Timed action is a `noop`-format write — full materialization of every
  * output column, no sink cost — after one untimed warm run per plan that
  * also records the output row count (the m×-linearity check). Reported
  * per-cell time is the MIN over `iters` timed runs: host-load spikes on a
  * shared box only ever ADD time, so min is the least-contaminated
  * estimate of the engine's cost.
  */
object Scaling {

  /** doc_id/vec_id shift per replica — disjoint ranges that preserve the
    * fixture parities x58's paragraphFixture keys on (multiple of 6). */
  val ReplicaOffset = 600000000L

  /** The synthetic corpus-proportional domain graph shared by the x113
    * ladder cell and ScalingIncr's x116 warm/cold contrast: one edge per
    * doc, node ids ∝ doc ids — ONE definition so the two measurements
    * stay comparable. Disjointness caveat for the x116 increment premise:
    * dst ids reach the increment's id range (100 × ReplicaOffset DIV 5)
    * at replica 60, so the "increment subgraph is new territory" reading
    * holds only for scales ≤ 60 (guarded at the x116 cell). */
  private[graft] def synthEdges(df: DataFrame): DataFrame = df.select(
    concat(lit("s"), expr("doc_id DIV 5")).as("src_domain"),
    concat(lit("s"), expr("doc_id DIV 3 + 1")).as("dst_domain"),
    (col("doc_id") % 3 + 1).as("n_links"))

  /** One timed cell: a `noop`-format write (full materialization, no sink
    * cost) followed by the inter-cell GC hygiene. Shared by BOTH ladder
    * harnesses ([[Scaling]] and [[ScalingIncr]]) so the batch and
    * incremental exponents are always measured under the same discipline. */
  private[graft] def runOnce(plan: () => DataFrame): Double = {
    val t0 = System.nanoTime()
    plan().write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    System.gc() // the Bench hygiene: don't bill later cells for this one
    dt
  }

  /** Write replica-scaled documents (per-replica token suffix — see the
    * class doc's zero-confound argument) for each scale under
    * `workDir/x<m>/documents.parquet`. Returns the base row count. */
  def buildScaledDocs(spark: SparkSession, baseDir: String, workDir: String,
      scales: Seq[Int]): Long = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    scales.foreach { m =>
      val scaled = (0 until m).map { k =>
        if (k == 0) base
        else base
          .withColumn("doc_id", col("doc_id") + lit(k * ReplicaOffset))
          .withColumn("text",
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"~$k"))), " "))
      }.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$workDir/x$m/documents.parquet")
    }
    base.count()
  }

  /** Write replica-scaled embeddings (cyclic coordinate rotation per replica
    * — an orthogonal transform, so within-replica geometry is EXACT) for
    * each scale under `workDir/x<m>/embeddings.parquet`. Returns the base
    * row count. */
  def buildScaledEmbeddings(spark: SparkSession, baseDir: String,
      workDir: String, scales: Seq[Int]): Long = {
    val embBase = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = embBase.select(size(col("embedding"))).head().getInt(0)
    // rotations k·7 mod dim are pairwise distinct only for
    // k < dim / gcd(7, dim) — `<= dim` alone is wrong whenever 7 divides
    // dim (e.g. 896-wide embeddings repeat every 128 replicas): repeated
    // shifts make exact-duplicate replicas, correlating cross-replica
    // cosines and breaking the exact-m×-workload construction the fitted
    // exponents rely on
    val distinctShifts = dim / BigInt(7).gcd(BigInt(dim)).toInt
    require(scales.max <= distinctShifts,
      s"replica rotations repeat past $distinctShifts replicas " +
        s"(dim=$dim, step 7): $scales")
    scales.foreach { m =>
      val scaled = (0 until m).map { k =>
        val shift = (k * 7) % dim
        if (k == 0) embBase
        else embBase
          .withColumn("vec_id", col("vec_id") + lit(k * ReplicaOffset))
          .withColumn("embedding",
            concat(slice(col("embedding"), shift + 1, dim - shift),
              slice(col("embedding"), 1, shift)))
      }.reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$workDir/x$m/embeddings.parquet")
    }
    embBase.count()
  }

  /** Long-document fixture for the x80_long cells: the sf corpora's ~300-
    * char docs cannot show the banded DP's O(t·min(n,m)) advantage (band
    * width ≈ doc length there), so this concatenates each run of 16
    * consecutive docs into one ~4.8k-char document and emits three variants
    * per group — FULL (id 4g), NEAR-DUP (4g+1, last doc dropped: lev ≈ one
    * doc ≪ t, a genuine banded-DP dup), HALF (4g+2, first half only:
    * length difference ≫ t, the pair the length prefilter must refute for
    * FREE). Groups smaller than 4 docs are dropped (their variants
    * degenerate). Built once per scale, untimed, from the already-replica-
    * scaled documents — so long-doc content grows m× like every other
    * plane. */
  def buildLongDocs(spark: SparkSession, workDir: String,
      scales: Seq[Int]): Long = {
    scales.foreach { m =>
      val docs = spark.read.parquet(s"$workDir/x$m/documents.parquet")
      val grouped = docs
        .select(expr("doc_id div 16").as("grp"), col("doc_id"), col("text"))
        .groupBy(col("grp"))
        .agg(array_sort(collect_list(struct(col("doc_id"), col("text"))))
          .as("a"))
        .filter(size(col("a")) >= 4)
      def joined(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        array_join(transform(arr, s => s.getField("text")), " ")
      grouped.select(col("grp"), explode(array(
          struct(lit(0L).as("v"), joined(col("a")).as("text")),
          struct(lit(1L).as("v"),
            joined(slice(col("a"), lit(1), size(col("a")) - 1)).as("text")),
          struct(lit(2L).as("v"),
            joined(slice(col("a"), lit(1), size(col("a")) / 2)).as("text"))))
          .as("e"))
        .select((col("grp") * 4 + col("e.v")).as("doc_id"), col("e.text"))
        .write.mode("overwrite").parquet(s"$workDir/x$m/longdocs.parquet")
    }
    spark.read.parquet(s"$workDir/x${scales.min}/longdocs.parquet").count() /
      scales.min
  }

  /** The x80_long candidate frame: per group, (full, near-dup) and
    * (full, half) — one band-verified dup and one length-refuted pair, so
    * the prefilter's refutation rate is 1/2 by construction. */
  private def longPairs(longDocs: DataFrame): DataFrame =
    longDocs.filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("doc_id_1"),
        explode(array(col("doc_id") + 1, col("doc_id") + 2)).as("doc_id_2"))

  /** Skewed-documents fixture for the packing-plane skew cells: remap
    * sources so ONE source holds 90% of every scale's rows (doc_id % 10
    * ≠ 0 → "mega") — the mega-crawl-host shape [[Curation.bandedRunning]]
    * exists for. Derived from the already-replica-scaled documents, so
    * workload still grows exactly m× and only the SKEW differs from the
    * balanced x31/x97 cells. */
  def buildSkewedDocs(spark: SparkSession, workDir: String,
      scales: Seq[Int]): Unit =
    scales.foreach { m =>
      spark.read.parquet(s"$workDir/x$m/documents.parquet")
        .withColumn("source", when(col("doc_id") % 10 =!= 0, lit("mega"))
          .otherwise(col("source")))
        .write.mode("overwrite").parquet(s"$workDir/x$m/docskew.parquet")
    }

  /** Boilerplate-heavy fixture for the x101 cells: ONE mega document built
    * from K = [[BoilerFamiliesPerScale]]·m boilerplate families (60 unique
    * tokens each, above the 50-token ExactSubstr gate), each family
    * separated by a unique one-token seam and each ALSO present verbatim as
    * its own partner document — so the mega doc carries K disjoint
    * QUALIFYING duplicated runs and ~56K duplicated window positions, all
    * keyed to a single doc_id. This is exactly the shape where the retired
    * doc_id-keyed coverage join evaluated positions × runs ≈ 56K² join
    * rows in one task (~1.4×10⁹ at m = 10 — the r17 hazard's quoted scale)
    * while the islands-key form pays two doc-keyed window passes over 56K
    * rows. Generated deterministically on the driver (~2.4 MB of text at
    * m = 10); workload grows ∝ m for the fixed form, ∝ m² for the referee. */
  val BoilerFamiliesPerScale = 500
  def buildBoilerDocs(spark: SparkSession, workDir: String,
      scales: Seq[Int]): Unit =
    scales.foreach { m =>
      import spark.implicits._
      val k = BoilerFamiliesPerScale * m
      val families = (1 to k).map(i =>
        (1 to 60).map(j => s"f${i}_$j").mkString(" "))
      val mega = families.zipWithIndex
        .map { case (f, i) => s"$f sep_$i" }.mkString(" ")
      // the mega doc takes the HIGHEST doc_id: canonical home = min doc_id
      // per gram, so every mega position must be NON-canonical (removable)
      // — with the mega doc canonical, the retired join's removable
      // pre-filter empties its left side and the fan-out never happens
      (families.zipWithIndex.map { case (f, i) =>
        ((i + 1).toLong, f) } :+ ((k + 1).toLong, mega))
        .toDF("doc_id", "text")
        .repartition(4) // the partner docs need not ride one task
        .write.mode("overwrite").parquet(s"$workDir/x$m/docboiler.parquet")
    }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scaling"
    val scales = (if (args.length > 2) args(2) else "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val iters = if (args.length > 3) args(3).toInt else 2
    val cpus = graft.util.LocalSession.cpus
    // the x80_long cells NEED the SPARK_GRAFT_CONF passthrough: their
    // DP-heavy pairs are tiny in BYTES, so AQE's byte-sized partition
    // coalescing packs the whole quadratic verify into ~1 task (measured: 2.8
    // of 32 cores) — the deployment lever for compute-dense verifier stages
    // is a smaller advisory partition size (or disabling coalescing for the
    // stage), documented in SCALING.md with the cells
    val spark = graft.util.LocalSession.withConfPassthrough(graft.util.LocalSession(cpus))
    spark.range(1000000).selectExpr("sum(id * 2)").collect() // session warm-up

    // optional fixture-build allowlist for targeted ladder extensions
    // (SPARK_GRAFT_SCALING_TABLES=documents,docskew): rebuilding every
    // plane to extend one costs minutes of writes — and the embedding
    // rotation construction caps at dim/gcd(7,dim) replicas, so a
    // documents-only ladder past that cap MUST skip the vector build.
    // Skipped planes read their base count from the existing x1 replica
    // (only the occupancy-policy ops consume it — not runnable anyway
    // without their fixture at the requested scales).
    val buildTables = sys.env.get("SPARK_GRAFT_SCALING_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    def wantBuild(t: String): Boolean = buildTables.forall(_.contains(t))
    // a skipped plane whose x1 replica is ABSENT records -1, and its ops are
    // skipped loudly below — the old getOrElse(1L) silently seeded a wrong
    // base count, corrupting every expected-row ratio of ops on that plane.
    // Only ABSENCE skips: a replica that exists but fails to read (corrupt
    // partial write, permissions) propagates loudly instead of thinning the
    // ladder with a wrong "no replica" diagnosis (r17 review find).
    // Existence resolves through the HADOOP FileSystem for the path, not
    // java.io.File: the parquet read goes through Hadoop path resolution,
    // so a scheme-qualified or non-local workDir (file:/, hdfs:, s3a:)
    // would make an existing replica look absent under a raw File probe —
    // the exact misdiagnosis class this check exists to avoid (r17 advice)
    def x1Count(t: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$workDir/x1/$t.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) -1L
      else spark.read.parquet(p.toString).count()
    }

    // doc_id range per replica must be disjoint AND preserve the fixture
    // parities x58's paragraphFixture keys on (doc_id % 2 / % 3): an even
    // offset per replica keeps %2 but not %3, so ReplicaOffset is a
    // multiple of 6
    val offset = ReplicaOffset
    val baseN = if (wantBuild("documents"))
      buildScaledDocs(spark, baseDir, workDir, scales)
      else x1Count("documents")
    val longBaseN = if (wantBuild("longdocs"))
      buildLongDocs(spark, workDir, scales) else x1Count("longdocs")
    if (wantBuild("docskew")) buildSkewedDocs(spark, workDir, scales)
    if (wantBuild("docboiler")) buildBoilerDocs(spark, workDir, scales)
    // derived planes carry their OWN base counts, counted from their x1
    // replica after any build: aliasing docskew to documents' baseN dropped
    // every docskew op — with a message naming the wrong plane — whenever
    // the documents plane was skipped and replica-less, even though
    // docskew.parquet had just been built (r17 advice)
    val docskewBaseN = x1Count("docskew")
    val boilerBaseN = x1Count("docboiler")

    // VECTOR PLANE — replicas must preserve within-replica geometry exactly
    // (so each replica reproduces the base corpus's neighbor structure and
    // true workload grows m×) while staying decorrelated from other
    // replicas. A cyclic coordinate rotation is an orthogonal transform:
    // every within-replica inner product (hence every cosine, every LSH
    // hyperplane margin distribution, every centroid geometry) is EXACTLY
    // preserved; cross-replica cosines scatter like unrelated vectors.
    // Shift k·7 mod dim is distinct per replica for k < dim (7 coprime 64).
    val embBaseN = if (wantBuild("embeddings"))
      buildScaledEmbeddings(spark, baseDir, workDir, scales)
      else x1Count("embeddings")

    // RELATIONAL PLANE — key-shifted replicas: each replica's per-key groups
    // are exact copies of base groups under disjoint keys, so session
    // windows, as-of carries, and range-join fan-outs reproduce the base
    // workload exactly m× (events.user_id and orders.o_custkey shift by the
    // SAME offset, preserving every q8 event↔order association per replica).
    // lineitem replicates unshifted: q1 groups on returnflag/linestatus, so
    // its workload is m× input rows into a fixed-cardinality aggregate.
    val relBaseCounts = Seq(
      ("events", Seq("event_id", "user_id")),
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("lineitem", Seq.empty[String])).map { case (name, keys) =>
      // Tables.table, not a raw read: events.ts has shipped as both INT64
      // TIMESTAMP(NANOS) (readable only under the nanos-as-long legacy
      // mode Tables.tune sets) and timestamp[us]; either way the scaled
      // copy round-trips through Tables.events' type dispatch
      if (!wantBuild(name)) name -> x1Count(name)
      else {
        val b = graft.util.Tables.table(spark, baseDir, name)
        scales.foreach { m =>
          val scaled = (0 until m).map { k =>
            if (k == 0) b
            else keys.foldLeft(b)((df, c) => df.withColumn(c, col(c) + lit(k * offset)))
          }.reduce(_ unionAll _)
          scaled.write.mode("overwrite").parquet(s"$workDir/x$m/$name.parquet")
        }
        name -> b.count()
      }
    }

    val rounds = new java.util.concurrent.atomic.AtomicInteger(-1)
    // (primary table for the occupancy-policy row count, op, plan builder
    // over the SCALE DIRECTORY — multi-table relational ops read whatever
    // they need from it; the builder also receives the primary table's row
    // count at this scale so the k-means/LSH ops can apply the kFor/bitsFor
    // occupancy policies — the documented deployment contract (k and bits
    // grow to hold occupancy flat, which is what keeps pair work linear)
    def rd(dir: String, table: String): DataFrame =
      spark.read.parquet(s"$dir/$table.parquet")
    val ops: Seq[(String, String, (String, Long) => DataFrame)] = Seq(
      ("documents", "x3_minhash_lsh",
        (d, _) => TextDedup.minhashPairs(rd(d, "documents"))),
      ("documents", "x20_dedup_clusters", (d, _) => TextDedup.dedupClusters(
        TextDedup.minhashPairs(rd(d, "documents")), onConverged = rounds.set)),
      ("documents", "x37_cross_doc_spans",
        (d, _) => TextDedup.crossDocSpans(rd(d, "documents"))),
      ("documents", "x58_line_scrub",
        (d, _) => TextDedup.lineScrub(TextDedup.paragraphFixture(rd(d, "documents")))),
      // x110: HTML -> text extraction — pure narrow kernel work riding the
      // scan (fixture build + six regexp stages per row, NO shuffle); the
      // cell is the linearity witness for the extraction chain
      ("documents", "x110_html_extract",
        (d, _) => graft.corpus.Html.extractText(
          graft.corpus.Html.htmlFixture(rd(d, "documents")))),
      // x111: domain web-graph edges — narrow fixture/extract/normalize
      // per row, then ONE domain-pair aggregate; the key space is
      // registrable DOMAINS (fixture-bounded Brand×tld here, ~1e8 on the
      // web), so the shuffle stays tiny while the scan side grows m×
      ("documents", "x111_domain_edges",
        (d, _) => graft.corpus.Html.domainEdges(
          graft.corpus.Html.htmlFixture(
            graft.corpus.Curation.urlFixture(rd(d, "documents"))))),
      // x113: fixed-round PageRank over a graph that GROWS with the corpus
      // (one edge per doc, nodes ∝ docs — the driver fixture's edge space
      // saturates at ~70 domains, so this cell synthesizes the scale
      // dimension that matters: per-round join+agg over m× edges)
      ("documents", "x113_domain_pagerank",
        (d, _) => graft.corpus.WebGraph.domainPageRank(
          Scaling.synthEdges(rd(d, "documents")))),
      // x60: replicas carry suffixed vocabularies DISJOINT from the base
      // query sheet (and ids past the QueryCount cap), so this cell measures
      // the PRUNE path — the broadcast semi-join must discard the growing
      // query-irrelevant corpus at scan speed, never expand it
      ("documents", "x60_bm25",
        (d, _) => graft.corpus.Retrieval.bm25TopK(rd(d, "documents"))),
      // x61: token stream AND word vocabulary both grow exactly m× (the
      // per-replica suffix multiplies distinct words), top-20 output fixed
      ("documents", "x61_bpe_pairs",
        (d, _) => graft.corpus.TextStats.bpePairCounts(rd(d, "documents"))),
      ("embeddings", "x6_cosine_topk", (d, _) => Similarity.cosineTopK(rd(d, "embeddings"))),
      ("embeddings", "x7_ann_lsh", // bitsFor: occupancy-flat buckets, like kFor
        (d, n) => Similarity.annLsh(rd(d, "embeddings"), bits = Similarity.bitsFor(n))),
      ("embeddings", "x13_ann_ivf", (d, _) => Similarity.annIvf(rd(d, "embeddings"))),
      ("embeddings", "x44_kmeans",
        (d, n) => Semantic.kmeansAssign(rd(d, "embeddings"), k = Semantic.kFor(n))),
      ("embeddings", "x45_semantic_dedup",
        (d, n) => Semantic.semanticDedup(rd(d, "embeddings"), k = Semantic.kFor(n))),
      // x63: the audit-slice contract — holdoutMod grows with the corpus so
      // the query side stays ~fixed (the deployment's bounded audit sheet)
      // while the labeled corpus it scans grows m×
      ("embeddings", "x63_knn_labels",
        (d, n) => Similarity.knnLabelTransfer(rd(d, "embeddings"),
          holdoutMod = Similarity.KnnHoldoutMod * (n / embBaseN))),
      // x66: pure narrow encode — the cell pins the per-row constant (the
      // rotation replicas re-slice into different subspaces, so codebooks
      // stay honest work, not a cache hit)
      ("embeddings", "x66_pq_codes",
        (d, _) => graft.corpus.Quantization.pqCodes(rd(d, "embeddings"))),
      // x69: the production PQ search — fixed query sheet against a growing
      // code table; candidate count (depth·k per query) is CONSTANT in the
      // corpus, so only the ADC scan grows
      ("embeddings", "x69_pq_rerank",
        (d, _) => graft.corpus.Quantization.adcRerankTopK(rd(d, "embeddings"))),
      // x70: fixed query sheet, fixed probe budget — the cell-local code
      // scan is the only term that grows
      ("embeddings", "x70_ivf_pq",
        (d, _) => graft.corpus.Quantization.ivfAdcTopK(rd(d, "embeddings"))),
      // x71: fixed sheet fuses two GROWING candidate generators — the cell
      // measures the sum of x60's prune path and one narrow dense pass;
      // the fusion join itself is (sheet × kCand)-bounded at every scale
      ("documents", "x71_hybrid_rrf",
        (d, _) => graft.corpus.Retrieval.hybridRrfTopK(
          rd(d, "documents"), rd(d, "embeddings"))),
      // x71 on the IVF dense generator (the r14 SPI's scale path): same
      // fusion, dense candidates from nprobe-pruned cells instead of the
      // exhaustive scan — the cell PAIR measures exactly what the swap
      // saves as the corpus grows (full probe is spec-pinned bit-identical,
      // so the pair differs only in the restriction)
      ("documents", "x71_hybrid_rrf_ivf",
        (d, _) => graft.corpus.Retrieval.hybridRrfTopK(
          rd(d, "documents"), rd(d, "embeddings"),
          dense = graft.corpus.Retrieval.ivfDenseCandidates())),
      // x72: fixed query sheet — stage 1's prefix-dot narrow pass is the
      // only growing term; the shortlist fetch + exact re-rank stay
      // (queries × shortlist)-bounded
      ("embeddings", "x72_trunc_ann",
        (d, _) => Similarity.annTruncated(rd(d, "embeddings"))),
      // x73: the exact driver query (shared builder — the measured cell can
      // never decouple from the verified construction), with the decontam
      // benchmark FIXED to the base replica: both frozen models are eval
      // artifacts; what grows m× is the index build's corpus pass and the
      // constant-per-row screen's input.
      ("documents", "x73_hybrid_gate", (d, _) =>
        graft.queries.CorpusQueries.hybridGateOver(
          rd(d, "documents"), rd(d, "embeddings"),
          rd(d, "embeddings").filter(col("vec_id") < ReplicaOffset))),
      // x76: the hashing trick IS the scale story — replicas multiply the
      // vocabulary m× (per-replica token suffixes) but the feature space
      // stays 256 buckets, so each training pass is one growing narrow
      // fold + a (B+1)-row-bounded gradient aggregate; the cell runs the
      // exact driver query (train 2 passes + score)
      ("documents", "x76_quality_lr", (d, _) =>
        graft.queries.CorpusQueries.x76QualityLr(spark, d)),
      // x77: x76's training plus ONE more stateless narrow projection (the
      // acceptance draw) — the cell pins that the resample adds no
      // corpus-scale term beyond the training it composes
      ("documents", "x77_classifier_resample", (d, _) =>
        graft.queries.CorpusQueries.x77ClassifierResample(spark, d)),
      // x78: the same training plus a bins-bounded aggregate — output is
      // `bins` rows at every scale; the cell pins that the report adds no
      // corpus-scale term beyond the scoring pass it aggregates
      ("documents", "x78_calibration", (d, _) =>
        graft.queries.CorpusQueries.x78Calibration(spark, d)),
      // x75: fixed query sheet against the m×-growing code table — the
      // stats aggregate and encode pass grow linearly, the ADC scan is
      // the narrow byte-table pass the factoring exists for
      ("embeddings", "x75_sq8_ann",
        (d, _) => graft.corpus.Quantization.sq8TopK(rd(d, "embeddings"))),
      // x81: the replica construction is adversarial for BPE training —
      // per-replica token suffixes multiply the distinct-word table m× —
      // but every round still touches only that table (corpus scanned once
      // regardless of rounds) and the application pass is narrow
      ("documents", "x81_bpe_segment", (d, _) =>
        graft.queries.CorpusQueries.x81BpeSegment(spark, d)),
      // x79: replicas keep the SAME 20 sources (sources don't multiply with
      // corpus size), so each per-source rank-window partition grows m× —
      // the cell measures exactly the documented skew bound (one window
      // shuffle, parallelism capped by source count)
      ("documents", "x79_shard_assign",
        (d, _) => graft.corpus.Curation.assignShards(rd(d, "documents"))),
      // x80: the verifier driven by the occupancy-policied MinHash generator
      // (candidates grow m× — x3's ladder cell); the default x5 pigeonhole
      // generator has FIXED 8-bit chunks, whose bucket occupancy grows m×
      // and the blocking join m²/1024 — its documented bench-scale regime,
      // not a ladder shape. The cell therefore measures what the verifier
      // ADDS on a linearly-growing candidate frame: two doc_id joins + one
      // bounded DP per pair.
      ("documents", "x80_edit_verify",
        (d, _) => TextDedup.editVerify(
          TextDedup.minhashPairs(rd(d, "documents")), rd(d, "documents"))),
      // x80 banded twin: same generator and join shape, DP banded under the
      // dup threshold with the length-difference prefilter built in — the
      // cell pair measures exactly what the band saves on the same
      // candidate frame (is_dup identical by the kernel-parity property)
      ("documents", "x80_edit_verify_banded",
        (d, _) => TextDedup.editVerifyBanded(
          TextDedup.minhashPairs(rd(d, "documents")), rd(d, "documents"))),
      // x80 long-document pair (buildLongDocs' fixture): ~19k-char docs,
      // one true near-dup and one length-refuted pair per group. THIS cell
      // pair is where the band's O(t·min) claim is measured, not just
      // documented — the sf-corpus cells above are parity (~300-char docs
      // leave nothing to band away); here the exact kernel fills the full
      // n·m matrix on every pair while the banded one fills the (2t+1)-wide
      // band on dups and refutes half the pairs on the length difference
      // without touching a DP cell
      ("longdocs", "x80_long_exact",
        (d, _) => TextDedup.editVerify(
          longPairs(rd(d, "longdocs")), rd(d, "longdocs"))),
      ("longdocs", "x80_long_banded",
        (d, _) => TextDedup.editVerifyBanded(
          longPairs(rd(d, "longdocs")), rd(d, "longdocs"))),
      // x83 keep-one-copy span scrub: replicas duplicate the base corpus's
      // span families under disjoint vocabularies, so removed mass grows
      // exactly m× — the cell pins the gram shuffle + coverage explode +
      // anti-join + per-doc sort-agg chain stays linear
      ("documents", "x83_span_scrub",
        (d, _) => TextDedup.spanScrub(rd(d, "documents"))),
      // x82 verify-on-candidates (the r14 overload): the same
      // linearly-growing MinHash candidate frame as the x80 cells, through
      // the shared intersection core — the cell pins that verification adds
      // two doc_id-keyed posting joins and nothing quadratic (the
      // exhaustive containmentPairs shape lives in x2's ladder regime)
      ("documents", "x82_containment_verify",
        (d, _) => TextDedup.containmentVerify(
          TextDedup.minhashPairs(rd(d, "documents")), rd(d, "documents"))),
      // x85 CCNet buckets: replicas preserve the language mix, so the
      // dominant language grows m× — exactly the skew the literal-splitter
      // band design exists for (a per-language window would serialize it
      // through one task). Per-replica token suffixes grow the LM total m×,
      // shifting every score by the same -log10(m) — ranks, tiles, and
      // output structure reproduce the base exactly m×. The cell pins the
      // whole chain: scoring pipeline ×3 (splitters/counts/final), two
      // bounded driver collects, one (band, lang) window exchange.
      ("documents", "x85_ccnet_buckets",
        (d, _) => graft.corpus.Curation.ccnetBuckets(rd(d, "documents"))),
      // x87 RM3: fixed sheet, growing corpus. Replica vocabularies are
      // disjoint from the sheet, so pass 1's feedback set and the expansion
      // sheet are CONSTANT in m — the cell measures the sum of two x60-style
      // prune paths (both must discard the growing query-irrelevant corpus
      // at scan speed) plus the feedback-doc scan (isin pushdown)
      ("documents", "x87_rm3",
        (d, _) => graft.corpus.Retrieval.rm3TopK(rd(d, "documents"))),
      // x89 MMR: fixed query set — the candidate pass (x6's shape) is the
      // only growing term; the pool/pair-sim collects and the driver-side
      // greedy are (queries × kCand)-bounded at every scale, and they run
      // inside the timed cell (plan construction happens in the timer)
      ("embeddings", "x89_mmr",
        (d, _) => Similarity.mmrTopK(rd(d, "embeddings"))),
      // x93 hard negatives: fixed query set — like x89 the candidate pass
      // is the only growing term, but the whole chain stays lazy (pool
      // fetch, margin gate, re-rank are broadcast joins over the bounded
      // candidate set — zero collects)
      ("embeddings", "x93_hard_negatives",
        (d, _) => Similarity.hardNegatives(rd(d, "embeddings"))),
      // x94 recall audit: fixed query slice — BOTH passes grow with the
      // corpus (the exact baseline scan and the IVF generator's probed
      // cells), which is the audit's documented cost; everything after is
      // (queries × k)-bounded
      ("embeddings", "x94_dense_recall",
        (d, _) => Similarity.denseRecallEval(rd(d, "embeddings"))),
      // x96 vs x6: the same scan and broadcast, top-k kept by the bounded
      // O(k)-state aggregate instead of a full per-query sort — the gap
      // between these two cells is the sort the window pays on a growing
      // candidate stream
      ("embeddings", "x96_topk_agg",
        (d, _) => Similarity.cosineTopKAgg(rd(d, "embeddings"))),
      // x95 packing audit: rides x31's per-source window (skew = largest
      // domain) + a source-cardinality aggregate — linear in the window's
      // ordered pass, source-bounded everywhere else
      ("documents", "x95_pack_efficiency",
        (d, _) => graft.corpus.Curation.packEfficiencyReport(
          rd(d, "documents"))),
      // x97 next-fit packing: the pointer-doubling cost curve IS the claim
      // — 2 window passes + ~2·log2(docs/source) position-keyed joins, so
      // the cell should grow like m·log m, never like a serial chain
      ("documents", "x97_pack_nextfit",
        (d, _) => graft.corpus.Curation.packNextFit(rd(d, "documents"))),
      // packing-plane SKEW cells (docskew: one source = 90% of rows): the
      // banded prefix sum must cost the same here as on the balanced
      // corpus, while the retired one-window referee serializes the
      // mega-source through one task — the pair prices exactly the
      // straggler the r16 rewrite removed
      ("docskew", "x31_pack_skew",
        (d, _) => graft.corpus.Curation.packSequences(rd(d, "docskew"))),
      ("docskew", "x31_pack_skew_window",
        (d, _) => graft.corpus.Curation.packSequencesOneWindow(
          rd(d, "docskew"))),
      ("docskew", "x97_pack_skew",
        (d, _) => graft.corpus.Curation.packNextFit(rd(d, "docskew"))),
      // x79 shard deal under the same 90%-one-source skew: the default's
      // cardinality probe must flip it to the banded rank past the
      // crossover instead of serializing the mega-source through one
      // window task; the referee cell pins the window form it replaced
      ("docskew", "x79_shard_skew",
        (d, _) => graft.corpus.Curation.assignShards(rd(d, "docskew"))),
      ("docskew", "x79_shard_skew_window",
        (d, _) => graft.corpus.Curation.assignShards(rd(d, "docskew"),
          windowCrossover = Long.MaxValue)),
      ("docskew", "x79_shard_skew_banded",
        (d, _) => graft.corpus.Curation.assignShardsBanded(rd(d, "docskew"))),
      // x99 exact-substring spans: the x37 gram-df shuffles + a per-doc
      // islands merge over duplicated positions only — replica families
      // are vocabulary-disjoint, so true spans grow exactly m× and the
      // cell isolates the gram-keyed shuffle term
      ("documents", "x99_exact_substr",
        (d, _) => TextDedup.duplicatedSpans(rd(d, "documents"))),
      ("documents", "x101_scrub_long",
        (d, _) => TextDedup.spanScrubLong(rd(d, "documents"))),
      // x101 boilerplate pair (docboiler: ONE mega doc holding
      // BoilerFamiliesPerScale·m qualifying duplicated runs): the
      // islands-key coverage must grow
      // ∝ m while the retired doc_id-keyed join + range filter pays
      // positions × runs ≈ m² inside the mega doc's single task — the pair
      // prices exactly the r18 runQualified fix
      ("docboiler", "x101_boiler",
        (d, _) => TextDedup.spanScrubLong(rd(d, "docboiler"))),
      ("docboiler", "x101_boiler_join",
        (d, _) => TextDedup.spanScrubLongJoinReferee(rd(d, "docboiler"))),
      // the 100 TB shuffle-width switch priced on the same plane: both
      // x99 gram shuffles keyed on xxhash64 instead of 5-token strings
      ("documents", "x99_exact_substr_hashed",
        (d, _) => TextDedup.duplicatedSpans(rd(d, "documents"),
          hashGrams = true)),
      // x90 training order: every row ranked, output exactly m× — the cell
      // pins the fixed-band global rank staying linear (one narrow band
      // projection, one bounded collect, one balanced hash-exchange window)
      ("documents", "x90_training_order",
        (d, _) => graft.corpus.Curation.trainingOrder(rd(d, "documents"))),
      // x126: redirect resolution over a map that GROWS with the corpus
      // (the driver fixture's 125-class map saturates — the x113 move):
      // one redirect per doc except every 8th, so each 8-block is a ≤7-hop
      // chain resolving under the cap; the cell measures the two normalize
      // kernel passes + the src-keyed collapse + the 3 doubling joins +
      // the apply join, all over m× rows, output exactly m× resolved rows
      ("documents", "x126_resolve_redirects", (d, _) => {
        val u = (id: org.apache.spark.sql.Column) => concat(lit("http://r"),
          (id % 1000).cast("string"), lit(".com/p/"), id.cast("string"))
        val base = rd(d, "documents")
        graft.corpus.WebGraph.resolveRedirects(
          base.select(col("doc_id"), u(col("doc_id")).as("url")),
          base.filter(col("doc_id") % 8 =!= 0)
            .select(u(col("doc_id")).as("src_url"),
              u(col("doc_id") - 1).as("dst_url")))
      }),
      // relational plane, through the same entry points the bench runs
      ("lineitem", "q1_agg", (d, _) => RelationalQueries.q1Agg(spark, d)),
      ("events", "q7_sessions", (d, _) => RelationalQueries.q7Sessions(spark, d)),
      ("events", "q8_asof_last_order",
        (d, _) => RelationalQueries.q8AsofLastOrder(spark, d)),
      ("orders", "q9_range_followups",
        (d, _) => RelationalQueries.q9RangeFollowups(spark, d)))

    val baseCounts: Map[String, Long] =
      relBaseCounts.toMap ++ Map("documents" -> baseN,
        "embeddings" -> embBaseN, "longdocs" -> longBaseN,
        "docskew" -> docskewBaseN, "docboiler" -> boilerBaseN)

    // optional comma-separated op allowlist for targeted ladder extensions —
    // re-measuring the whole ladder to add one cell wastes an hour of
    // wall-clock and perturbs nothing it re-measures
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // planes skipped at build time with no existing x1 replica have no
    // trustworthy base count — drop their ops loudly, never guess
    baseCounts.collect { case (t, n) if n < 0 => t }.toSeq.sorted.foreach(t =>
      System.err.println(s"SKIP plane '$t': no x1 replica under $workDir/x1 " +
        "(add it to SPARK_GRAFT_SCALING_TABLES or build the full ladder)"))
    val cells = for (m <- scales; (table, name, fn) <- ops
        if only.forall(_.contains(name)) && baseCounts(table) >= 0) yield {
      val dir = s"$workDir/x$m"
      val n = m * baseCounts(table)
      val bound = () => fn(dir, n)
      rounds.set(-1)
      val nRows = // untimed warm run; also the linearity evidence
        bound().count()
      val nRounds = rounds.get() // set only by x20's warm run
      val times = (1 to iters).map(_ => runOnce(bound))
      System.err.println(f"scale=$m%2d $name%-20s rows=$nRows%9d " +
        f"min=${times.min}%7.2fs all=${times.map(t => f"$t%.2f").mkString(",")}" +
        (if (nRounds >= 0) s" rounds=$nRounds" else ""))
      (m, name, nRows, times, nRounds)
    }

    val json = cells.map { case (m, name, nRows, times, nRounds) =>
      s"""{"scale":$m,"op":"$name","rows":$nRows,""" +
        s""""times":[${times.map(t =>
          graft.util.JsonNum.fixed(t, 3)).mkString(",")}]""" +
        (if (nRounds >= 0) s""","rounds":$nRounds""" else "") + "}"
    }.mkString("[", ",", "]")
    val line = s"""{"base":"$baseDir","cpus":$cpus,"cells":$json}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(workDir, "scaling-latest.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
