package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** X85/X86 — CCNet-style quality bucketing.
  *
  * The load-bearing fact pinned here: [[Curation.ccnetBuckets]] computes its
  * per-language NTILE ranks WITHOUT a per-language window (literal-splitter
  * score bands + per-band offsets, bounded partitions under any language
  * skew), so its entire value rests on being bit-equal to the naive
  * `ntile(k) OVER (PARTITION BY lang ORDER BY s DESC, doc_id)` it replaces —
  * the referee below checks exactly that, on seeded random corpora including
  * a 90 %-one-language skew, for k ∈ {1, 2, 3, 5} and languages with fewer
  * docs than buckets. The plan pin guards the structural-consistency
  * argument: the band id must be a pure function of row values (a
  * spark_partition_id or range-exchange formulation would tie correctness
  * to identical re-evaluation of a multiply-consumed subtree, which
  * spill-order nondeterminism breaks at scale).
  */
class CcnetSpec extends AnyFunSuite with SparkSpec {

  private def docsDf(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  /** Seeded random corpus: shared vocabulary so the LM is meaningful,
    * one dominant language (the skew the operator exists for). */
  private def randomCorpus(seed: Long, n: Int): Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val langs = Seq("en", "de", "fr", "sw")
    (0 until n).map { i =>
      val lang = if (rnd.nextDouble() < 0.85) "en" else langs(1 + rnd.nextInt(3))
      val text = Seq.fill(1 + rnd.nextInt(20))(s"w${rnd.nextInt(15)}")
        .mkString(" ")
      (i.toLong, text, lang)
    }
  }

  private def naive(docs: DataFrame, k: Int): DataFrame = {
    val scored = TextStats.unigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("s", col("sum_logprob") / col("n_tokens"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("s").desc, col("doc_id"))
    scored.select(col("doc_id"), col("lang"), col("n_tokens"), col("s"),
      ntile(k).over(w).cast("long").as("bucket"))
  }

  private def rows(df: DataFrame): Set[(Long, String, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getString(r.fieldIndex("lang")), r.getLong(r.fieldIndex("n_tokens")),
      r.getDouble(r.fieldIndex("s")), r.getLong(r.fieldIndex("bucket"))))
      .toSet

  test("ccnetBuckets == the per-language ntile window it replaces " +
      "(random skewed corpora, k in {1,2,3,5})") {
    for (seed <- 1L to 3L; k <- Seq(1, 2, 3, 5)) {
      val docs = docsDf(randomCorpus(seed, 60 + seed.toInt * 17))
      val got = rows(Curation.ccnetBuckets(docs, k))
      val want = rows(naive(docs, k))
      assert(got == want, s"seed=$seed k=$k")
    }
  }

  test("languages with fewer docs than buckets: one doc per tile, in order") {
    val docs = docsDf(Seq(
      (1L, "a a a", "tiny"), (2L, "a b c", "tiny")))
    val got = Curation.ccnetBuckets(docs, 5)
      .select(col("doc_id"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 repeats the common token => higher mean logprob => bucket 1
    assert(got == Set((1L, 1L), (2L, 2L)))
  }

  test("zero-token and NULL-text docs are not bucketed (x19 contract)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, Some("a b"), "en"), (2L, None: Option[String], "en"))
      .toDF("doc_id", "text", "lang")
    assert(Curation.ccnetBuckets(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("plan: the ranking window partitions on (pid, lang) — never on lang " +
      "alone — and pid is a literal-splitter expression, not a " +
      "spark_partition_id or range exchange") {
    val docs = docsDf(randomCorpus(7L, 80))
    val df = Curation.ccnetBuckets(docs)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("hashpartitioning(pid#"),
      s"expected the (pid, lang) window exchange:\n$plan")
    assert(!plan.contains("hashpartitioning(lang#"),
      "a per-language exchange crept back in")
    assert(!plan.contains("rangepartitioning") &&
      !plan.contains("sparkpartitionid"),
      "pid must be a pure function of row values — partition-identity " +
        "tricks are exactly what the branch-consistency argument forbids")
  }

  test("plan: the corpus-scale scoring pipeline executes exactly once — " +
      "the returned frame reads the checkpointed scored RDD, not a third " +
      "re-evaluation of the vocabulary join") {
    val docs = docsDf(randomCorpus(13L, 70))
    val df = Curation.ccnetBuckets(docs)
    val analyzed = df.queryExecution.analyzed
    // the scored frame was localCheckpoint'ed before its three consumers, so
    // the RETURNED plan must bottom out in a LogicalRDD (the materialized
    // scores) and contain ZERO scoring subtrees (no tokenize-explode, no
    // token-keyed vocabulary join)
    val rddLeaves = analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rddLeaves.size == 1,
      s"expected the checkpointed scored RDD as the single leaf:\n$analyzed")
    val generates = analyzed.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    val joins = analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(generates.isEmpty && joins.isEmpty,
      "the scoring pipeline leaked into the returned plan — it would " +
        s"re-execute per consumer at 100 TB:\n$analyzed")
  }

  test("unigramLogProbAgainst on the LM's own corpus reproduces " +
      "unigramLogProb bit for bit, all tokens known") {
    val docs = docsDf(randomCorpus(11L, 50))
    val self = TextStats.unigramLogProb(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val against = Curation.unigramLogProbAgainst(docs, Curation.unigramLm(docs))
    val rows = against.collect()
    assert(rows.forall(r =>
      r.getLong(r.fieldIndex("n_known")) == r.getLong(r.fieldIndex("n_tokens"))))
    val projected = rows.map(r => (r.getLong(r.fieldIndex("doc_id")),
      r.getLong(r.fieldIndex("n_tokens")),
      r.getDouble(r.fieldIndex("sum_logprob")))).toSet
    assert(projected == self)
  }

  test("ccnetAssign round-trips the frozen corpus when scores are distinct") {
    // distinct per-lang scores by construction: doc i repeats the most
    // common token i times out of a fixed length, so mean logprob strictly
    // increases with i
    val docs = docsDf((1L to 9L).map(i =>
      (i, (Seq.fill(i.toInt)("hot") ++ Seq.fill(10 - i.toInt)(s"rare$i"))
        .mkString(" "), "en")))
    val bucketed = Curation.ccnetBuckets(docs)
    val want = bucketed.select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Curation.ccnetAssign(docs, Curation.unigramLm(docs),
      Curation.ccnetBoundaries(bucketed))
      .select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("a boundary artifact from a wider-k reference run fails ccnetAssign " +
      "loudly instead of mixing two bucket scales") {
    val frozen = docsDf((1L to 9L).map(i =>
      (i, (Seq.fill(i.toInt)("hot") ++ Seq.fill(10 - i.toInt)(s"rare$i"))
        .mkString(" "), "en")))
    val bounds5 = Curation.ccnetBoundaries(Curation.ccnetBuckets(frozen, 5))
    val incoming = docsDf(Seq((20L, "hot hot", "en")))
    val e = intercept[Exception] {
      Curation.ccnetAssign(incoming, Curation.unigramLm(frozen), bounds5)
        .collect()
    }
    assert(e.getMessage.contains("frozen run used more buckets") ||
      Option(e.getCause).exists(_.getMessage
        .contains("frozen run used more buckets")))
  }

  test("ccnetAssign: unseen language and below-every-boundary scores land " +
      "in the tail; all-OOV docs are excluded") {
    // distinct frozen scores (the hot/rare construction): bucket boundaries
    // strictly descend, so "below every boundary" is a reachable state
    val frozen = docsDf((1L to 6L).map(i =>
      (i, (Seq.fill(i.toInt)("hot") ++ Seq.fill(6 - i.toInt)(s"rare$i"))
        .mkString(" "), "en")))
    val lm = Curation.unigramLm(frozen)
    val bounds = Curation.ccnetBoundaries(Curation.ccnetBuckets(frozen))
    val incoming = docsDf(Seq(
      (10L, "hot hot hot", "de"),         // language the reference never saw
      (11L, "oov oov oov", "en"),          // all tokens unknown -> excluded
      (12L, "rare1 oov oov oov oov", "en") // one known rare token: its mean
                                           // logprob sits below every frozen
                                           // doc's -> below every boundary
    ))
    val got = Curation.ccnetAssign(incoming, lm, bounds)
      .select("doc_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == Set(10L, 12L))
    assert(got(10L) == 3L)
    assert(got(12L) == 3L)
  }
}
