package graft.corpus

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** X112 — incremental canonical-URL dedup ([[TextDedup.urlDedupAgainst]]
  * against a frozen [[TextDedup.urlIndex]]). Pins here: hit completeness
  * and miss absence, canonical STABILITY (the index's published identity
  * survives even when the arriving doc_id sorts lower — the documented
  * divergence from a union rebuild's keep-min), malformed exclusion, the
  * decomposition against the union rebuild, a persisted bucketed index
  * probe, and the streaming twin's batch equality through a live query. */
class UrlDedupAgainstSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def collectHits(df: DataFrame): Map[Long, (String, Long)] =
    df.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("hits carry the INDEX's canonical (even when the arriving id is " +
      "lower); unknown and malformed URLs are absent") {
    import spark.implicits._
    val ref = Seq(
      (100L, "https://a.com/p?utm_source=x"),
      (101L, "http://WWW.A.com/p"),      // same canonical as neither (scheme differs)
      (200L, "https://b.org/q#frag"))
      .toDF("doc_id", "url")
    val inc = Seq(
      (7L, "HTTPS://a.com/p/"),          // hits a.com/p — id 7 < 100, index wins
      (8L, "https://b.org/q"),           // hits b.org/q
      (9L, "https://never.seen/x"),      // unknown: absent
      (10L, "not a url"))                // malformed: absent
      .toDF("doc_id", "url")
    val got = collectHits(
      TextDedup.urlDedupAgainst(inc, TextDedup.urlIndex(ref)))
    got shouldBe Map(
      7L -> (("https://a.com/p", 100L)),
      8L -> (("https://b.org/q", 200L)))
  }

  test("decomposition vs the union rebuild: a flagged row's url_norm " +
      "group in urlDedup(ref ∪ inc) always contains a reference doc, and " +
      "the canonicals agree exactly when no increment id undercuts the " +
      "reference minimum") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // ids interleave across the split so the keep-min winner of a union
    // group is SOMETIMES an increment doc — exercising the divergence
    // branch non-vacuously
    val urls = (0 until 120).map { i =>
      (i.toLong, s"https://site${rnd.nextInt(12)}.com/p${rnd.nextInt(4)}")
    }
    val ref = urls.filter(_._1 % 2 == 0).toDF("doc_id", "url")
    val inc = urls.filter(_._1 % 2 == 1).toDF("doc_id", "url")
    val against = collectHits(
      TextDedup.urlDedupAgainst(inc, TextDedup.urlIndex(ref)))
    val union = TextDedup.urlDedup(ref.unionByName(inc)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val refMin = TextDedup.urlIndex(ref).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    against should not be empty
    against.foreach { case (docId, (norm, canon)) =>
      // the group exists in the union and holds a reference doc
      refMin.keySet should contain(norm)
      canon shouldBe refMin(norm)
      // agreement exactly when the union's winner is the reference's
      if (union(norm) % 2 == 0) canon shouldBe union(norm)
      else canon should be > union(norm)
    }
    // divergence branch really fired: some union group is won by an
    // increment doc that the frozen index must NOT crown
    union.exists { case (norm, winner) =>
      winner % 2 == 1 && refMin.contains(norm)
    } shouldBe true
  }

  test("a persisted bucketed url index probes in place") {
    import spark.implicits._
    val ref = Seq((100L, "https://a.com/x"), (101L, "https://a.com/x?utm_source=f"))
      .toDF("doc_id", "url")
    try {
      TextDedup.writeUrlIndex(TextDedup.urlIndex(ref), "url_index_spec",
        buckets = 4)
      val inc = Seq((1L, "https://A.com/x/"), (2L, "https://other.net/"))
        .toDF("doc_id", "url")
      collectHits(TextDedup.urlDedupAgainst(
        inc, spark.table("url_index_spec"))) shouldBe
        Map(1L -> (("https://a.com/x", 100L)))
    } finally spark.sql("DROP TABLE IF EXISTS url_index_spec")
  }

  test("streaming dedupUrlsAgainst is batch-equal through a live query " +
      "(stream-static join: no watermark, append mode)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val index = TextDedup.urlIndex(Seq(
      (100L, "https://a.com/p"), (200L, "https://b.org/q"))
      .toDF("doc_id", "url"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val rows = Seq(
      (1L, "HTTPS://WWW.a.com/p?gclid=z"), (2L, "https://new.site/"),
      (3L, "broken"))
    val out = TextDedup.urlDedupAgainst(
      input.toDF().toDF("doc_id", "url"), index)
    out.isStreaming shouldBe true
    val sink = s"urldedup_${System.nanoTime}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("urldedup").toString)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = collectHits(spark.table(sink))
      streamed shouldBe collectHits(
        TextDedup.urlDedupAgainst(rows.toDF("doc_id", "url"), index))
      streamed shouldBe Map(1L -> (("https://a.com/p", 100L)))
    } finally q.stop()
  }
}
