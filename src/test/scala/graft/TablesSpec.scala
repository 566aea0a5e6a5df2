package graft

import graft.util.Tables
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The scan-parallelism floor (Tables.MinScanPartitionsConf): a
  * single-row-group parquet file must spread to the floor when the conf is
  * set, stay untouched when it is not, and never repartition a scan that is
  * already wider than the floor (the deployment-scale case). */
class TablesSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("min-scan-partitions floor spreads single-row-group files, is inert otherwise") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables").toString
    (1L to 1000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the shared test session carries the floor (LocalSession); restore it
    val floor = spark.conf.getOption(Tables.MinScanPartitionsConf)
    try {
      // conf unset: the single-split scan arrives as-is
      spark.conf.unset(Tables.MinScanPartitionsConf)
      Tables.table(spark, dir, "documents").rdd.getNumPartitions shouldBe 1
      // conf set above the scan width: spread to the floor, rows intact
      spark.conf.set(Tables.MinScanPartitionsConf, "4")
      val t = Tables.table(spark, dir, "documents")
      t.rdd.getNumPartitions shouldBe 4
      t.count() shouldBe 1000L
      // conf at/below the scan width: untouched (no gratuitous shuffle)
      spark.conf.set(Tables.MinScanPartitionsConf, "1")
      Tables.table(spark, dir, "documents").queryExecution.executedPlan
        .toString should not include "Exchange"
    } finally floor.fold(spark.conf.unset(Tables.MinScanPartitionsConf))(
      spark.conf.set(Tables.MinScanPartitionsConf, _))
  }

  test("table() returns a fresh, session-bound DataFrame per call") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables2").toString
    (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // fresh attribute IDs per call: a self-join disambiguated via df("col")
    // must resolve (a shared memoized instance would alias both sides)
    val a = Tables.table(spark, dir, "documents")
    val b = Tables.table(spark, dir, "documents")
    assert(!(a eq b))
    a.join(b, a("doc_id") === b("doc_id")).count() shouldBe 100L

    // a second live session must get a plan bound to ITSELF, not to whichever
    // session happened to load the path first (round-13's identityHashCode
    // memo key could hand session B a DataFrame built under session A)
    val child = spark.newSession()
    Tables.table(child, dir, "documents").sparkSession should be theSameInstanceAs child
    Tables.table(spark, dir, "documents").sparkSession should be theSameInstanceAs spark
  }

  test("invalidate(path) picks up an overwritten schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tables3").toString
    val path = s"$dir/documents.parquet"
    (1L to 10L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(path)
    Tables.table(spark, dir, "documents").columns.toSeq shouldBe Seq("doc_id", "text")
    // overwrite with a wider schema; the memoized footer schema is now stale
    (1L to 10L).map(i => (i, s"t$i", i * 2)).toDF("doc_id", "text", "extra")
      .coalesce(1).write.mode("overwrite").parquet(path)
    Tables.invalidate(path)
    Tables.table(spark, dir, "documents").columns.toSeq shouldBe
      Seq("doc_id", "text", "extra")
  }
}
