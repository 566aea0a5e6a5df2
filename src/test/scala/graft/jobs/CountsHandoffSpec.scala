package graft.jobs

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the counts-handoff exactly-once contract: `foreachBatch` is
  * at-least-once, so a replayed epoch MUST change nothing — the journal is
  * epoch-keyed and first-write-wins (the SS stand-in for the reference's
  * checkpointed exactly-once shuffle, BaseValidationJob.scala:367-370). */
class CountsHandoffSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def counts(rows: (String, Boolean)*) = {
    import spark.implicits._
    rows.toDF("batchId", "isValid")
  }

  private def journal(dir: String): Map[String, (Long, Long)] =
    spark.read.parquet(dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("epoch write pre-aggregates to one delta row per batch") {
    val dir = java.nio.file.Files.createTempDirectory("counts1").toString
    ValidationJob.countsHandoff(dir)(
      counts("b1" -> true, "b1" -> true, "b1" -> false, "b2" -> false), 0L)
    journal(dir) shouldBe Map("b1" -> (2L, 1L), "b2" -> (0L, 1L))
  }

  test("replayed epoch is a no-op even with different (retried) content") {
    val dir = java.nio.file.Files.createTempDirectory("counts2").toString
    ValidationJob.countsHandoff(dir)(counts("b1" -> true), 7L)
    // at-least-once replay of epoch 7 — content must NOT be double-applied
    ValidationJob.countsHandoff(dir)(counts("b1" -> true, "b1" -> true), 7L)
    journal(dir) shouldBe Map("b1" -> (1L, 0L))
  }

  test("distinct epochs accumulate as separate delta files") {
    val dir = java.nio.file.Files.createTempDirectory("counts3").toString
    ValidationJob.countsHandoff(dir)(counts("b1" -> true), 1L)
    ValidationJob.countsHandoff(dir)(counts("b1" -> false), 2L)
    spark.read.parquet(dir).groupBy("batchId")
      .agg(org.apache.spark.sql.functions.sum("validDelta").as("v"),
        org.apache.spark.sql.functions.sum("invalidDelta").as("i"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq shouldBe Seq(("b1", 1L, 1L))
    new java.io.File(dir).listFiles().count(_.getName.startsWith("epoch-")) shouldBe 2
  }

  test("a handoff whose journal rename fails throws and leaves the epoch unjournaled") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failrename.impl", classOf[FailingRenameFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("counts4").toString
    val e = intercept[java.io.IOException](
      ValidationJob.countsHandoff(s"failrename://$dir")(counts("b1" -> true), 3L))
    e.getMessage should include("epoch 3")
    // no epoch file: the retried epoch journals instead of skipping as a replay
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("epoch-")) shouldBe empty
  }

  test("an epoch with no counts still journals its (empty) delta file") {
    val dir = java.nio.file.Files.createTempDirectory("counts5").toString
    ValidationJob.countsHandoff(dir)(counts("b1" -> true).limit(0), 4L)
    new java.io.File(dir).listFiles().map(_.getName)
      .count(_.startsWith("epoch-")) shouldBe 1
  }
}

/** The local file system under the `failrename` scheme, with Hadoop's
  * failure signal for a rename (`false`) on every move into the journal. */
class FailingRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    !dst.getName.startsWith("epoch-") && super.rename(src, dst)
}
