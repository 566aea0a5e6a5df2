package graft.util

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one local session helper: its settings are the literal settings
  * `Bench` and `Verify` built before it existed, so their sessions did not
  * change when they moved onto it. */
class LocalSessionSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("settings at 4 and 32 cores are Bench's and Verify's session settings") {
    // the scan floor caps at 16
    for ((cpus, floor) <- Seq(4 -> 4, 32 -> 16))
      LocalSession.settings(cpus) shouldBe Seq(
        "spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> s"$cpus",
        "spark.graft.scan.minPartitions" -> s"$floor",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")
  }

  test("the shared test session is the helper's session at 4 cores") {
    spark.sparkContext.master shouldBe "local[4]"
    LocalSession.settings(4).tail.foreach { case (k, v) =>
      spark.conf.get(k) shouldBe v
    }
  }
}
