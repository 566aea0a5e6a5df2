package graft.jobs

import graft.SparkSpec
import graft.model.{BatchNotification, Status}
import graft.streaming.{RestartSupervisor, TrackerProcessor, ValidationSinks}
import graft.validation.JsonValidator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable.ArrayBuffer

/** The startKafka wiring end-to-end MINUS the broker: scripted record and
  * notification streams → real validation queries → the idempotent epoch
  * journal → a file-source counts stream → transformWithState tracker (RocksDB
  * state, real completion timer) → terminal COMPLETED. This is the integration
  * the reference pins with its mini-cluster ValidationJobIntTest. Then the
  * job's lifecycle: `ValidationJob.main` waits on ALL of its queries, so the
  * first to die takes the job down for `RestartSupervisor` to restart whole,
  * and a start that fails part-way stops what it started. */
class PipelineIntegrationSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class Hdr(key: String, value: Array[Byte])
  case class Rec(key: Array[Byte], value: Array[Byte], headers: Seq[Hdr],
      topic: String, partition: Int, offset: Long)

  private def rec(offset: Long, batchId: String, payload: String): Rec =
    Rec(s"k$offset".getBytes, payload.getBytes,
      Seq(Hdr("batchId", batchId.getBytes)), "ingest.t1.claims.in", 0, offset)

  private def notifJson(id: String, status: String, expected: Int): String =
    s"""{"id":"$id","name":"n-$id","topic":"ingest.t1.claims.in","dataType":"claims",""" +
      s""""status":"$status","expectedRecordCount":$expected,"invalidThreshold":-1}"""

  private def notif(id: String, status: String, expected: Int): BatchNotification =
    BatchNotification(id, s"n-$id", "ingest.t1.claims.in", "claims", status,
      null, null, expected, -1, -1, -1, null, null)

  test("counts flow through the epoch journal into the tracker and COMPLETE the batch") {
    val s = spark
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val dir = java.nio.file.Files.createTempDirectory("pipeline-int").toString
    val countsDir = s"$dir/counts"
    new java.io.File(countsDir).mkdirs()

    // validation plane: MemoryStream sources, counts through the REAL handoff
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new ValidationSinks {
      val validRows = ArrayBuffer.empty[Row]
      def valid(df: DataFrame, epochId: Long): Unit =
        validRows.synchronized { validRows ++= df.collect() }
      def invalid(df: DataFrame, epochId: Long): Unit = ()
      def counts(df: DataFrame, epochId: Long): Unit =
        ValidationJob.countsHandoff(countsDir)(df, epochId)
    }
    val running = ValidationJob.start(
      s, records.toDF(), notifications.toDF(), new JsonValidator, sinks, dir)

    // tracker plane: the startKafka wiring — file-source deltas ⊎ notifications
    val countEvents = s.readStream
      .schema("batchId STRING, validDelta BIGINT, invalidDelta BIGINT")
      .option("pathGlobFilter", "epoch-*.parquet")
      .parquet(countsDir)
      .as[graft.model.CountsDelta]
    val notifEvents = MemoryStream[BatchNotification]
    val terminal = TrackerProcessor.track(
      TrackerProcessor.unionEvents(countEvents, notifEvents.toDS()),
      completionDelayMs = 200L)
    val sink = s"pipeline_terminal_${System.nanoTime}"
    val tq = terminal.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$dir/tracker")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      // announce the batch on both planes (snapshot for validation, tracker event)
      notifications.addData(notifJson("b1", Status.SendCompleted, expected = 2))
      running.notificationQuery.processAllAvailable()
      notifEvents.addData(notif("b1", Status.SendCompleted, expected = 2))

      records.addData(
        rec(0, "b1", """{"ok":1}"""),
        rec(1, "b1", "not-json")) // payload-invalid still COUNTS toward the batch
      running.recordQuery.processAllAvailable()

      // the handoff journaled exactly one delta row for the epoch
      val deltas = s.read.parquet(countsDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      deltas shouldBe Array(("b1", 1L, 1L))

      // 2 counted == expected 2 → timer (200 ms) → terminal COMPLETED
      val deadline = System.currentTimeMillis + 30000
      while (s.table(sink).count() < 1 && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      val out = s.table(sink).as[BatchNotification].collect()
      out should have size 1
      out.head.id shouldBe "b1"
      out.head.status shouldBe Status.Completed
      out.head.actualRecordCount shouldBe 2
      out.head.invalidRecordCount shouldBe 1
    } finally {
      tq.stop(); running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  private def sinks(onCounts: DataFrame => Unit): ValidationSinks = new ValidationSinks {
    def valid(df: DataFrame, epochId: Long): Unit = ()
    def invalid(df: DataFrame, epochId: Long): Unit = ()
    def counts(df: DataFrame, epochId: Long): Unit = onCounts(df)
  }

  test("a dying counts sink ends the wait with its error and stops the other queries") {
    val records = MemoryStream[Rec]
    val dir = java.nio.file.Files.createTempDirectory("await-first").toString
    val running = ValidationJob.start(spark, records.toDF(), MemoryStream[String].toDF(),
      new JsonValidator, sinks(_ => throw new IllegalStateException("counts sink died")), dir)
    try {
      records.addData(rec(0, "b1", """{"ok":1}"""))
      val e = intercept[StreamingQueryException](
        ValidationJob.awaitFirstTermination(running, pollMs = 50L))
      e.getCause.getMessage should include("counts sink died")
      running.recordQuery.isActive shouldBe false
      running.notificationQuery.isActive shouldBe false
    } finally { running.recordQuery.stop(); running.notificationQuery.stop() }
  }

  test("a query on the control-plane child session is waited on too") {
    val trackerIn = MemoryStream[Int](implicitly[org.apache.spark.sql.Encoder[Int]],
      TrackerProcessor.controlPlaneSession(spark).sqlContext)
    val dir = java.nio.file.Files.createTempDirectory("await-child").toString
    val running = ValidationJob.start(spark, MemoryStream[Rec].toDF(),
      MemoryStream[String].toDF(), new JsonValidator, sinks(_ => ()), dir)
    val die: (DataFrame, Long) => Unit =
      (_, _) => throw new IllegalStateException("tracker died")
    val tracker = trackerIn.toDF().writeStream
      .option("checkpointLocation", s"$dir/tracker").foreachBatch(die).start()
    try {
      trackerIn.addData(1)
      val e = intercept[StreamingQueryException](ValidationJob.awaitFirstTermination(
        running.copy(trackerQuery = Some(tracker)), pollMs = 50L))
      e.getCause.getMessage should include("tracker died")
      running.recordQuery.isActive shouldBe false
      running.notificationQuery.isActive shouldBe false
    } finally {
      tracker.stop(); running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  test("a start that fails part-way stops the queries it started; the restart starts cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("start-partway").toString
    var attempts = 0
    var running: Option[ValidationJob.Running] = None
    try {
      new RestartSupervisor(delayMs = 0L).supervise { () =>
        attempts += 1
        // first attempt: the record query (started after the notification
        // query) fails to start on a batch DataFrame
        val records = if (attempts == 1) spark.range(1).toDF() else MemoryStream[Rec].toDF()
        running = Some(ValidationJob.start(spark, records, MemoryStream[String].toDF(),
          new JsonValidator, sinks(_ => ()), dir))
      }
      attempts shouldBe 2
      running.get.recordQuery.isActive shouldBe true
      running.get.notificationQuery.isActive shouldBe true
    } finally running.foreach { r => r.recordQuery.stop(); r.notificationQuery.stop() }
  }
}
