package graft.jobs

import graft.SparkSpec
import graft.model.{BatchNotification, Status}
import graft.streaming.{RestartSupervisor, TrackerProcessor, ValidationSinks}
import graft.validation.JsonValidator
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable.ArrayBuffer

/** The job's one wiring end-to-end MINUS the broker: `ValidationJob.start`
  * with the tracker plane `startKafka` hands it, fed by scripted record and
  * notification streams → real validation queries → the idempotent epoch
  * journal → the tracker's file-source counts stream ⊎ its own notification
  * stream → transformWithState tracker (RocksDB state on the control-plane
  * session, real completion timer) → terminal COMPLETED. This is the
  * integration the reference pins with its mini-cluster ValidationJobIntTest.
  * Then the job's lifecycle: `ValidationJob.main` waits on ALL of its queries,
  * so the first to die takes the job down for `RestartSupervisor` to restart
  * whole, and a start that fails part-way stops what it started. */
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

  /** A tracker plane over a MemoryStream of notification JSON on the
    * control-plane session, its terminal notifications collected. */
  private def trackerPlane(countsDir: String, completionDelayMs: Long)
      : (MemoryStream[String], ArrayBuffer[BatchNotification], ValidationJob.TrackerPlane) = {
    val in = MemoryStream[String](Encoders.STRING,
      TrackerProcessor.controlPlaneSession(spark).sqlContext)
    val out = ArrayBuffer.empty[BatchNotification]
    val terminal: (Dataset[BatchNotification], Long) => Unit =
      (ds, _) => out.synchronized { out ++= ds.collect() }
    (in, out, ValidationJob.TrackerPlane(in.toDF(), countsDir, terminal, completionDelayMs))
  }

  test("counts flow through the epoch journal into the tracker and COMPLETE the batch") {
    val dir = java.nio.file.Files.createTempDirectory("pipeline-int").toString
    // no mkdirs: the tracker's journal source must start on a fresh checkpoint
    val countsDir = s"$dir/counts"
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new ValidationSinks {
      def valid(df: DataFrame, epochId: Long): Unit = ()
      def invalid(df: DataFrame, epochId: Long): Unit = ()
      def counts(df: DataFrame, epochId: Long): Unit =
        ValidationJob.countsHandoff(countsDir)(df, epochId)
    }
    val (trackerIn, terminal, plane) = trackerPlane(countsDir, completionDelayMs = 200L)
    val running = ValidationJob.start(spark, records.toDF(), notifications.toDF(),
      new JsonValidator, sinks, dir, tracker = Some(plane))
    try {
      running.trackerQuery.map(_.name) shouldBe Some("graft-tracker")
      // announce the batch on both planes (two consumers of one topic in
      // production); the tracker's stream also carries a malformed and an
      // id-less message, which its parse must drop without failing
      notifications.addData(notifJson("b1", Status.SendCompleted, expected = 2))
      running.notificationQuery.processAllAvailable()
      trackerIn.addData("{not json", """{"name":"no-id","status":"completed"}""",
        notifJson("b1", Status.SendCompleted, expected = 2))

      records.addData(
        rec(0, "b1", """{"ok":1}"""),
        rec(1, "b1", "not-json")) // payload-invalid still COUNTS toward the batch
      running.recordQuery.processAllAvailable()

      // the handoff journaled exactly one delta row for the epoch
      val deltas = spark.read.parquet(countsDir).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      deltas shouldBe Array(("b1", 1L, 1L))

      // 2 counted == expected 2 → timer (200 ms) → terminal COMPLETED
      val deadline = System.currentTimeMillis + 30000
      while (terminal.synchronized(terminal.isEmpty) && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      Thread.sleep(1500) // one more tracker trigger: nothing else may follow
      running.trackerQuery.get.exception shouldBe None
      val out = terminal.synchronized(terminal.toList)
      out should have size 1
      out.head.id shouldBe "b1"
      out.head.status shouldBe Status.Completed
      out.head.actualRecordCount shouldBe 2
      out.head.invalidRecordCount shouldBe 1
    } finally stopAll(running)
  }

  private def stopAll(running: ValidationJob.Running): Unit =
    (Seq(running.recordQuery, running.notificationQuery) ++ running.trackerQuery)
      .foreach(_.stop())

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
    val dir = java.nio.file.Files.createTempDirectory("await-child").toString
    val (trackerIn, _, plane) = trackerPlane(s"$dir/counts", 0L)
    val die: (Dataset[BatchNotification], Long) => Unit =
      (_, _) => throw new IllegalStateException("tracker died")
    val running = ValidationJob.start(spark, MemoryStream[Rec].toDF(),
      MemoryStream[String].toDF(), new JsonValidator, sinks(_ => ()), dir,
      tracker = Some(plane.copy(terminal = die)))
    try {
      trackerIn.addData(notifJson("b1", Status.Started, expected = 1))
      val e = intercept[StreamingQueryException](
        ValidationJob.awaitFirstTermination(running, pollMs = 50L))
      e.getCause.getMessage should include("tracker died")
      running.recordQuery.isActive shouldBe false
      running.notificationQuery.isActive shouldBe false
    } finally stopAll(running)
  }

  test("a tracker that fails to start stops the validation queries already started") {
    val dir = java.nio.file.Files.createTempDirectory("tracker-start").toString
    val trackerCheckpoint = new java.io.File(dir, "graft-tracker")
    def startJob(): ValidationJob.Running = ValidationJob.start(spark,
      MemoryStream[Rec].toDF(), MemoryStream[String].toDF(), new JsonValidator,
      sinks(_ => ()), dir, tracker = Some(trackerPlane(s"$dir/counts", 0L)._3))
    // a plain file where the tracker's checkpoint directory belongs: the
    // tracker, started last, fails on it
    trackerCheckpoint.createNewFile() shouldBe true
    intercept[Exception](startJob())
    spark.streams.active.map(_.name) should contain noneOf(
      "graft-records", "graft-notifications")
    // nothing left running under the job's names: the restart starts whole
    trackerCheckpoint.delete() shouldBe true
    val running = startJob()
    try {
      running.recordQuery.isActive shouldBe true
      running.notificationQuery.isActive shouldBe true
      running.trackerQuery.exists(_.isActive) shouldBe true
    } finally stopAll(running)
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
