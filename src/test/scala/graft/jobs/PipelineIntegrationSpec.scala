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
  * The timed replay runs the reference's terminate-then-late-record
  * scenario through the same wiring at the job's own 1 s cadence.
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

  test("timed replay: a record after TERMINATED is dropped and no terminal notification duplicates " +
      "(reference ValidationJobIntTest.scala:220-279)") {
    val dir = java.nio.file.Files.createTempDirectory("vreplay").toString
    val countsDir = s"$dir/counts"
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val validOffsets = ArrayBuffer.empty[Long]
    val invalidRows = ArrayBuffer.empty[org.apache.spark.sql.Row]
    val countedIds = ArrayBuffer.empty[String]
    val sinks = new ValidationSinks {
      def valid(df: DataFrame, epochId: Long): Unit =
        validOffsets ++= df.select("offset").as[Long].collect()
      def invalid(df: DataFrame, epochId: Long): Unit = invalidRows ++= df.collect()
      def counts(df: DataFrame, epochId: Long): Unit = {
        countedIds ++= df.select("batchId").as[String].collect()
        ValidationJob.countsHandoff(countsDir)(df, epochId)
      }
    }
    // 10 s, not the reference's 3 s: the tracker runs at the job's 1 s
    // cadence and a trigger of it takes 1-2 s on a 4-core host, so
    // TERMINATED reaches it 3-5 s after the timers are armed
    val completionDelayMs = 10000L
    val (trackerIn, terminal, plane) = trackerPlane(countsDir, completionDelayMs)
    val running = ValidationJob.start(spark, records.toDF(), notifications.toDF(),
      new JsonValidator, sinks, dir, tracker = Some(plane))
    val tracker = running.trackerQuery.get
    // every notification reaches both planes (two consumers of one topic in
    // production)
    def announce(ns: String*): Unit = {
      notifications.addData(ns: _*)
      trackerIn.addData(ns: _*)
      running.notificationQuery.processAllAvailable()
    }
    def status(id: String): Option[String] =
      running.snapshot.get(id).map(_.getAs[String]("status"))
    def await(what: String, timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (!cond) {
        if (System.currentTimeMillis > deadline) fail(s"timed out waiting for $what")
        Thread.sleep(25)
      }
    }
    def startMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    def firstTriggerAfter(ms: Long) =
      tracker.recentProgress.find(p => startMs(p) > ms)
    // waits until a tracker trigger that started after this call has
    // finished, so it read every notification added and every epoch
    // journaled before it (a processing-time transformWithState query never
    // settles for processAllAvailable); returns that trigger's end
    def trackerTick(): Long = {
      val since = System.currentTimeMillis
      await("a tracker trigger")(firstTriggerAfter(since).nonEmpty)
      val p = firstTriggerAfter(since).get
      startMs(p) + p.durationMs.get("triggerExecution")
    }
    def emitted: List[BatchNotification] = terminal.synchronized(terminal.toList)
    try {
      // phase 1: announce both batches (expected=2 each)
      announce(notifJson("b-term", Status.Started, 2), notifJson("b-ctrl", Status.Started, 2))
      status("b-term") shouldBe Some(Status.Started)
      status("b-ctrl") shouldBe Some(Status.Started)
      // phase 2: two valid records per batch, journaled and read by the tracker
      records.addData(
        rec(0, "b-term", """{"ok":1}"""), rec(1, "b-term", """{"ok":2}"""),
        rec(2, "b-ctrl", """{"ok":1}"""), rec(3, "b-ctrl", """{"ok":2}"""))
      running.recordQuery.processAllAvailable()
      validOffsets should have size 4
      trackerTick()
      // phase 3: sendCompleted both — counts match expected, so the tracker
      // arms each batch's completion-delay timer in the same trigger
      announce(notifJson("b-term", Status.SendCompleted, 2),
        notifJson("b-ctrl", Status.SendCompleted, 2))
      status("b-term") shouldBe Some(Status.SendCompleted)
      status("b-ctrl") shouldBe Some(Status.SendCompleted)
      // the timers were armed by the time this trigger ended: it, or one
      // before it, read SEND_COMPLETED
      val armedBy = trackerTick()
      // phase 4: TERMINATED lands on b-term well inside its completion delay
      announce(notifJson("b-term", Status.Terminated, 2))
      status("b-term") shouldBe Some(Status.Terminated)
      trackerTick()
      emitted shouldBe empty
      // phase 5: b-ctrl's timer fires and emits COMPLETED; b-term's fires in
      // the same trigger but TERMINATED got there first, so its re-check must
      // emit NOTHING (reference Tracker.scala:93-103). Any trigger that
      // started a full completion delay after the arming has fired both
      // timers, however slow the triggers run; the deadline only guards
      // against a hung tracker
      await("a tracker trigger past the completion delay", 60000)(
        firstTriggerAfter(armedBy + completionDelayMs).nonEmpty)
      emitted.exists(n => n.id == "b-ctrl" && n.status == Status.Completed) shouldBe true
      trackerTick()
      emitted should have size 1
      emitted.head.actualRecordCount shouldBe 2
      emitted.head.invalidRecordCount shouldBe 0
      // phase 6: late records — b-term's must be DROPPED (V6: not valid, not
      // invalid, no count), b-ctrl's flows through as usual
      records.addData(rec(10, "b-term", """{"late":1}"""), rec(11, "b-ctrl", """{"late":1}"""))
      running.recordQuery.processAllAvailable()
      validOffsets should contain(11L)
      validOffsets should not contain 10L
      invalidRows shouldBe empty
      countedIds.count(_ == "b-term") shouldBe 2
      // phase 7: b-ctrl's late count (3 > expected 2) reaches the tracker
      // AFTER its terminal latched — T8 end to end: no second emission ever
      countedIds.count(_ == "b-ctrl") shouldBe 3
      trackerTick()
      trackerTick() // a further tracker trigger past the late count
      tracker.exception shouldBe None
      emitted should have size 1
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
