package graft.streaming

import graft.SparkSpec
import graft.model.{BatchNotification, Status}
import graft.tracker._
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Streaming twin of BatchStateMachineSpec: drives the real transformWithState
  * operator (RocksDB state store, processing-time timers) with a MemoryStream of
  * struct-encoded TrackerInputs — the SS analog of the reference's
  * `forKeyedCoProcessFunction` harness runs (TrackerTest.scala).
  *
  * Synchronization note: with ProcessingTime timers the engine schedules
  * timer-wakeup micro-batches continuously, so `processAllAvailable` never
  * quiesces — the harness instead waits on the committed source offset after each
  * feed step (preserving the cross-batch event ordering the reference tests pin)
  * and then polls the sink for the expected emission count.
  */
/** The tracker's PRE-WIDENING state shape: counters as Int (what old
  * checkpoints hold on disk). Used only to seed a checkpoint the real
  * processor must restore through Avro's int→long widening. */
case class BatchStateV0(
    valid: Int,
    invalid: Int,
    isFinished: Boolean,
    lastModified: Long,
    notification: Option[BatchNotification])

/** Writes "batchState"/"armedTimer" state with [[BatchStateV0]]'s Int
  * counters — same state names, TTL, and timer plumbing as the real
  * [[TrackerProcessor]], so a checkpoint it writes is exactly an old-schema
  * tracker checkpoint. Emits nothing. */
class IntStateSeedProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, TrackerInput, BatchNotification] {
  @transient private var state:
    org.apache.spark.sql.streaming.ValueState[BatchStateV0] = _
  @transient private var armed:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofDays(7))
    state = getHandle.getValueState[BatchStateV0]("batchState",
      Encoders.product[BatchStateV0], ttl)
    armed = getHandle.getValueState[Long]("armedTimer", Encoders.scalaLong, ttl)
  }

  override def handleInputRows(key: String, inputRows: Iterator[TrackerInput],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[BatchNotification] = {
    inputRows.foreach { row =>
      val cur = if (state.exists()) state.get()
        else BatchStateV0(0, 0, isFinished = false, 0L, None)
      val next = row.toEvent match {
        case CountEvent(_, v, i) =>
          cur.copy(valid = cur.valid + v.toInt, invalid = cur.invalid + i.toInt,
            lastModified = timerValues.getCurrentProcessingTimeInMs())
        case NotificationEvent(_, n) =>
          cur.copy(notification = Some(n),
            lastModified = timerValues.getCurrentProcessingTimeInMs())
        case _ => cur
      }
      state.update(next)
    }
    Iterator.empty
  }

  override def handleExpiredTimer(key: String,
      timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[BatchNotification] = Iterator.empty
}

/** Driver-side notification collector for restart tests: the memory sink
  * refuses to recover from an existing checkpoint in Append mode, so the
  * restarted run writes through foreachBatch (which supports recovery) into
  * this static buffer instead. */
object NotifBuffer {
  private val buffers = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[BatchNotification]]()
  private def queue(name: String) = buffers.computeIfAbsent(
    name, _ => new java.util.concurrent.ConcurrentLinkedQueue[BatchNotification]())
  def add(name: String, rows: Seq[BatchNotification]): Unit =
    rows.foreach(queue(name).add)
  def get(name: String): Seq[BatchNotification] = {
    import scala.jdk.CollectionConverters._
    queue(name).iterator().asScala.toSeq
  }
}

class TrackerProcessorSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def notif(id: String, status: String, expected: Int = 10,
      threshold: Int = -1): BatchNotification =
    BatchNotification(id, s"name-$id", s"ingest.t1.di.in", "claims", status,
      null, null, expected, -1, -1, threshold, null, null)

  /** Wait until the query has committed the MemoryStream offset `target`. */
  private def awaitOffset(q: StreamingQuery, target: Long, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    def committed: Option[Long] =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.trim.toLong)
    while (!committed.exists(_ >= target)) {
      if (System.currentTimeMillis > deadline)
        fail(s"timed out waiting for offset $target (committed=$committed)")
      Thread.sleep(25)
    }
  }

  private def runStream(feed: Seq[Seq[TrackerEvent]], expectEmissions: Int,
      delayMs: Long = 0L, sinkName: String = s"tracker_out_${System.nanoTime}")
      : Seq[BatchNotification] = {
    // the production tracker session; its sink table is registered there too
    val s = TrackerProcessor.controlPlaneSession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[TrackerInput] =
      Encoders.product[TrackerInput]
    val input = MemoryStream[TrackerInput]
    val out = TrackerProcessor.track(input.toDS(), delayMs)
    val dir = java.nio.file.Files.createTempDirectory("tracker-spec").toString
    val q = out.writeStream
      .format("memory").queryName(sinkName)
      .option("checkpointLocation", dir)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // each feed step lands in its own micro-batch, preserving event order
      // across steps (the reference's per-element harness ordering); MemoryStream
      // offsets advance by one per addData call, starting at 0
      var offset = -1L
      feed.foreach { batch =>
        input.addData(batch.map(TrackerInput.of): _*)
        offset += 1
        awaitOffset(q, offset)
      }
      val deadline = System.currentTimeMillis + 30000
      while (s.table(sinkName).count() < expectEmissions &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(300) // settle: prove nothing EXTRA is emitted (T8)
      s.table(sinkName).as[BatchNotification](Encoders.product[BatchNotification])
        .collect().toSeq
    } finally q.stop()
  }

  test("T3: threshold crossing emits exactly one FAILED with counts at fire time") {
    val events = Seq(
      Seq[TrackerEvent](NotificationEvent("b1", notif("b1", Status.Started, threshold = 2))),
      Seq[TrackerEvent](CountEvent("b1", true), CountEvent("b1", false)),
      Seq[TrackerEvent](CountEvent("b1", false)), // invalid == 2 → FAILED
      Seq[TrackerEvent](CountEvent("b1", false))) // past threshold: nothing more
    val out = runStream(events, expectEmissions = 1)
    out.map(_.status) shouldBe Seq(Status.Failed)
    out.head.invalidRecordCount shouldBe 2
    out.head.actualRecordCount shouldBe 3
    out.head.failureMessage should include("invalidThreshold: 2")
  }

  test("T6: overflow past expectedRecordCount fails immediately") {
    // both counts in ONE micro-batch: with a zero completion delay, a lone
    // counts-match event would otherwise complete before the overflow arrives
    val out = runStream(Seq(
      Seq[TrackerEvent](NotificationEvent("b2", notif("b2", Status.SendCompleted, expected = 1))),
      Seq[TrackerEvent](CountEvent("b2", true), CountEvent("b2", true))),
      expectEmissions = 1)
    out.map(_.status) shouldBe Seq(Status.Failed)
    out.head.failureMessage should include("received too many records")
  }

  test("T4/T5: counts match arms the completion timer; fire emits COMPLETED once") {
    val out = runStream(Seq(
      Seq[TrackerEvent](NotificationEvent("b3", notif("b3", Status.SendCompleted, expected = 2))),
      Seq[TrackerEvent](CountEvent("b3", true)),
      Seq[TrackerEvent](CountEvent("b3", false))),
      expectEmissions = 1, delayMs = 100L)
    out.map(_.status) shouldBe Seq(Status.Completed)
    out.head.actualRecordCount shouldBe 2
    out.head.invalidRecordCount shouldBe 1
  }

  test("keyed isolation: two interleaved batches track independently") {
    val out = runStream(Seq(
      Seq[TrackerEvent](
        NotificationEvent("a", notif("a", Status.SendCompleted, expected = 1)),
        NotificationEvent("b", notif("b", Status.Started, threshold = 1))),
      Seq[TrackerEvent](CountEvent("a", true), CountEvent("a", true),
        CountEvent("b", false))),
      expectEmissions = 2)
    out.find(_.id == "a").map(_.status) shouldBe Some(Status.Failed) // overflow
    out.find(_.id == "b").map(_.status) shouldBe Some(Status.Failed) // threshold
    out should have size 2
  }

  /** Restart one tracker checkpoint from `seed` onto `restore`. Run 1 on
    * `seed` sees r1's SEND_COMPLETED and both of its counts, so the 5 s
    * completion timer ARMS there; the run stops well before expiry, so
    * nothing is emitted yet. Run 2 restarts the checkpoint on `restore`
    * (its own source over the same two entries, as a retained topic is
    * re-read) and can only emit r1 from restored state and the restored
    * timer; `afterSeed` runs between the two. Returns run 1's emissions,
    * run 2's emissions once the timer has fired and a settle window has
    * passed, and run 2's state widths. */
  private def restoreAcross(seed: SparkSession, restore: SparkSession, dir: String,
      afterSeed: () => Unit = () => ())
      : (Seq[BatchNotification], Seq[BatchNotification], Seq[Long]) = {
    val feed = Seq(
      Seq(TrackerInput.of(
        NotificationEvent("r1", notif("r1", Status.SendCompleted, expected = 2)))),
      Seq(TrackerInput.of(CountEvent("r1", true)), TrackerInput.of(CountEvent("r1", true))))
    implicit val enc: org.apache.spark.sql.Encoder[TrackerInput] =
      Encoders.product[TrackerInput]
    // foreachBatch (not the memory sink): the memory sink refuses to recover
    // from an existing checkpoint in Append mode, and recovery is the point
    def start(session: SparkSession, name: String): (MemoryStream[TrackerInput], StreamingQuery) = {
      val input = MemoryStream[TrackerInput](enc, session.sqlContext)
      val q = TrackerProcessor.track(input.toDS(), completionDelayMs = 5000L)
        .writeStream
        .foreachBatch((batch: org.apache.spark.sql.Dataset[BatchNotification],
            _: Long) => NotifBuffer.add(name, batch.collect().toSeq))
        .option("checkpointLocation", dir)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      (input, q)
    }
    val sink1 = s"restore_a_${System.nanoTime}"
    val (in1, q1) = start(seed, sink1)
    try feed.zipWithIndex.foreach { case (rows, offset) =>
      in1.addData(rows)
      awaitOffset(q1, offset)
    } finally q1.stop()
    afterSeed()
    val sink2 = s"restore_b_${System.nanoTime}"
    val (in2, q2) = start(restore, sink2)
    try {
      feed.foreach(in2.addData(_)) // offsets 0-1: already committed, not re-read
      // nudge a DIFFERENT key so the engine constructs its first post-restart
      // micro-batch (with no new data and no lastExecution it would idle
      // forever)
      in2.addData(TrackerInput.of(
        NotificationEvent("nudge", notif("nudge", Status.Started))))
      val deadline = System.currentTimeMillis + 30000
      while (NotifBuffer.get(sink2).isEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(1000) // settle: many triggers past the fire, nothing EXTRA (T8)
      (NotifBuffer.get(sink1), NotifBuffer.get(sink2),
        q2.recentProgress.toSeq.flatMap(_.stateOperators).map(_.numShufflePartitions).distinct)
    } finally q2.stop()
  }

  /** RocksDB changelog files under a checkpoint's state directory. */
  private def changelogs(dir: String): Seq[java.nio.file.Path] = {
    val state = java.nio.file.Paths.get(dir, "state")
    if (!java.nio.file.Files.exists(state)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(state)
      try walk.iterator.asScala.filter(_.getFileName.toString.endsWith(".changelog")).toList
      finally walk.close()
    }
  }

  test("checkpoint restore: state and the armed completion timer survive a restart") {
    // the production tracker configuration, on both sides of the restart
    val session = TrackerProcessor.controlPlaneSession(spark)
    val dir = java.nio.file.Files.createTempDirectory("tracker-restore").toString
    val (before, after, widths) = restoreAcross(session, session, dir)
    before shouldBe empty
    after.map(_.status) shouldBe Seq(Status.Completed)
    after.head.actualRecordCount shouldBe 2 // both pre-restart counts restored
    after.head.invalidRecordCount shouldBe 0
    widths shouldBe Seq(TrackerProcessor.ControlPlaneShufflePartitions.toLong)
    changelogs(dir) should not be empty
  }

  test("a checkpoint written at width 4 without changelog restores under the control-plane session") {
    // the tracker's configuration before it ran at width 1 with changelog
    // checkpointing: 4 state partitions, a snapshot upload on every commit
    val old = TrackerProcessor.controlPlaneSession(spark)
    old.conf.set("spark.sql.shuffle.partitions", "4")
    old.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "false")
    val dir = java.nio.file.Files.createTempDirectory("tracker-upgrade").toString
    val (before, after, widths) = restoreAcross(old,
      TrackerProcessor.controlPlaneSession(spark), dir,
      afterSeed = () => changelogs(dir) shouldBe empty)
    before shouldBe empty
    // exactly one terminal notification, from restored state and timer
    after.map(_.status) shouldBe Seq(Status.Completed)
    after.head.actualRecordCount shouldBe 2
    after.head.invalidRecordCount shouldBe 0
    // Spark pins the width the checkpoint recorded ...
    widths shouldBe Seq(4L)
    // ... while changelog checkpointing applies to the old checkpoint too
    changelogs(dir) should not be empty
  }

  test("avro state encoding widens a checkpoint written with Int counters to the Long schema") {
    // a control-plane session of its own: the encoding set below stays on it
    val s = TrackerProcessor.controlPlaneSession(spark)
    s.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[TrackerInput] =
      Encoders.product[TrackerInput]
    implicit val bnEnc: org.apache.spark.sql.Encoder[BatchNotification] =
      Encoders.product[BatchNotification]
    implicit val kEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    val input = MemoryStream[TrackerInput]
    val dir = java.nio.file.Files.createTempDirectory("tracker-widen").toString
    // run 1: the PRE-WIDENING processor — identical state names and timer
    // plumbing, but BatchState counters as Int (the old on-disk schema)
    val sink1 = s"widen_a_${System.nanoTime}"
    val q1 = input.toDS().groupByKey(_.batchId)
      .transformWithState(new IntStateSeedProcessor(),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .writeStream.format("memory").queryName(sink1)
      .option("checkpointLocation", dir)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      input.addData(TrackerInput.of(
        NotificationEvent("w1", notif("w1", Status.SendCompleted, expected = 2))))
      input.addData(TrackerInput.of(CountEvent("w1", true)))
      awaitOffset(q1, 1)
    } finally q1.stop()
    // run 2: the REAL processor (Long counters) restores the Int-written
    // checkpoint — Avro's int→long widening is what makes this legal; the
    // default UnsafeRow encoding would reject the schema change. foreachBatch
    // because the memory sink refuses checkpoint recovery in Append mode.
    val sink2 = s"widen_b_${System.nanoTime}"
    val q2 = TrackerProcessor.track(input.toDS(), completionDelayMs = 0L)
      .writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[BatchNotification],
          _: Long) => NotifBuffer.add(sink2, batch.collect().toSeq))
      .option("checkpointLocation", dir)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      input.addData(TrackerInput.of(CountEvent("w1", true)))
      val deadline = System.currentTimeMillis + 30000
      while (NotifBuffer.get(sink2).size < 1 &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      val out = NotifBuffer.get(sink2)
      out.map(_.status) shouldBe Seq(Status.Completed)
      // actual = 2 proves the Int-written count of 1 widened and survived
      out.head.actualRecordCount shouldBe 2
    } finally q2.stop()
  }

  test("the tracker input stream has a real column schema, not a Kryo blob") {
    import spark.implicits._
    val counts = Seq(graft.model.CountsDelta("b", 1L, 0L)).toDS()
    val notifs = spark.createDataset(
      Seq(notif("b", Status.Started)))(Encoders.product[BatchNotification])
    val unioned = TrackerProcessor.unionEvents(counts, notifs)
    // the union that crosses the tracker shuffle must stay introspectable
    // (state/offset tooling reads columns) and evolvable (nullable adds) —
    // a sealed-trait Kryo encoding collapses to one opaque binary column
    unioned.schema.fieldNames.toSeq shouldBe
      Seq("batchId", "validDelta", "invalidDelta", "notification")
    unioned.schema("notification").dataType shouldBe a[
      org.apache.spark.sql.types.StructType]
    // round-trip: both variants decode back to the machine's ADT
    val evs = unioned.collect().map(_.toEvent)
    evs.collect { case CountEvent(b, v, i) => (b, v, i) } shouldBe
      Array(("b", 1L, 0L))
    evs.collect { case NotificationEvent(b, n) => (b, n.status) } shouldBe
      Array(("b", Status.Started))
  }
}
