package graft.streaming

import graft.model.{BatchNotification, BatchState}
import graft.tracker.{BatchStateMachine, TimerEvent, TrackerEvent, TrackerInput}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** T1–T8 as a Spark 4 `StatefulProcessor` — the streaming twin of TrackerBatch,
  * wired over the struct-encoded [[TrackerInput]] stream
  * (counts ⊎ notifications, keyed by batchId; the SS re-expression of the
  * reference's two-input `KeyedCoProcessFunction`, Tracker.scala:32-196).
  *
  * All transition/timer/emit logic lives in the pure [[BatchStateMachine]]; this
  * class only adapts it to the transformWithState runtime:
  *  - keyed `ValueState[BatchState]` with the reference's 7-day TTL
  *    (BaseValidationJob.scala:352-359);
  *  - real processing-time timers for the T4/T5 completion delay
  *    (Tracker.scala:116-120, onTimer :93-103), re-armed from lastModified on each
  *    qualifying event — the previous timer is deleted so exactly one is live;
  *  - at-most-one terminal notification per batch (T8) is guaranteed by the
  *    machine's isFinished latch inside the same state value.
  *
  * Scale: state is one small struct per batch; the shuffle into this operator is
  * the already-partial-aggregated counts stream, so executor memory and timer count
  * grow with live-batch cardinality (small by design, reference README:28), not
  * record volume.
  *
  * State-schema note: BatchState counters widened Int→Long (delta safety).
  * Restoring a checkpoint written with the old Int schema requires Spark's Avro
  * state encoding (`spark.sql.streaming.stateStore.encodingFormat=avro`), which
  * permits int→long widening; the default UnsafeRow encoding rejects it, in
  * which case the tracker checkpoint must be discarded (counts rebuild from the
  * idempotent epoch journal on replay).
  */
class TrackerProcessor(completionDelayMs: Long = 300000L)
    extends StatefulProcessor[String, TrackerInput, BatchNotification] {

  @transient private var state: ValueState[BatchState] = _
  @transient private var armed: ValueState[Long] = _
  private val machine = new BatchStateMachine(completionDelayMs)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = TTLConfig(java.time.Duration.ofDays(7))
    state = getHandle.getValueState[BatchState]("batchState", Encoders.product[BatchState], ttl)
    armed = getHandle.getValueState[Long]("armedTimer", Encoders.scalaLong, ttl)
  }

  private def current: BatchState =
    if (state.exists()) state.get() else machine.initialState

  private def apply(key: String, ev: TrackerEvent, nowMs: Long): Option[BatchNotification] = {
    val out = machine.onEvent(current, ev, nowMs)
    state.update(out.state)
    out.armTimerAt.foreach { at =>
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      getHandle.registerTimer(at)
      armed.update(at)
    }
    out.emit
  }

  override def handleInputRows(key: String, inputRows: Iterator[TrackerInput],
      timerValues: TimerValues): Iterator[BatchNotification] =
    inputRows.flatMap(row =>
      apply(key, row.toEvent, timerValues.getCurrentProcessingTimeInMs()))

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[BatchNotification] = {
    if (armed.exists() && armed.get() == expiredTimerInfo.getExpiryTimeInMs()) armed.clear()
    apply(key, TimerEvent(key, expiredTimerInfo.getExpiryTimeInMs()),
      timerValues.getCurrentProcessingTimeInMs()).iterator
  }
}

object TrackerProcessor {

  /** State/shuffle width for the tracker query — CONTROL-PLANE sized. The
    * tracker keys on batchId (live-batch cardinality, not record volume).
    * Width 1 matches the reference, which forces its whole tracker chain to
    * parallelism 1 (BaseValidationJob.scala:170). Width matters
    * operationally: `transformWithState` under `TimeMode.ProcessingTime`
    * makes every trigger tick runnable (timers may be due), and EVERY tick
    * commits every state partition's RocksDB store — at the data plane's
    * width (32) those idle-tick commits measurably drain the record query
    * (chunked record throughput measured 2.6× worse). [[controlPlaneSession]]
    * also turns on RocksDB changelog checkpointing, so a tick writes one
    * small changelog instead of uploading a snapshot zip and its SST files.
    *
    * An existing checkpoint keeps the width it recorded, because Spark pins
    * a stateful query's partition count from its checkpoint; the width
    * applies to fresh checkpoints. Changelog checkpointing needs no fresh
    * checkpoint: a checkpoint written without it restores under it. */
  val ControlPlaneShufflePartitions: Int = 1

  /** A child session sized for control-plane streaming queries: same
    * SparkContext and cache, isolated SQLConf with
    * [[ControlPlaneShufflePartitions]], the RocksDB state store provider
    * (required by transformWithState in Spark 4) and its changelog
    * checkpointing. Build the tracker's SOURCES on this session too — a
    * streaming query plans under the session its sources were created
    * from. */
  def controlPlaneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    // newSession() starts from the base SparkConf — carry the caller's
    // runtime overrides (timezone, ANSI, codegen flags) across FIRST so the
    // tracker parses notifications under the same semantics as the record
    // and notification queries on the parent session; then apply this
    // session's deliberate divergences
    graft.util.SessionConfs.carryInto(spark, s)
    s.conf.set("spark.sql.shuffle.partitions", ControlPlaneShufflePartitions.toString)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    s
  }

  /** Wire the processor over the struct-encoded input stream. */
  def track(events: org.apache.spark.sql.Dataset[TrackerInput],
      completionDelayMs: Long = 300000L): org.apache.spark.sql.Dataset[BatchNotification] = {
    implicit val bnEnc: org.apache.spark.sql.Encoder[BatchNotification] =
      Encoders.product[BatchNotification]
    implicit val kEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    events.groupByKey(_.batchId)
      .transformWithState(new TrackerProcessor(completionDelayMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Union-encode the two tracker inputs (counts ⊎ notifications) — the SS answer
    * to Flink's `connect` of two keyed streams (SURVEY.md §7.8 risk #2). Counts
    * arrive pre-aggregated per (epoch, batch) — see [[graft.model.CountsDelta]].
    * Struct-encoded ([[TrackerInput]]), not Kryo: the union that crosses the
    * tracker shuffle keeps a real, introspectable, evolvable column schema. */
  def unionEvents(counts: org.apache.spark.sql.Dataset[graft.model.CountsDelta],
      notifications: org.apache.spark.sql.Dataset[BatchNotification])
      : org.apache.spark.sql.Dataset[TrackerInput] = {
    implicit val tiEnc: org.apache.spark.sql.Encoder[TrackerInput] =
      Encoders.product[TrackerInput]
    counts.map(TrackerInput.count _)
      .union(notifications.map(TrackerInput.notification _))
  }
}
