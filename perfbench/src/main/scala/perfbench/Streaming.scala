package perfbench

import graft.http.{MgmtClient, RequestException, Retry}
import graft.jobs.ValidationJob
import graft.model.{BatchNotification, CountsDelta, ErrorMessages, Status}
import graft.streaming._
import graft.topics.Topics
import graft.tracker.TrackerInput
import graft.validation.JsonValidator
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Kafka record header, in the shape of the program's `hriRecord` schema. */
case class Hdr(key: String, value: Array[Byte])
/** One generated record, in the shape of the program's `hriRecord` schema. */
case class Rec(key: Array[Byte], value: Array[Byte], headers: Seq[Hdr],
    topic: String, partition: Int, offset: Long)

/** A generated batch. `served`: the stub API answers GETs for it (false means
  * it is unknown everywhere and its lookups get 404). `threshold` is the
  * batch's `invalidThreshold` (-1 = off). */
final case class GenBatch(id: String, served: Boolean, threshold: Int) {
  var sent = 0
  var malformed = 0
}

/** Seeded input generator. It also keeps the expected fate of every record
  * and batch it made, for the correctness gates. */
final class Gen(seed: Long, val inputTopic: String) {
  val rnd = new scala.util.Random(seed)
  private var nextOffset = 0L
  private var nextBatch = 0
  /** valid record key → payload */
  val validKeys = mutable.HashMap.empty[String, Array[Byte]]
  /** invalid record offset → true if its batch is unknown (else bad payload) */
  val invalid = mutable.HashMap.empty[Long, Boolean]
  /** batches that must get exactly one terminal PUT, with their SEND_COMPLETED
    * due time (µs) */
  val terminal = mutable.LinkedHashMap.empty[String, (GenBatch, Long)]

  val MalformedShare = 0.1
  val FailShare = 0.1

  def batch(served: Boolean, plannedSize: Int, canFail: Boolean = true): GenBatch = {
    nextBatch += 1
    // a fail batch's threshold is half its expected malformed count, so its
    // malformed share exceeds the threshold and the tracker FAILs it
    val fails = served && canFail && rnd.nextDouble() < FailShare
    val threshold =
      if (fails) math.max(1, (plannedSize * MalformedShare / 2).toInt) else -1
    GenBatch(f"b$seed%d-$nextBatch%05d", served, threshold)
  }

  def records(b: GenBatch, n: Int): Seq[Rec] = (0 until n).map { _ =>
    val off = nextOffset
    nextOffset += 1
    val key = s"${b.id}/${b.sent}"
    b.sent += 1
    val bad = rnd.nextDouble() < MalformedShare
    val payload =
      if (bad) s"""{"resourceType":"Claim","id":$off,"broken"""
      else s"""{"resourceType":"Claim","id":$off,"text":{"div":"record $off"},""" +
        s""""insurance":[{"coverage":{"reference":"Coverage/$off"}}]}"""
    val bytes = payload.getBytes(UTF_8)
    if (!b.served) invalid(off) = true
    else if (bad) { b.malformed += 1; invalid(off) = false }
    else validKeys(key) = bytes
    Rec(key.getBytes(UTF_8), bytes, Seq(Hdr("batchId", b.id.getBytes(UTF_8))),
      inputTopic, 0, off)
  }

  def notificationJson(b: GenBatch, status: String, expected: Int): String =
    s"""{"id":"${b.id}","name":"n-${b.id}","topic":"$inputTopic","dataType":"claims",""" +
      s""""status":"$status","expectedRecordCount":$expected,"invalidThreshold":${b.threshold}}"""

  def notification(b: GenBatch, status: String, expected: Int): BatchNotification =
    BatchNotification(b.id, s"n-${b.id}", inputTopic, "claims", status, null, null,
      expected, -1, -1, b.threshold, null, null)
}

/** Sinks wrapper: times each call into the program's sinks and keeps, per
  * epoch, when its last sink call (counts) returned. */
final class TimedSinks(inner: ValidationSinks, spans: Spans) extends ValidationSinks {
  /** (sink, epoch, start µs, end µs) */
  val calls = new ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  private val returned = new ConcurrentHashMap[Long, java.lang.Long]()

  private def timed(sink: String, epochId: Long)(body: => Unit): Long = {
    val t0 = Clock.us()
    body
    val t1 = Clock.us()
    calls.add((sink, epochId, t0, t1))
    spans.add(Span(s"sink.$sink", s"records/$epochId", t0, t1))
    t1
  }
  def valid(df: DataFrame, epochId: Long): Unit = timed("valid", epochId)(inner.valid(df, epochId))
  def invalid(df: DataFrame, epochId: Long): Unit = timed("invalid", epochId)(inner.invalid(df, epochId))
  def counts(df: DataFrame, epochId: Long): Unit =
    returned.put(epochId, Long.box(timed("counts", epochId)(inner.counts(df, epochId))))

  /** When the last sink call of `epochId` returned (µs), if it has. */
  def returnedAt(epochId: Long): Option[Long] = Option(returned.get(epochId)).map(_.longValue)
}

/** Mgmt API client wrapper: times lookups and terminal PUTs. */
final class TimedClient(base: String, spans: Spans)
    extends MgmtClient(base, s"$base/oauth", "perfbench", "perfbench-secret", "perfbench") {
  /** (start µs, end µs, HTTP status) */
  val lookups = new ConcurrentLinkedQueue[(Long, Long, Int)]()
  val putCalls = new ConcurrentLinkedQueue[(Long, Long, Int)]()

  override def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] = {
    val t0 = Clock.us()
    val r = super.getBatchId(tenantId, batchId)
    val t1 = Clock.us()
    lookups.add((t0, t1, r match {
      case Success(_) => 200
      case Failure(RequestException(s, _)) => s
      case Failure(_) => -1
    }))
    spans.add(Span("lookup", s"lookup/$batchId", t0, t1))
    r
  }

  private def timedPut(batchId: String)(body: => Unit): Unit = {
    val t0 = Clock.us()
    def done(status: Int): Unit = {
      val t1 = Clock.us()
      putCalls.add((t0, t1, status))
      spans.add(Span("mgmt.put", s"put/$batchId", t0, t1))
    }
    try { body; done(200) }
    catch { case e @ RequestException(s, _) => done(s); throw e }
  }

  override def processingComplete(tenantId: String, batchId: String,
      actualRecordCount: Int, invalidRecordCount: Int): Unit =
    timedPut(batchId)(super.processingComplete(tenantId, batchId, actualRecordCount,
      invalidRecordCount))

  override def fail(tenantId: String, batchId: String, actualRecordCount: Int,
      invalidRecordCount: Int, failureMessage: String): Unit =
    timedPut(batchId)(super.fail(tenantId, batchId, actualRecordCount,
      invalidRecordCount, failureMessage))
}

/** A streaming progress report, reduced to what the benchmark reads. */
final case class Prog(batch: Long, startUs: Long, durMs: Map[String, Long], rows: Long,
    startOff: Long, endOff: Long, commitMs: Long, stateRows: Long, stateBytes: Long) {
  def endUs: Long = startUs + durMs.getOrElse("triggerExecution", 0L) * 1000L
}

object Prog {
  private def off(s: String): Long =
    if (s == null || s == "null") -1L else s.trim.toLongOption.getOrElse(-1L)

  def of(q: StreamingQuery): Seq[Prog] = q.recentProgress.toSeq.map { p =>
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Prog(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      src.map(s => off(s.startOffset)).getOrElse(-1L),
      src.map(s => off(s.endOffset)).getOrElse(-1L),
      st.map(_.commitTimeMs).getOrElse(0L),
      st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L))
  }
}

/** The validation DAG, wired through the program's public entry points:
  * notification query → snapshot, record query → V1–V11 validation →
  * exactly-once valid/invalid sinks over the in-memory transactional broker →
  * counts handoff → tracker → Mgmt API sink → loopback stub API. */
final class Dag(spark: SparkSession, dir: String, val gen: Gen, spans: Spans) {
  val stub = new StubMgmtApi
  val client = new TimedClient(stub.base, spans)
  val inputTopic: String = gen.inputTopic
  val outTopic: String = Topics.outputTopic(inputTopic)
  val invalidTopic: String = Topics.invalidTopic(inputTopic)
  val markerTopic: String = outTopic.stripSuffix(".out") + ".txn-markers"
  private val brokerId = s"perfbench-${java.util.UUID.randomUUID()}"
  val broker: InMemoryTxnBroker = InMemoryTxnBroker.get(brokerId)

  // MemoryStream makes one partition per addData call unless told a count;
  // fixed counts stand in for the Kafka topics' partitions: one per core for
  // records, one for the control streams
  val records: MemoryStream[Rec] = MemoryStream[Rec](spark.sparkContext.defaultParallelism)(
    Encoders.product[Rec], spark.sqlContext)
  val notifications: MemoryStream[String] =
    MemoryStream[String](1)(Encoders.STRING, spark.sqlContext)
  private val trackerSession = TrackerProcessor.controlPlaneSession(spark)
  val trackerIn: MemoryStream[TrackerInput] = MemoryStream[TrackerInput](1)(
    Encoders.product[TrackerInput], trackerSession.sqlContext)
  val store = new NotificationSnapshot(spark, None)

  private def countsHandoff(df: DataFrame, epochId: Long): Unit = {
    val deltas = df.groupBy("batchId").agg(
      sum(when(col("isValid"), 1L).otherwise(0L)),
      sum(when(col("isValid"), 0L).otherwise(1L))).collect()
      .map(r => TrackerInput.count(CountsDelta(r.getString(0), r.getLong(1), r.getLong(2))))
    if (deltas.nonEmpty) trackerIn.addData(deltas.toSeq)
  }

  val sinks = new TimedSinks(ValidationJob.transactionalKafkaSinks("", inputTopic,
    countsHandoff, factory = Some(InMemoryTxnFactory(brokerId))), spans)

  val nq: StreamingQuery =
    ValidationStream.startNotificationQuery(notifications.toDF(), store, dir)
  val rq: StreamingQuery = ValidationStream.startRecordQuery(records.toDF(), store,
    new JsonValidator, sinks, dir, lookup = Some(client))
  // 1 s, as ValidationJob.startKafka wires it: processing-time timers make
  // every tick runnable, so the tracker needs a real trigger interval
  val tq: StreamingQuery = {
    val apiSink = new MgmtApiSink(client, new Retry(initialBackoffMs = 100, giveUpAfterMs = 20000))
    TrackerProcessor.track(trackerIn.toDS(), completionDelayMs = 0L)
      .writeStream
      .queryName("graft-tracker")
      .option("checkpointLocation", s"$dir/graft-tracker")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch(apiSink.writeBatch _)
      .start()
  }

  def queryNames: Map[String, String] = Map(
    rq.id.toString -> "records", nq.id.toString -> "notifications", tq.id.toString -> "tracker")

  /** Notification JSON to the snapshot's query (STARTED, expected unknown). */
  def announce(bs: Seq[GenBatch]): Unit =
    if (bs.nonEmpty) notifications.addData(bs.map(gen.notificationJson(_, Status.Started, -1)))

  /** STARTED of each served batch to the tracker and the stub API; returns
    * the tracker input's offset. */
  def track(bs: Seq[GenBatch]): Long = {
    val served = bs.filter(_.served)
    served.foreach(b => stub.register(b.id, gen.notificationJson(b, Status.Started, -1)))
    trackerIn.addData(served.map(b =>
      TrackerInput.notification(gen.notification(b, Status.Started, -1)))).json.toLong
  }

  /** Waits (bounded) until the tracker query has read up to `offset`. */
  def awaitTracker(offset: Long): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (!Prog.of(tq).exists(_.endOff >= offset) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** SEND_COMPLETED for each batch with its final count, to both streams. */
  def sendCompleted(bs: Seq[GenBatch], dueUs: Long): Unit = if (bs.nonEmpty) {
    notifications.addData(bs.map(b => gen.notificationJson(b, Status.SendCompleted, b.sent)))
    trackerIn.addData(bs.map(b =>
      TrackerInput.notification(gen.notification(b, Status.SendCompleted, b.sent))))
    bs.filter(_.served).foreach(b => gen.terminal(b.id) = (b, dueUs))
  }

  /** Wait (bounded) until the stub holds a terminal PUT for every batch. */
  def awaitPuts(ids: Iterable[String], timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ids.forall(stub.terminalFor(_).isDefined) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
  }

  /** Epoch of the record query that carried `offset` (a MemoryStream offset). */
  def epochOf(progs: Seq[Prog], offset: Long): Option[Long] =
    progs.find(p => p.rows > 0 && p.startOff < offset && offset <= p.endOff).map(_.batch)

  def stop(): Unit = {
    Seq(rq, nq, tq).foreach(q => Try(q.stop()))
    stub.stop()
    InMemoryTxnBroker.remove(brokerId)
  }
}

/** The streaming workload and its correctness gates. */
object Streaming {

  val InputTopic = "ingest.bench.claims.in"
  /** stream_steady: one tick every TickMs, RecsPerTick records spread over
    * Slots interleaved batches: 480 rec/s, a rate this DAG (transactional
    * sinks, tracker, terminal PUTs) keeps up with at local[4]. */
  val TickMs = 50
  val RecsPerTick = 24
  val Slots = 4
  val LeadInMs = 3000
  val UnannouncedShare = 0.1
  val UnknownShare = 0.05
  /** Whatever the draws, a never-announced batch and an unknown batch are
    * each made at least this often, so every window has lookups and 404s. */
  val ForceEveryMs = 8000

  /** A planned warm-up round: which batches the snapshot knows, which only
    * the stub serves, which are unknown everywhere, and each one's size. */
  private final case class Round(inSnapshot: Seq[GenBatch], lookedUp: Seq[GenBatch],
      absent: Seq[GenBatch], sizes: Seq[Int]) {
    def known: Seq[GenBatch] = inSnapshot ++ lookedUp
    /** The round's records, shuffled; made only when the round runs, so the
      * expected outcomes cover exactly the records sent. */
    def records(gen: Gen): Seq[Rec] =
      gen.rnd.shuffle((inSnapshot ++ lookedUp ++ absent).zip(sizes).flatMap {
        case (b, n) => gen.records(b, n) })
  }

  private def planRound(gen: Gen, served: Int, announced: Int, unknown: Int,
      minSize: Int, maxSize: Int): Round = {
    def size() = minSize + gen.rnd.nextInt(maxSize - minSize + 1)
    def batch(served: Boolean) = gen.batch(served, size(), canFail = false)
    val inSnapshot = Seq.fill(announced)(batch(true))
    val lookedUp = Seq.fill(served)(batch(true))
    val absent = Seq.fill(unknown)(batch(false))
    Round(inSnapshot, lookedUp, absent, Seq.fill(announced + served + unknown)(size()))
  }

  /** Warms the whole DAG off the clock: codegen, state store, lookups (served
    * and 404), both sinks, the tracker and terminal PUTs. The cold steps
    * overlap, so warm batches have no fail threshold (their counts may reach
    * the tracker before their STARTED). */
  private def warmUp(dag: Dag): Unit = {
    val r = planRound(dag.gen, served = 8, announced = 4, unknown = 4, minSize = 40,
      maxSize = 80)
    dag.announce(r.inSnapshot)
    val tracked = dag.track(r.known)
    dag.records.addData(r.records(dag.gen))
    dag.rq.processAllAvailable()
    dag.nq.processAllAvailable()
    dag.awaitTracker(tracked)
    dag.sendCompleted(r.known, Clock.us())
    dag.awaitPuts(r.known.map(_.id), 60000L)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int,
      spans: Spans, stats: Option[JobStats], work: String, t0Us: Long): Result = {
    val gen = new Gen(seed, InputTopic)
    val dag = new Dag(spark, s"$work/checkpoints", gen, spans)
    def phase(p: String): Unit =
      System.err.println(f"[perfbench] ${(Clock.us() - t0Us) / 1e6}%.2f s: $p")
    phase("DAG started")
    try {
      warmUp(dag)
      phase("warm-up done")
      val txn0 = dag.broker.committed(dag.markerTopic).size
      val req0 = dag.stub.requests.get()
      val res = steady(dag, seconds, t0Us)
      phase("window and drain done")
      dag.rq.processAllAvailable()
      val windowStart = res.windowStartUs
      val progs = Map("records" -> Prog.of(dag.rq), "notifications" -> Prog.of(dag.nq),
        "tracker" -> Prog.of(dag.tq)).map { case (k, v) => k -> v.filter(_.startUs >= windowStart) }
      val (attempted, failed, errors) = check(dag)
      val layer = layerMetrics(dag, progs, stats, windowStart) ++ Map(
        "streaming.sinks.txn_commits" -> (dag.broker.committed(dag.markerTopic).size - txn0).toDouble,
        "http.requests" -> (dag.stub.requests.get() - req0).toDouble)
      if (spans.on) linkSpans(spans, progs, windowStart)
      res.copy(attempted = attempted, failed = failed, errors = errors,
        layer = res.layer ++ layer,
        rows = progs.toSeq.flatMap { case (q, ps) => ps.map(p =>
          s"""{"query":"$q","epoch":${p.batch},"start_us":${p.startUs},"rows":${p.rows},""" +
            s""""trigger_ms":${p.durMs.getOrElse("triggerExecution", 0L)},""" +
            s""""add_batch_ms":${p.durMs.getOrElse("addBatch", 0L)}}""") })
    } finally dag.stop()
  }

  private def steady(dag: Dag, seconds: Int, t0Us: Long): Result = {
    val gen = dag.gen
    // the generator runs LeadInMs before the measured window, so the window
    // starts in the steady regime rather than on an idle pipeline
    val nLead = LeadInMs / TickMs
    val nTicks = nLead + seconds * 1000 / TickMs
    val perSlot = RecsPerTick / Slots
    def size() = 240 + gen.rnd.nextInt(481)
    // the whole schedule is built before the clock starts: per tick, the
    // records to add, the batches to announce and the batches to complete
    // most batches are announced before their records; a share never is (the
    // record trigger resolves it through a lookup) and a share is unknown to
    // the API (its lookups get 404 and its records go invalid-unknown)
    val unannounced = mutable.HashSet.empty[String]
    val forceTicks = ForceEveryMs / TickMs
    var (lastUnknown, lastUnannounced) = (-forceTicks, -forceTicks)
    def newBatch(n: Int, k: Int): GenBatch = {
      val u = gen.rnd.nextDouble()
      val unknown = u < UnknownShare || k - lastUnknown >= forceTicks
      val b = gen.batch(served = !unknown, n)
      if (unknown) lastUnknown = k
      else if (u < UnknownShare + UnannouncedShare || k - lastUnannounced >= forceTicks) {
        unannounced += b.id
        lastUnannounced = k
      }
      b
    }
    def announced(bs: Iterable[GenBatch]) = bs.filter(b => b.served && !unannounced(b.id))
    final class Slot(var cur: GenBatch, var curSize: Int, var next: GenBatch, var nextSize: Int)
    val slots = Array.fill(Slots) {
      val (s1, s2) = (size(), size())
      new Slot(newBatch(s1, 0), s1, newBatch(s2, 0), s2)
    }
    val everyBatch = mutable.ArrayBuffer.empty[GenBatch]
    slots.foreach(s => everyBatch ++= Seq(s.cur, s.next))
    val tickRecs = new Array[Seq[Rec]](nTicks)
    val tickAnnounce = Array.fill(nTicks)(mutable.ArrayBuffer.empty[GenBatch])
    val tickComplete = Array.fill(nTicks)(mutable.ArrayBuffer.empty[GenBatch])
    tickAnnounce(0) ++= announced(slots.map(_.next))
    for (k <- 0 until nTicks) {
      val recs = mutable.ArrayBuffer.empty[Rec]
      slots.foreach { s =>
        recs ++= gen.records(s.cur, math.min(perSlot, s.curSize - s.cur.sent))
        if (s.cur.sent >= s.curSize || k == nTicks - 1) {
          // the API knows no unknown batch, so nothing announces its end
          if (s.cur.served) tickComplete(k) += s.cur
          if (k < nTicks - 1) {
            // the next batch starts sending; its successor is announced now
            s.cur = s.next; s.curSize = s.nextSize
            s.nextSize = size(); s.next = newBatch(s.nextSize, k)
            everyBatch += s.next
            tickAnnounce(k + 1) ++= announced(Seq(s.next))
          }
        }
      }
      tickRecs(k) = recs.toSeq
    }
    // announce the first batches, and every batch to the tracker, off the clock
    dag.announce(announced(slots.map(_.cur)).toSeq)
    dag.nq.processAllAvailable()
    dag.awaitTracker(dag.track(everyBatch.toSeq))
    val start = Clock.us() + 100000L
    val windowStart = start + nLead * TickMs * 1000L
    var (cpu0, jit0) = (0.0, 0.0)
    val tickOffsets = new Array[Long](nTicks)
    var lateMax = 0L
    // CPU per record over each 5 s of ticks, and the JIT's total compile
    // time, to the log: shows whether the JIT has settled
    var (chunkCpu, chunkRecs) = (Stats.cpuMs(), 0)
    for (k <- 0 until nTicks) {
      val due = start + k * TickMs * 1000L
      val wait = due - Clock.us()
      if (wait > 0) Thread.sleep(wait / 1000L, ((wait % 1000L) * 1000L).toInt)
      lateMax = math.max(lateMax, Clock.us() - due)
      if (k == nLead) { cpu0 = Stats.cpuMs(); jit0 = Stats.compilerCpuMs() }
      dag.announce(tickAnnounce(k).toSeq)
      tickOffsets(k) = dag.records.addData(tickRecs(k)).json.toLong
      dag.sendCompleted(tickComplete(k).toSeq, due)
      chunkRecs += tickRecs(k).size
      if ((k + 1) % (5000 / TickMs) == 0) {
        val c = Stats.cpuMs()
        System.err.println(f"[perfbench] ticks to ${(k + 1) * TickMs / 1000}%d s: " +
          f"${(c - chunkCpu) / chunkRecs}%.2f CPU ms per record, " +
          f"JIT ${Stats.jitMs()} ms, ${Stats.compilerCpuMs()}%.0f CPU ms so far")
        chunkCpu = c; chunkRecs = 0
      }
    }
    val end = start + nTicks * TickMs * 1000L
    dag.rq.processAllAvailable()
    dag.awaitPuts(dag.gen.terminal.keys, 60000L)
    val cpuMs = Stats.cpuMs() - cpu0
    val jitMs = Stats.compilerCpuMs() - jit0
    val liveMb = HeapWatch.liveMb()
    val progs = Prog.of(dag.rq)
    val lat = mutable.ArrayBuffer.empty[Double]
    var backlog = 0L
    var lastDelivery = windowStart
    for (k <- nLead until nTicks; n = tickRecs(k).size if n > 0) {
      val due = start + k * TickMs * 1000L
      dag.epochOf(progs, tickOffsets(k)).flatMap(dag.sinks.returnedAt) match {
        case Some(ret) =>
          lat ++= Iterator.fill(n)((ret - due) / 1000.0)
          if (ret > end) backlog += n
          lastDelivery = math.max(lastDelivery, ret)
        case None => backlog += n
      }
    }
    val closes = dag.gen.terminal.values.collect { case (b, due) if due >= windowStart =>
      dag.stub.terminalFor(b.id).map(p => (p.atUs - due) / 1000.0)
    }.flatten.toArray
    val nRecs = tickRecs.drop(nLead).map(_.size).sum
    Result(
      windowStartUs = windowStart,
      e2e = Map(
        "setup_s" -> (windowStart - t0Us) / 1e6,
        "latency_p50_ms" -> Stats.pct(lat.toArray, 50),
        "latency_p90_ms" -> Stats.pct(lat.toArray, 90),
        "close_ms" -> Stats.pct(closes, 50),
        "throughput_per_s" -> nRecs / ((lastDelivery - windowStart) / 1e6),
        "cpu_ms_per_op" -> cpuMs / nRecs,
        "live_heap_mb" -> liveMb),
      layer = Map(
        "bench.gen_late_ms_max" -> lateMax / 1000.0,
        "bench.backlog_records" -> backlog.toDouble,
        "jvm.jit_cpu_ms_per_op" -> jitMs / nRecs),
      info = Map(
        "records" -> nRecs.toString, "batches_closed" -> closes.length.toString,
        "latency_p99_ms" -> Stats.pct(lat.toArray, 99).toString,
        "rate_rec_per_s" -> (RecsPerTick * 1000 / TickMs).toString))
  }

  private val Offset = """"offset":(\d+)""".r
  private val Failure_ = """"failure":"((?:[^"\\]|\\.)*)"""".r
  private val Counts = """"actualRecordCount":(-?\d+),"invalidRecordCount":(-?\d+)""".r

  /** The correctness gates: every record exactly once on its correct topic,
    * and exactly one right terminal PUT per served batch. Returns
    * (attempted, failed, first errors). */
  private def check(dag: Dag): (Long, Long, Seq[String]) = {
    val gen = dag.gen
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    def bad(msg: String): Unit = { failed += 1; if (errors.size < 10) errors += msg }

    val seen = mutable.HashSet.empty[String]
    dag.broker.committed(dag.outTopic).foreach { case (k, v, _) =>
      val key = new String(k, UTF_8)
      gen.validKeys.get(key) match {
        case Some(p) if java.util.Arrays.equals(p, v) && seen.add(key) =>
        case Some(_) => bad(s"valid record $key duplicated or altered")
        case None => bad(s"record $key on the valid topic, expected invalid")
      }
    }
    gen.validKeys.keys.filterNot(seen).foreach(k => bad(s"valid record $k not delivered"))

    val seenInv = mutable.HashSet.empty[Long]
    dag.broker.committed(dag.invalidTopic).foreach { case (_, v, _) =>
      val json = new String(v, UTF_8)
      val off = Offset.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
      val failure = Failure_.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
      gen.invalid.get(off) match {
        case Some(unknown) if seenInv.add(off) =>
          val routing = Seq(ErrorMessages.MissingBatchId, ErrorMessages.UnknownBatchId,
            ErrorMessages.AlreadyCompleted)
          if (unknown && failure != ErrorMessages.UnknownBatchId)
            bad(s"record at offset $off: '$failure', expected unknown batch")
          if (!unknown && (failure.isEmpty || routing.contains(failure)))
            bad(s"record at offset $off: '$failure', expected a payload error")
        case Some(_) => bad(s"invalid record at offset $off duplicated")
        case None => bad(s"record at offset $off on the invalid topic, expected valid")
      }
    }
    gen.invalid.keys.filterNot(seenInv).foreach(o => bad(s"invalid record at offset $o not delivered"))

    val putsById = dag.stub.allPuts.groupBy(_.batchId)
    gen.terminal.values.foreach { case (b, _) =>
      putsById.getOrElse(b.id, Nil) match {
        case Seq(p) =>
          val (actual, inv) = Counts.findFirstMatchIn(p.body)
            .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((-1, -1))
          val fails = b.threshold > 0 && b.malformed >= b.threshold
          val ok =
            if (!fails) p.action == "processingComplete" && actual == b.sent && inv == b.malformed
            else p.action == "fail" && inv >= b.threshold && inv <= b.malformed &&
              actual >= inv && actual <= b.sent
          if (!ok) bad(s"batch ${b.id}: ${p.action} $actual/$inv, expected " +
            s"${if (fails) "fail" else "processingComplete"} of ${b.sent}/${b.malformed}" +
            s" (threshold ${b.threshold})")
        case Seq() => bad(s"batch ${b.id}: no terminal PUT")
        case ps => bad(s"batch ${b.id}: ${ps.size} terminal PUTs")
      }
    }
    putsById.keys.filterNot(gen.terminal.contains).foreach(id => bad(s"unexpected PUT for $id"))
    (gen.validKeys.size.toLong + gen.invalid.size + gen.terminal.size, failed, errors.toSeq)
  }

  private def layerMetrics(dag: Dag, progs: Map[String, Seq[Prog]], stats: Option[JobStats],
      windowStart: Long): Map[String, Double] = {
    val rp = progs("records").filter(_.rows > 0)
    val tp = progs("tracker")
    val np = progs("notifications").filter(_.rows > 0)
    def p50(xs: Iterable[Double]) = Stats.pct(xs.toArray, 50)
    def dur(p: Prog, k: String) = p.durMs.getOrElse(k, 0L).toDouble
    val windowEpochs = rp.map(_.batch).toSet
    def sinkMs(name: String) = Stats.mean(dag.sinks.calls.asScala.collect {
      case (s, e, a, b) if s == name && windowEpochs(e) => (b - a) / 1000.0 }.toArray)
    val lookups = dag.client.lookups.asScala.filter(_._1 >= windowStart).toSeq
    val puts = dag.client.putCalls.asScala.filter(_._1 >= windowStart).toSeq
    // jobs and stages per trigger, from the listener, for the window's epochs
    val perQuery: Map[String, Seq[JobAgg]] = stats.map { s =>
      s.settle()
      val names = dag.queryNames
      s.snapshot.toSeq.flatMap { case (key, agg) =>
        key.split("/") match {
          case Array(qid, ep) if names.contains(qid) && ep.toLongOption.isDefined =>
            Some((names(qid), ep.toLong, agg))
          case _ => None
        }
      }.filter { case (q, ep, _) =>
        progs(q).exists(_.batch == ep) && (q != "records" || windowEpochs(ep))
      }.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._3) }
    }.getOrElse(Map.empty)
    def perTrigger(q: String, n: Int, f: JobAgg => Double) =
      if (n == 0) 0.0 else perQuery.getOrElse(q, Nil).map(f).sum / n
    Map(
      "streaming.records.triggers" -> rp.size.toDouble,
      "streaming.records.trigger_ms_p50" -> p50(rp.map(dur(_, "triggerExecution"))),
      "streaming.records.add_batch_ms" -> p50(rp.map(dur(_, "addBatch"))),
      "streaming.records.overhead_ms" ->
        p50(rp.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))),
      "streaming.records.jobs_per_trigger" -> perTrigger("records", rp.size, _.jobs),
      "streaming.records.stages_per_trigger" -> perTrigger("records", rp.size, _.stages),
      "streaming.records.rows_per_trigger" -> Stats.mean(rp.map(_.rows.toDouble).toArray),
      "streaming.sinks.valid_ms" -> sinkMs("valid"),
      "streaming.sinks.invalid_ms" -> sinkMs("invalid"),
      "streaming.sinks.counts_ms" -> sinkMs("counts"),
      "streaming.tracker.triggers" -> tp.size.toDouble,
      "streaming.tracker.trigger_ms_p50" -> p50(tp.map(dur(_, "triggerExecution"))),
      "streaming.tracker.state_commit_ms" -> p50(tp.map(_.commitMs.toDouble)),
      "streaming.tracker.state_rows" -> tp.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.tracker.state_bytes" -> tp.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0),
      "streaming.tracker.jobs_per_trigger" -> perTrigger("tracker", tp.size, _.jobs),
      "streaming.notifications.add_batch_ms" -> p50(np.map(dur(_, "addBatch"))),
      "streaming.snapshot.ids" -> dag.store.knownIds.size.toDouble,
      "http.lookups" -> lookups.size.toDouble,
      "http.lookup_ms_p50" -> p50(lookups.map { case (a, b, _) => (b - a) / 1000.0 }),
      "http.lookup_404" -> lookups.count(_._3 == 404).toDouble,
      "http.put_ms_p50" -> p50(puts.map { case (a, b, _) => (b - a) / 1000.0 }),
      "http.put_409" -> puts.count(_._3 == 409).toDouble)
  }

  /** Adds the progress-derived trigger spans and links every span to its
    * parent: sink calls to their epoch's trigger, lookups to the record
    * trigger and PUTs to the tracker trigger that contain them. */
  private def linkSpans(spans: Spans, progs: Map[String, Seq[Prog]], windowStart: Long): Unit = {
    def trig(q: String, name: String) = progs(q).map(p =>
      Span(name, s"$q/${p.batch}", p.startUs, p.endUs))
    val rec = trig("records", "trigger")
    val tracker = trig("tracker", "tracker.trigger")
    val notif = trig("notifications", "notifications.trigger")
    val byTrace = rec.map(s => s.trace -> s).toMap
    def containing(ts: Seq[Span], s: Span) =
      ts.find(t => t.startUs <= s.startUs && s.startUs <= t.endUs)
    val own = spans.all.filter(_.startUs >= windowStart)
    val linked = own.map { s =>
      val parent = s.name match {
        case n if n.startsWith("sink.") => byTrace.get(s.trace)
        case "lookup" => containing(rec, s)
        case "mgmt.put" => containing(tracker, s)
        case _ => None
      }
      s.copy(parent = parent)
    }
    spans.replace(rec ++ tracker ++ notif ++ linked)
  }
}
