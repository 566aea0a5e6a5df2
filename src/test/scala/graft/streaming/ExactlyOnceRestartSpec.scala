package graft.streaming

import graft.SparkSpec
import graft.model.{Schemas, Status}
import graft.validation.JsonValidator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

case class EoHdr(key: String, value: Array[Byte])
case class EoRec(key: Array[Byte], value: Array[Byte], headers: Seq[EoHdr],
    topic: String, partition: Int, offset: Long)

/** JVM-wide switchboard for [[CrashAfterPartialCommit]]: the factory
  * deserializes fresh into every task closure, so the armed flag must live
  * where driver and executor threads share it (one JVM under local[*]). */
object CrashControl {
  val armed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
}

/** [[TxnProducerFactory]] that, while armed, reproduces the crash a real
  * deployment fears most: an epoch that dies AFTER some partitions'
  * transactions committed. The first non-zero partition asked to open a
  * producer under `victimBase` waits until partition 0's commit marker is
  * visible (so the epoch is genuinely partial, not merely unstarted), then
  * disarms itself and throws — failing the Spark task, hence the micro-batch,
  * hence the streaming query, exactly like an executor loss mid-commit.
  * Disarmed, it is a transparent pass-through to [[InMemoryTxnBroker]]. */
final case class CrashAfterPartialCommit(brokerId: String, markerTopic: String,
    victimBase: String, controlId: String) extends TxnProducerFactory {

  private def broker = InMemoryTxnBroker.get(brokerId)

  override def open(transactionalId: String): TxnProducer = {
    if (java.lang.Boolean.TRUE == CrashControl.armed.get(controlId) &&
        transactionalId.startsWith(victimBase + "-")) {
      // transactionalId = <victimBase>-<epochId>-<partitionId>
      val tail = transactionalId.stripPrefix(victimBase + "-").split("-")
      if (tail.length == 2 && tail(1).toIntOption.exists(_ != 0)) {
        val epoch = tail(0).toLong
        val deadline = System.currentTimeMillis + 15000
        while (System.currentTimeMillis < deadline &&
            !broker.committedKeys(markerTopic).exists(k =>
              TransactionalEpochSink.parseMarker(k, victimBase, epoch).contains(0)))
          Thread.sleep(10)
        CrashControl.armed.put(controlId, false)
        throw new RuntimeException("injected crash after partial epoch commit")
      }
    }
    broker.open(transactionalId)
  }

  override def committed(markerTopic: String, txnIdBase: String,
      epochId: Long, partitionId: Int): Boolean =
    InMemoryTxnFactory(brokerId).committed(markerTopic, txnIdBase, epochId,
      partitionId)
}

/** The seam no other spec drives end to end: Spark's OWN checkpoint/replay
  * machinery (offset WAL, epoch ids, partition planning) composed with
  * [[TransactionalEpochSink]]'s exactly-once scheme. TransactionalEpochSinkSpec
  * replays epochs by hand-feeding epoch ids; here the replay is the real one —
  * a restarted query re-running the failed micro-batch from its checkpoint —
  * through the production wiring ([[graft.jobs.ValidationJob.transactionalKafkaSinks]]
  * over [[ValidationStream.startRecordQuery]]), mirroring the reference's
  * checkpoint-recovery contract (BaseValidationJob.scala:361-396: restart from
  * checkpoint + EXACTLY_ONCE producer semantics). */
class ExactlyOnceRestartSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val inputTopic = "ingest.t1.claims.in"
  private val outTopic = "ingest.t1.claims.out"
  private val markerTopic = "ingest.t1.claims.txn-markers"
  private val outBase = s"hri-validation-$inputTopic-out"

  private def rec(offset: Long, payload: String): EoRec =
    EoRec(s"k$offset".getBytes, payload.getBytes,
      Seq(EoHdr("batchId", "batch-1".getBytes)), inputTopic, 0, offset)

  test("exactly-once survives a mid-epoch crash and checkpoint restart of the record query") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("eo-restart").toString
    val inputDir = s"$root/input"
    val brokerId = s"eo-restart-${java.util.UUID.randomUUID()}"
    val controlId = brokerId
    val factory = CrashAfterPartialCommit(brokerId, markerTopic, outBase, controlId)
    val broker = InMemoryTxnBroker.get(brokerId)

    // the batch is already known (snapshot pre-seeded) — this spec is about
    // the sink/replay plane, not the V3 lookup path
    val store = new NotificationSnapshot(s, None)
    store.put("batch-1", Row("batch-1", "n", inputTopic, "claims",
      Status.Started, null, null, 100, -1, -1, -1, null, null))

    // one parquet part-file per call → with both written before the query
    // starts and maxFilesPerTrigger=2, epoch 0 reads both as partitions 0/1,
    // and the WAL pins that same file list to every replay of the epoch
    def addFile(recs: Seq[EoRec]): Unit =
      recs.toDF().coalesce(1).write.mode("append").parquet(inputDir)
    addFile((0L until 4L).map(i => rec(i, s"""{"ok":$i}""")))
    addFile((4L until 8L).map(i => rec(i, s"""{"ok":$i}""")))

    def sinks() = graft.jobs.ValidationJob.transactionalKafkaSinks(
      "unused:9092", inputTopic, (_, _) => (), factory = Some(factory))
    def startQuery() = ValidationStream.startRecordQuery(
      s.readStream.schema(Schemas.hriRecord).option("maxFilesPerTrigger", "2")
        .parquet(inputDir),
      store, new JsonValidator, sinks(), root)

    def causeChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq

    try {
      // ---- phase 1: crash epoch 0 after partition 0 committed ----
      CrashControl.armed.put(controlId, true)
      val q1 = startQuery()
      scala.util.Try(q1.processAllAvailable()) // fails with the injected crash
      val deadline = System.currentTimeMillis + 30000
      while (q1.exception.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(25)
      val ex = q1.exception.getOrElse(fail("query did not fail from the injected crash"))
      causeChain(ex).mkString("\n") should include("injected crash")
      scala.util.Try(q1.stop())

      // the epoch really is partial: partition 0's transaction committed
      // (rows + its marker), partition 1's never did
      val committedAtCrash = broker.committedKeys(outTopic)
      committedAtCrash should not be empty
      committedAtCrash.size should be < 8
      broker.committedKeys(markerTopic).count(_.startsWith(s"$outBase/0/")) shouldBe 1

      // ---- phase 2: restart from the same checkpoint; Spark replays epoch 0 ----
      CrashControl.armed.put(controlId, false)
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        // every input record visible exactly once: the replay skipped the
        // committed partition (no duplicates) and published the missing one
        // (no loss)
        broker.committedKeys(outTopic).sorted shouldBe
          (0L until 8L).map(i => s"k$i").sorted
        // the replayed attempt re-used partition 0's existing marker instead
        // of writing a second one
        broker.committedKeys(markerTopic)
          .count(_.startsWith(s"$outBase/0/")) shouldBe 2 // pid 0 + pid 1, once each
        // pid 0's committed rows were not rewritten: the crash-time subset is
        // a strict prefix of the final log (append-only, no re-publish)
        broker.committedKeys(outTopic).take(committedAtCrash.size) shouldBe committedAtCrash

        // ---- phase 3: post-restart epochs flow exactly-once too ----
        addFile((8L until 12L).map(i => rec(i, s"""{"ok":$i}""")))
        addFile((12L until 16L).map(i => rec(i, s"""{"ok":$i}""")))
        q2.processAllAvailable()
        broker.committedKeys(outTopic).sorted shouldBe
          (0L until 16L).map(i => s"k$i").sorted
        // one marker per (epoch, partition), never a duplicate key
        val markers = broker.committedKeys(markerTopic)
        markers.distinct shouldBe markers
      } finally q2.stop()
    } finally InMemoryTxnBroker.remove(brokerId)
  }
}
