package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Exactly-once pins for the transactional epoch sink (SURVEY §7.6 option c):
  * replaying an epoch — foreachBatch's at-least-once reality — must never
  * duplicate a record for a read-committed consumer, whether the first
  * attempt committed everything, nothing, or only some partitions. */
class TransactionalEpochSinkSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val Topic = "out-topic"
  private val Markers = "markers"

  /** 12 keyed rows spread deterministically over 3 partitions. */
  private def batch(): DataFrame = {
    import spark.implicits._
    (0 until 12).map(i => (s"k$i", s"v$i")).toDF("ks", "vs")
      .repartition(3, col("ks"))
      .select(encode(col("ks"), "UTF-8").as("key"),
        encode(col("vs"), "UTF-8").as("value"),
        lit(null).cast("array<struct<key:string,value:binary>>").as("headers"))
  }

  private def values(b: InMemoryTxnBroker): Seq[String] =
    b.committed(Topic).map { case (_, v, _) =>
      new String(v, java.nio.charset.StandardCharsets.UTF_8)
    }

  private def freshBroker(name: String): (String, InMemoryTxnBroker) = {
    val id = s"txn-spec-$name"
    InMemoryTxnBroker.remove(id)
    (id, InMemoryTxnBroker.get(id))
  }

  test("an epoch publishes atomically: all rows visible, one marker per non-empty partition") {
    val (id, broker) = freshBroker("happy")
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 7L,
      InMemoryTxnFactory(id))
    values(broker).sorted shouldBe (0 until 12).map(i => s"v$i").sorted
    val markers = broker.committedKeys(Markers)
    markers.size should be <= 3
    markers.foreach { k =>
      TransactionalEpochSink.parseMarker(k, "base", 7L) should not be empty
    }
  }

  test("replaying a fully-committed epoch is a no-op (no duplicates)") {
    val (id, broker) = freshBroker("replay")
    val f = InMemoryTxnFactory(id)
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 3L, f)
    val after1 = values(broker).sorted
    // foreachBatch re-delivers the same epoch (e.g. failure after sink, before
    // commit log write) — every partition sees its marker and skips
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 3L, f)
    values(broker).sorted shouldBe after1
    after1 shouldBe (0 until 12).map(i => s"v$i").sorted
  }

  test("a partially-committed epoch replays to exactly one copy of every row") {
    val (id, broker) = freshBroker("partial")
    // first attempt: one partition's transaction dies before commit
    val failing = CrashingFactory(id, crashKey = s"crash-$id")
    CrashingFactory.arm(s"crash-$id")
    val attempt1 = intercept[org.apache.spark.SparkException] {
      TransactionalEpochSink.write(batch(), Topic, Markers, "base", 5L, failing)
    }
    attempt1.getMessage should include("injected crash")
    // read-committed view: the crashed partition's rows are INVISIBLE (its
    // transaction never committed), the others are complete
    val visible1 = values(broker)
    visible1.size should be < 12
    visible1.distinct.size shouldBe visible1.size
    // replay of the SAME epoch: committed partitions skip via their markers,
    // the crashed one rewrites under its fenced id
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 5L,
      InMemoryTxnFactory(id))
    values(broker).sorted shouldBe (0 until 12).map(i => s"v$i").sorted
  }

  test("intra-epoch retry/speculation: the in-task post-fence check blocks duplicates") {
    val (id, broker) = freshBroker("stale")
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 6L,
      InMemoryTxnFactory(id))
    // a retried or speculative task of an already-committed partition opens
    // its transactional id and runs the in-task committed() check after
    // that open() — which must skip, or the retry re-publishes a committed
    // partition
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 6L,
      InMemoryTxnFactory(id))
    values(broker).sorted shouldBe (0 until 12).map(i => s"v$i").sorted
  }

  test("markers are epoch-scoped: epoch N's commit never masks epoch N+1") {
    val (id, broker) = freshBroker("epochs")
    val f = InMemoryTxnFactory(id)
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 1L, f)
    TransactionalEpochSink.write(batch(), Topic, Markers, "base", 2L, f)
    // two epochs of the same data = every value exactly twice
    values(broker).sorted shouldBe
      (0 until 12).flatMap(i => Seq(s"v$i", s"v$i")).sorted
  }

  test("empty partitions publish neither rows nor markers") {
    val (id, broker) = freshBroker("empty")
    import spark.implicits._
    val noRows = Seq.empty[(String, String)].toDF("ks", "vs")
      .repartition(3)
      .select(encode(col("ks"), "UTF-8").as("key"),
        encode(col("vs"), "UTF-8").as("value"),
        lit(null).cast("array<struct<key:string,value:binary>>").as("headers"))
    TransactionalEpochSink.write(noRows, Topic, Markers, "base", 9L,
      InMemoryTxnFactory(id))
    broker.committed(Topic) shouldBe empty
    broker.committedKeys(Markers) shouldBe empty
  }

  test("headers and null keys round-trip through the transaction") {
    val (id, broker) = freshBroker("headers")
    import spark.implicits._
    val df = Seq(("b1", "payload")).toDF("bid", "vs")
      .select(lit(null).cast("binary").as("key"),
        encode(col("vs"), "UTF-8").as("value"),
        array(struct(lit("batchId").as("key"),
          encode(col("bid"), "UTF-8").as("value"))).as("headers"))
    TransactionalEpochSink.write(df, Topic, Markers, "base", 0L,
      InMemoryTxnFactory(id))
    val Seq((k, v, hs)) = broker.committed(Topic)
    k shouldBe null
    new String(v, "UTF-8") shouldBe "payload"
    hs.map { case (hk, hv) => hk -> new String(hv, "UTF-8") } shouldBe
      Seq("batchId" -> "b1")
  }

  test("transactionalKafkaSinks wires K1/K2 through the exactly-once path") {
    import graft.jobs.ValidationJob
    val (id, broker) = freshBroker("job")
    val sinks = ValidationJob.transactionalKafkaSinks(
      "unused:9092", "ingest.t1.di.in", (_, _) => (),
      factory = Some(InMemoryTxnFactory(id)))
    import spark.implicits._
    val records = Seq(("b1", "data"), ("b1", "more")).toDF("batchId", "vs")
      .select(lit(null).cast("binary").as("key"),
        encode(col("vs"), "UTF-8").as("value"),
        lit(null).cast("array<struct<key:string,value:binary>>").as("headers"),
        col("batchId"), lit("oops").as("failure"))
    sinks.valid(records, 4L)
    sinks.valid(records, 4L) // foreachBatch replay — must not duplicate
    sinks.invalid(records, 4L)
    val out = broker.committed("ingest.t1.di.out")
    out.size shouldBe 2 // exactly once despite the replay
    val inv = broker.committed("ingest.t1.di.invalid")
    inv.size shouldBe 2
    // invalid records carry the batchId echo header (D5)
    inv.foreach { case (_, _, hs) =>
      hs.map { case (k, v) => k -> new String(v, "UTF-8") } shouldBe
        Seq("batchId" -> "b1")
    }
    // markers land in the derived sibling topic, scoped by sink role
    val markers = broker.committedKeys("ingest.t1.di.txn-markers")
    markers.exists(_.startsWith("hri-validation-ingest.t1.di.in-out/4/")) shouldBe true
    markers.exists(_.startsWith("hri-validation-ingest.t1.di.in-invalid/4/")) shouldBe true
  }

  test("broker fencing: opening a transactional.id aborts and fences the prior handle") {
    val (id, broker) = freshBroker("fence")
    val zombie = broker.open("txn-a")
    zombie.begin()
    zombie.send(Topic, None, null, "stale".getBytes("UTF-8"), Nil)
    // a new attempt opens the same id — the zombie's in-flight txn dies
    val successor = broker.open("txn-a")
    successor.begin()
    successor.send(Topic, None, null, "fresh".getBytes("UTF-8"), Nil)
    successor.commit()
    // the fenced handle can never publish its buffer
    intercept[IllegalStateException] { zombie.commit() }
    values(broker) shouldBe Seq("fresh")
  }

  test("uncommitted sends are invisible and abort discards them") {
    val (id, broker) = freshBroker("abort")
    val p = broker.open("txn-b")
    p.begin()
    p.send(Topic, None, null, "ghost".getBytes("UTF-8"), Nil)
    values(broker) shouldBe empty // read-committed: nothing before commit
    p.abort()
    val p2 = broker.open("txn-b")
    p2.begin()
    p2.commit()
    values(broker) shouldBe empty
  }
}

/** [[InMemoryTxnFactory]] that crashes ONE partition's commit, once: the
  * one-shot flag lives in a JVM-wide registry so executor tasks (same JVM in
  * local mode) and the driver agree on "already crashed". */
final case class CrashingFactory(brokerId: String, crashKey: String)
    extends TxnProducerFactory {
  private def underlying = InMemoryTxnFactory(brokerId)
  override def open(transactionalId: String): TxnProducer = {
    val p = underlying.open(transactionalId)
    new TxnProducer {
      def begin(): Unit = p.begin()
      def send(t: String, part: Option[Int], k: Array[Byte],
          v: Array[Byte], h: Seq[(String, Array[Byte])]): Unit =
        p.send(t, part, k, v, h)
      def commit(): Unit = {
        if (CrashingFactory.disarm(crashKey))
          throw new RuntimeException("injected crash before commit")
        p.commit()
      }
      def abort(): Unit = p.abort()
      def close(): Unit = p.close()
    }
  }
  override def committed(markerTopic: String, txnIdBase: String,
      epochId: Long, partitionId: Int): Boolean =
    underlying.committed(markerTopic, txnIdBase, epochId, partitionId)
}

object CrashingFactory {
  private val armed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def arm(key: String): Unit = armed.add(key)
  /** True exactly once per armed key (first caller crashes, retries don't). */
  def disarm(key: String): Boolean = armed.remove(key)
}
