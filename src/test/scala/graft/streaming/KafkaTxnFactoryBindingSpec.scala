package graft.streaming

import graft.SparkSpec
import org.apache.kafka.FakeCluster
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Drives the PRODUCTION [[KafkaTxnProducerFactory]] — reflective binding
  * and all — against the test-scope kafka-clients fakes (exact class names
  * and signatures the reflection looks up, in-process transactional
  * cluster behind them). Without this, the factory's plumbing would be
  * dead code in every sandbox run: props assembly, fencing call order,
  * record/header construction, marker partition clamping, and the
  * incremental watermark scan are all exercised here, including the full
  * exactly-once `TransactionalEpochSink.write` path end to end. */
class KafkaTxnFactoryBindingSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def freshCluster(name: String) = {
    val bootstrap = s"fake-$name:9092"
    (bootstrap, FakeCluster.reset(bootstrap))
  }

  test("open() runs the fencing handshake and transactional produce round-trips") {
    val (bootstrap, cluster) = freshCluster("produce")
    val f = KafkaTxnProducerFactory(bootstrap,
      Map("kafka.compression.type" -> "zstd"))
    val p = f.open("txn-1")
    p.begin()
    p.send("t", None, "k".getBytes("UTF-8"), "v".getBytes("UTF-8"),
      Seq("h1" -> "hv".getBytes("UTF-8")))
    p.send("t", Some(9), null, "routed".getBytes("UTF-8"), Nil) // 9 % 4 = 1
    cluster.committedValues("t") shouldBe empty // invisible before commit
    p.commit()
    p.close()
    cluster.committedValues("t").toSet shouldBe Set("v", "routed")
    // explicit routing clamped into the fake's 4 partitions
    cluster.log.keySet should contain(("t", 1))
    // headers survived the reflective RecordHeader construction
    cluster.log(("t", 0)).head._3
      .map { case (k, v) => k -> new String(v, "UTF-8") } shouldBe
      Seq("h1" -> "hv")
  }

  test("a fenced producer cannot commit through the reflective layer") {
    val (bootstrap, cluster) = freshCluster("fence")
    val f = KafkaTxnProducerFactory(bootstrap)
    val zombie = f.open("txn-z")
    zombie.begin()
    zombie.send("t", None, null, "stale".getBytes("UTF-8"), Nil)
    val successor = f.open("txn-z") // initTransactions bumps the generation
    successor.begin()
    successor.send("t", None, null, "fresh".getBytes("UTF-8"), Nil)
    successor.commit()
    intercept[Exception] { zombie.commit() }
    cluster.committedValues("t") shouldBe Seq("fresh")
  }

  test("marker scans are incremental: each marker is read once per JVM") {
    val (bootstrap, cluster) = freshCluster(s"scan-${System.nanoTime}")
    val f = KafkaTxnProducerFactory(bootstrap)
    def writeMarker(epoch: Long, pid: Int): Unit = {
      val p = f.open(TransactionalEpochSink.transactionalId("base", epoch, pid))
      p.begin()
      p.send("markers", Some(pid),
        TransactionalEpochSink.markerKey("base", epoch, pid).getBytes("UTF-8"),
        Array.emptyByteArray, Nil)
      p.commit(); p.close()
    }
    def committed(epoch: Long): Seq[Int] =
      (0 until 4).filter(f.committed("markers", "base", epoch, _))
    writeMarker(1L, 0); writeMarker(1L, 2)
    committed(1L) shouldBe Seq(0, 2)
    val polledAfterFirst = cluster.recordsPolled
    // new epoch's marker lands; re-scans must read ONLY the new record
    writeMarker(2L, 1)
    committed(2L) shouldBe Seq(1)
    committed(1L) shouldBe Seq(0, 2)
    (cluster.recordsPolled - polledAfterFirst) shouldBe 1L
  }

  test("the full exactly-once write path runs through the reflective factory") {
    val (bootstrap, cluster) = freshCluster(s"e2e-${System.nanoTime}")
    import spark.implicits._
    val df = (0 until 8).map(i => (s"k$i", s"v$i")).toDF("ks", "vs")
      .repartition(3, col("ks"))
      .select(encode(col("ks"), "UTF-8").as("key"),
        encode(col("vs"), "UTF-8").as("value"),
        lit(null).cast("array<struct<key:string,value:binary>>").as("headers"))
    val f = KafkaTxnProducerFactory(bootstrap)
    TransactionalEpochSink.write(df, "out", "markers", "job", 5L, f)
    cluster.committedValues("out").sorted shouldBe
      (0 until 8).map(i => s"v$i").sorted
    // replay: the in-task post-fence check skips every committed
    // partition — no duplicates through the real factory
    TransactionalEpochSink.write(df, "out", "markers", "job", 5L, f)
    cluster.committedValues("out").sorted shouldBe
      (0 until 8).map(i => s"v$i").sorted
    cluster.committedKeys("markers")
      .flatMap(TransactionalEpochSink.parseMarker(_, "job", 5L))
      .toSet.size should be <= 3
  }

  test("marker cache prunes the caller's keys below the replay horizon; other bases untouched") {
    val (bootstrap, cluster) = freshCluster(s"prune-${System.nanoTime}")
    val f = KafkaTxnProducerFactory(bootstrap, replayWindowEpochs = 10)
    def writeMarker(base: String, epoch: Long, pid: Int): Unit = {
      val p = f.open(TransactionalEpochSink.transactionalId(base, epoch, pid))
      p.begin()
      p.send("markers", Some(pid),
        TransactionalEpochSink.markerKey(base, epoch, pid).getBytes("UTF-8"),
        Array.emptyByteArray, Nil)
      p.commit(); p.close()
    }
    // both bases' markers share marker partition 0, so jobA's scans prune
    // the very cache entry that holds jobB's key
    writeMarker("jobA", 1L, 0)
    writeMarker("jobB", 1L, 0)
    f.committed("markers", "jobA", 1L, 0) shouldBe true
    // a scan far ahead of the horizon prunes jobA's epoch-1 key from the
    // JVM cache (the topic itself is untouched — this models broker
    // retention outliving the cache's usefulness)
    f.committed("markers", "jobA", 100L, 0) shouldBe false
    // jobB's keys share the partition but belong to a different base —
    // jobA's pruning must never touch them (epoch counters aren't
    // comparable): the cache alone still answers for jobB
    val polledAfterPrune = cluster.recordsPolled
    f.committed("markers", "jobB", 1L, 0) shouldBe true
    cluster.recordsPolled shouldBe polledAfterPrune
    // a query BELOW the pruned horizon (a checkpoint rollback deeper than
    // the replay window) self-heals: the cache resets and the scan re-reads
    // the partition from offset 0 instead of answering from the pruned view
    // — which would report "nothing committed" and re-commit epoch 1
    f.committed("markers", "jobA", 1L, 0) shouldBe true
    cluster.recordsPolled should be > polledAfterPrune // re-read, not cache-answered
    // and the self-healing rescan repopulates the other base's keys too
    f.committed("markers", "jobB", 1L, 0) shouldBe true
  }

  test("a stalled broker connection fails the scan instead of spinning forever") {
    val (bootstrap, cluster) = freshCluster(s"stall-${System.nanoTime}")
    val f = KafkaTxnProducerFactory(bootstrap)
    val p = f.open(TransactionalEpochSink.transactionalId("base", 1L, 0))
    p.begin()
    p.send("markers", Some(0),
      TransactionalEpochSink.markerKey("base", 1L, 0).getBytes("UTF-8"),
      Array.emptyByteArray, Nil)
    p.commit(); p.close()
    cluster.stallPolls = true
    val ex = intercept[IllegalStateException] {
      f.committed("markers", "base", 1L, 0)
    }
    ex.getMessage should include("consecutive empty")
    // once the connection recovers, a task retry's fresh scan succeeds
    cluster.stallPolls = false
    f.committed("markers", "base", 1L, 0) shouldBe true
  }

  test("abort-dense segments never trip the stall guard: empty polls that advance the position are healthy") {
    val (bootstrap, cluster) = freshCluster(s"abortskip-${System.nanoTime}")
    val f = KafkaTxnProducerFactory(bootstrap)
    val p = f.open(TransactionalEpochSink.transactionalId("base", 1L, 0))
    p.begin()
    p.send("markers", Some(0),
      TransactionalEpochSink.markerKey("base", 1L, 0).getBytes("UTF-8"),
      Array.emptyByteArray, Nil)
    p.commit(); p.close()
    // a tail of aborted transactions LONGER than the stall tolerance:
    // read_committed polls over it return zero records while the position
    // advances one offset per poll — a healthy scan that the guard must
    // wait out, not kill (only no-records AND no-progress polls count)
    cluster.abortedTailOffsets = KafkaTxnProducerFactory.MaxEmptyPolls + 10L
    f.committed("markers", "base", 1L, 0) shouldBe true
  }

  test("SASL options flow into producer props stripped of the kafka. prefix") {
    val (bootstrap, _) = freshCluster("props")
    val f = KafkaTxnProducerFactory(bootstrap,
      graft.jobs.ValidationJob.kafkaSaslOptions(Some("se\\cr\"et")))
    // the real SASL map (quotes and backslashes in the JAAS line) must ride
    // through the prefix-stripping and Properties assembly without
    // corrupting the open/produce path
    val p = f.open("txn-props")
    p.begin(); p.send("t", None, null, "x".getBytes("UTF-8"), Nil); p.commit()
    p.close()
    // and toString never leaks the secret
    f.toString should not include "cr\"et"
    f.toString should include("redacted")
  }
}
