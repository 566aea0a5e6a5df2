package graft.streaming

import graft.SparkSpec
import graft.http.{MapBatchLookup, RequestException, Retry}
import graft.model.{BatchNotification, Status}
import graft.validation.JsonValidator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** End-to-end streaming validation — the SS analog of the reference's
  * mini-cluster job tests (ValidationJobIntTest.scala): scripted sources, real
  * queries, collected outputs. */
class ValidationStreamSpec extends AnyFunSuite with SparkSpec with Matchers {

  case class Hdr(key: String, value: Array[Byte])
  case class Rec(key: Array[Byte], value: Array[Byte], headers: Seq[Hdr],
      topic: String, partition: Int, offset: Long)

  private def rec(offset: Long, batchId: Option[String], payload: String,
      topic: String = "ingest.t1.claims.in"): Rec =
    Rec(s"k$offset".getBytes, payload.getBytes,
      batchId.map(b => Hdr("batchId", b.getBytes)).toSeq, topic, 0, offset)

  private def notifJson(id: String, status: String, expected: Int = 10): String =
    s"""{"id":"$id","name":"n-$id","topic":"ingest.t1.claims.in","dataType":"claims",""" +
      s""""status":"$status","expectedRecordCount":$expected,"invalidThreshold":-1}"""

  class CollectingSinks extends ValidationSinks {
    val validRows = ArrayBuffer.empty[Row]
    val invalidRows = ArrayBuffer.empty[Row]
    val countRows = ArrayBuffer.empty[Row]
    def valid(df: DataFrame, epochId: Long): Unit =
      validRows.synchronized { validRows ++= df.collect() }
    def invalid(df: DataFrame, epochId: Long): Unit =
      invalidRows.synchronized { invalidRows ++= df.collect() }
    def counts(df: DataFrame, epochId: Long): Unit =
      countRows.synchronized { countRows ++= df.collect() }
  }

  test("records are validated against the compacted notification snapshot") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new CollectingSinks
    val dir = java.nio.file.Files.createTempDirectory("vstream").toString

    val running = graft.jobs.ValidationJob.start(
      s, records.toDF(), notifications.toDF(), new JsonValidator, sinks, dir)
    try {
      // control first: announce batch-1 (STARTED)
      notifications.addData(notifJson("batch-1", Status.Started))
      running.notificationQuery.processAllAvailable()

      records.addData(
        rec(0, Some("batch-1"), """{"ok":1}"""),      // valid
        rec(1, Some("batch-1"), "not-json"),          // payload-invalid → counts
        rec(2, Some("nope"), """{"ok":1}"""),         // unknown batch → invalid
        rec(3, None, """{"ok":1}"""))                 // missing header → invalid
      running.recordQuery.processAllAvailable()

      sinks.validRows.map(_.getAs[Long]("offset")) shouldBe ArrayBuffer(0L)
      val failures = sinks.invalidRows
        .map(r => r.getAs[Long]("offset") -> r.getAs[String]("failure")).toMap
      failures.keySet shouldBe Set(1L, 2L, 3L)
      failures(1L) should include("JsonParseException")
      failures(2L) shouldBe graft.model.ErrorMessages.UnknownBatchId
      failures(3L) shouldBe graft.model.ErrorMessages.MissingBatchId
      sinks.countRows.map(r =>
        (r.getAs[String]("batchId"), r.getAs[Boolean]("isValid"))).toSet shouldBe
        Set("batch-1" -> true, "batch-1" -> false)

      // status update compacts last-write-wins: COMPLETED rejects late records
      notifications.addData(notifJson("batch-1", Status.Completed))
      running.notificationQuery.processAllAvailable()
      records.addData(rec(4, Some("batch-1"), """{"late":1}"""))
      running.recordQuery.processAllAvailable()
      sinks.invalidRows.find(_.getAs[Long]("offset") == 4L)
        .get.getAs[String]("failure") shouldBe graft.model.ErrorMessages.AlreadyCompleted
    } finally {
      running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  test("snapshot misses resolve through the BatchLookup SPI (V3 remote fallback)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new CollectingSinks
    val dir = java.nio.file.Files.createTempDirectory("vstream2").toString
    val remote = new MapBatchLookup(Map(
      "remote-1" -> BatchNotification("remote-1", "n", "ingest.t1.claims.in",
        "claims", Status.Started, null, null, 10, -1, -1, -1, null,
        """{"compression":"gzip"}""")))

    val running = graft.jobs.ValidationJob.start(
      s, records.toDF(), notifications.toDF(), new JsonValidator, sinks, dir,
      lookup = Some(remote),
      lookupRetry = new Retry(initialBackoffMs = 1, giveUpAfterMs = 50))
    try {
      records.addData(
        rec(0, Some("remote-1"), """{"ok":1}"""),  // resolves remotely → valid
        rec(1, Some("remote-x"), """{"ok":1}"""))  // 404 → invalid (V5)
      running.recordQuery.processAllAvailable()
      sinks.validRows.map(_.getAs[Long]("offset")) shouldBe ArrayBuffer(0L)
      sinks.invalidRows.map(_.getAs[Long]("offset")) shouldBe ArrayBuffer(1L)
      running.snapshot.get("remote-1") should not be empty
      // opaque metadata survives the remote resolve into the snapshot row
      running.snapshot.get("remote-1").map(_.getString(12)) shouldBe
        Some("""{"compression":"gzip"}""")
    } finally {
      running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  test("a poison stream of per-record unique batch ids cannot flood the driver or the lookup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new CollectingSinks
    val dir = java.nio.file.Files.createTempDirectory("vflood").toString
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val backing = new MapBatchLookup(Map(
      "legit-1" -> BatchNotification("legit-1", "n", "ingest.t1.claims.in",
        "claims", Status.Started, null, null, 10, -1, -1, -1, null, null)))
    val counting = new graft.http.BatchLookup {
      def getBatchId(t: String, b: String) = { calls.incrementAndGet(); backing.getBatchId(t, b) }
    }
    val running = graft.jobs.ValidationJob.start(
      s, records.toDF(), notifications.toDF(), new JsonValidator, sinks, dir,
      lookup = Some(counting),
      lookupRetry = new Retry(initialBackoffMs = 1, giveUpAfterMs = 50))
    try {
      val budget = ValidationStream.MaxMissLookupsPerTrigger *
        ValidationStream.MaxMissChunksPerTrigger
      // 200 records, each fabricating its own batch id: the chunk loop
      // attempts each distinct id EXACTLY once (never re-collecting ids
      // already attempted this trigger), one 64-id collect at a time
      records.addData((0 until 200).map(i =>
        rec(i.toLong, Some(s"poison-$i"), """{"ok":1}""")): _*)
      running.recordQuery.processAllAvailable()
      calls.get() shouldBe 200
      // every poison record still flows through as invalid-unknown (V5) —
      // parking is about the LOOKUP, not the record routing
      sinks.invalidRows should have size 200
      // a flood BEYOND the whole per-trigger budget parks the remainder:
      // driver memory stays chunk-bounded and the Mgmt API sees at most
      // `budget` lookups, no matter how many ids one micro-batch fabricates
      calls.set(0)
      records.addData((0 until budget + 100).map(i =>
        rec((10000 + i).toLong, Some(s"flood-$i"), """{"ok":1}""")): _*)
      running.recordQuery.processAllAvailable()
      calls.get() should be <= budget
      // a legit batch arriving DURING a flood resolves within a trigger or
      // two: each trigger's chunks drain distinct ids and the epoch-salted
      // sample reshuffles candidates, so the flood delays, never starves
      var trigger = 0
      while (running.snapshot.get("legit-1").isEmpty && trigger < 40) {
        records.addData((0 until 200).map(i =>
          rec((100000 + trigger * 300 + i).toLong,
            Some(s"poison-$trigger-$i"), """{"ok":1}""")) :+
          rec((900 + trigger).toLong, Some("legit-1"), """{"ok":1}"""): _*)
        running.recordQuery.processAllAvailable()
        trigger += 1
      }
      running.snapshot.get("legit-1") should not be empty
      // once resolved, its records route valid even mid-flood
      records.addData(rec(500L, Some("legit-1"), """{"ok":1}"""))
      running.recordQuery.processAllAvailable()
      sinks.validRows.map(_.getAs[Long]("offset")) should contain (500L)
      // and the snapshot holds only resolved control-plane entries, not the
      // fabricated flood
      running.snapshot.knownIds.filter(_.startsWith("poison-")) shouldBe empty
    } finally {
      running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  test("the anti-join pushdown branch behaves exactly like the InSet branch") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vanti").toString
    val store = new NotificationSnapshot(s, Some(dir))
    // pre-resolved control plane: these ids must never reach the lookup
    (0 until 5).foreach(i => store.put(s"known-$i", Row(
      s"known-$i", "n", "ingest.t1.claims.in", "claims", Status.Started,
      null, null, 10L, -1L, -1L, -1L, null, null)))
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val lookup = new graft.http.BatchLookup {
      def getBatchId(t: String, b: String) = {
        calls.incrementAndGet()
        new MapBatchLookup(Map.empty).getBatchId(t, b)
      }
    }
    org.apache.spark.sql.catalyst.encoders.OuterScopes.addOuterScope(this)
    val records = Seq("known-0", "known-3", "miss-1", "miss-2")
      .zipWithIndex.map { case (b, i) => rec(i.toLong, Some(b), "{}") }
      .toDF()
    // inSetMax = 0 forces the broadcast anti-join branch with a small store
    ValidationStream.resolveMisses(records, store, lookup,
      new Retry(initialBackoffMs = 1, giveUpAfterMs = 20), inSetMax = 0)
    calls.get() shouldBe 2 // the two misses; known ids pruned distributed
  }

  test("one batch id under two topics in one micro-batch is looked up exactly once") {
    val s = spark
    import s.implicits._
    org.apache.spark.sql.catalyst.encoders.OuterScopes.addOuterScope(this)
    val dir = java.nio.file.Files.createTempDirectory("vtwotopic").toString
    val store = new NotificationSnapshot(s, Some(dir))
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val lookup = new graft.http.BatchLookup {
      def getBatchId(t: String, b: String) = {
        calls.incrementAndGet()
        new MapBatchLookup(Map.empty).getBatchId(t, b)
      }
    }
    // distinct() keeps BOTH (id, topic) pairs and the hash salt keys only
    // the id, so the pairs land in the same chunk — the foreach guard is
    // what keeps the lookup exactly-once
    val records = Seq(
      rec(0L, Some("dup-1"), "{}", topic = "ingest.t1.claims.in"),
      rec(1L, Some("dup-1"), "{}", topic = "ingest.t2.claims.in")).toDF()
    ValidationStream.resolveMisses(records, store, lookup,
      new Retry(initialBackoffMs = 1, giveUpAfterMs = 20))
    calls.get() shouldBe 1
  }

  test("a lookup answer with no id or another id cannot poison the snapshot") {
    val s = spark
    import s.implicits._
    org.apache.spark.sql.catalyst.encoders.OuterScopes.addOuterScope(this)
    val dir = java.nio.file.Files.createTempDirectory("vnullid").toString
    val store = new NotificationSnapshot(s, Some(dir))
    def answer(id: String) = BatchNotification(id, "n", "ingest.t1.claims.in", "claims",
      Status.Started, null, null, 10, -1, -1, -1, null, null)
    // an id-less body parses to a null id
    val lookup = new MapBatchLookup(Map(
      "bad" -> answer(null), "wrong" -> answer("someone-else"), "good" -> answer("good")))
    val retry = new Retry(initialBackoffMs = 1, giveUpAfterMs = 20)
    ValidationStream.resolveMisses(
      Seq(rec(0L, Some("bad"), "{}"), rec(1L, Some("wrong"), "{}")).toDF(), store, lookup, retry)
    store.knownIds shouldBe empty
    // a null among the known ids made the miss scan's NOT IN drop every
    // candidate, so a later unannounced batch never resolved
    ValidationStream.resolveMisses(Seq(rec(2L, Some("good"), "{}")).toDF(), store, lookup, retry)
    store.knownIds shouldBe Set("good")

    // a journal that already holds a null id reloads without it
    val journal = java.nio.file.Files.createTempDirectory("vnulljournal").toString
    s.createDataFrame(java.util.Arrays.asList(Row.fromTuple(answer(null)),
      Row.fromTuple(answer("b1"))), graft.model.Schemas.batchNotification)
      .write.parquet(s"$journal/snapshot-v0.parquet")
    new NotificationSnapshot(s, Some(journal)).knownIds shouldBe Set("b1")
  }

  test("the miss-scan chunk equals a plain-Scala distinct, hash-ordered take, in one narrow job") {
    val s = spark
    import s.implicits._
    // 3 partitions: "spread" and "two-topic" have records in every one,
    // "two-topic" under t1 in one and t2 in the others; m-* ids repeat
    val t1 = "ingest.t1.claims.in"
    val t2 = "ingest.t2.claims.in"
    val parts = (0 until 3).map(p =>
      (0 until 30).filter(_ % 3 == p).flatMap(i => Seq.fill(1 + i % 2)((s"m-$i", t1))) ++
        Seq(("spread", t1), ("two-topic", if (p == 0) t1 else t2)))
    val pairs = s.sparkContext.parallelize(parts, 3).flatMap(identity)
      .toDF("batch_id", "topic")
    pairs.rdd.getNumPartitions shouldBe 3
    val rows = parts.flatten
    val distinctPairs = rows.distinct
    distinctPairs should have size 33
    def hash(id: String, salt: Long): Long =
      new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(id),
        org.apache.spark.sql.catalyst.expressions.Literal(salt)))
        .eval().asInstanceOf[Long]
    for (salt <- Seq(0L, 7L); cap <- Seq(1, 5, 32, 33, 34, 64)) {
      // the two pairs of one id share a hash; id then topic break the tie
      val referee = distinctPairs
        .sortBy { case (id, topic) => (hash(id, salt), id, topic) }
        .take(cap)
      val group = s"miss-referee-$salt-$cap"
      s.sparkContext.setJobGroup(group, group)
      val chunk = try ValidationStream.lowestHashPairs(pairs, salt, cap)
        finally s.sparkContext.clearJobGroup()
      withClue(s"salt=$salt cap=$cap: ") {
        chunk shouldBe referee
        // resolveMisses' drained rule: a short chunk means an exhaustive scan
        (chunk.size < cap) shouldBe (distinctPairs.size < cap)
        val jobs = s.sparkContext.statusTracker.getJobIdsForGroup(group).toSeq
        jobs should have size 1
        s.sparkContext.statusTracker.getJobInfo(jobs.head).get.stageIds() should
          have size 1
      }
    }
  }

  test("a restart backlog of >64 legitimate new batches resolves fully in one trigger") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val records = MemoryStream[Rec]
    val notifications = MemoryStream[String]
    val sinks = new CollectingSinks
    val dir = java.nio.file.Files.createTempDirectory("vburst").toString
    // 100 legitimate batches, all resolvable remotely — the
    // replay-the-backlog-as-one-micro-batch shape after downtime. A
    // single-chunk cap mis-routed every batch past the 64th to the invalid
    // sink permanently (offsets commit); the chunk loop must drain them all
    val n = 100
    val backing = new MapBatchLookup((0 until n).map(i =>
      s"burst-$i" -> BatchNotification(s"burst-$i", "n", "ingest.t1.claims.in",
        "claims", Status.Started, null, null, 10, -1, -1, -1, null, null)).toMap)
    val running = graft.jobs.ValidationJob.start(
      s, records.toDF(), notifications.toDF(), new JsonValidator, sinks, dir,
      lookup = Some(backing),
      lookupRetry = new Retry(initialBackoffMs = 1, giveUpAfterMs = 50))
    try {
      records.addData((0 until n).map(i =>
        rec(i.toLong, Some(s"burst-$i"), """{"ok":1}""")): _*)
      running.recordQuery.processAllAvailable()
      sinks.invalidRows shouldBe empty
      sinks.validRows should have size n
      (0 until n).foreach(i =>
        running.snapshot.get(s"burst-$i") should not be empty)
    } finally {
      running.recordQuery.stop(); running.notificationQuery.stop()
    }
  }

  test("a malformed notification message cannot crash-loop the control plane") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("vpoison").toString
    val store = new NotificationSnapshot(s, None)
    val notifications = MemoryStream[String]
    val nq = ValidationStream.startNotificationQuery(
      notifications.toDF().toDF("value"), store, dir)
    try {
      // garbage JSON (from_json → null struct), valid JSON with no id, and a
      // real notification interleaved: the query must survive the poison
      // messages (checkpoint replay would re-feed them on every restart) and
      // still land the real one
      notifications.addData("{not json at all", """{"status":"started"}""",
        """{"id":"b-ok","status":"started"}""")
      nq.processAllAvailable()
      store.get("b-ok").map(_.getAs[String]("status")) shouldBe Some("started")
      nq.isActive shouldBe true
    } finally nq.stop()
    // the direct-upsert path skips null-id rows too (TrieMap NPEs on a null
    // key), for callers feeding update() outside the filtered query
    store.update(Seq((null: String, Status.Started), ("b2", Status.Started))
      .toDF("id", "status")
      .select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct($"id", $"status")).as("v"))
      .select(org.apache.spark.sql.functions.from_json($"v",
        graft.model.Schemas.batchNotification).as("n"))
      .select($"n.*"))
    store.get("b2").map(_.getAs[String]("status")) shouldBe Some(Status.Started)
  }

  test("the snapshot broadcast is a local relation") {
    val s = spark
    val store = new NotificationSnapshot(s, None)
    store.put("b1", Row("b1", "n", "ingest.t1.claims.in", "claims", Status.Started,
      null, null, 10, -1, -1, -1, null, null))
    val snap = store.snapshot()
    // a LocalRelation needs no Spark job to broadcast, unlike an RDD scan
    snap.queryExecution.analyzed shouldBe a[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    snap.collect().map(_.getAs[String]("id")) shouldBe Array("b1")
  }

  test("snapshot persists across restart (journal + reload)") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("vsnap").toString
    val store = new NotificationSnapshot(s, Some(dir))
    import s.implicits._
    store.update(Seq(("b1", Status.Started)).toDF("id", "status")
      .select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct($"id", $"status")).as("v"))
      .select(org.apache.spark.sql.functions.from_json($"v",
        graft.model.Schemas.batchNotification).as("n"))
      .select($"n.*"))
    val reloaded = new NotificationSnapshot(s, Some(dir))
    reloaded.get("b1").map(_.getAs[String]("status")) shouldBe Some(Status.Started)
  }
}
