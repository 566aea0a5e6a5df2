package graft.streaming

import graft.http.{BatchLookup, RequestException, Retry}
import graft.model.Schemas
import graft.topics.Topics
import graft.validation.{ValidationEngine, Validator}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

/** Driver-held latest-per-batch notification snapshot — the SS re-expression of
  * Flink broadcast state (reference BaseValidationJob.scala:291-295, writes at
  * ValidationProcessFunction.scala:215-224; design SURVEY.md §7.4).
  *
  * Flink pushes every notification to every validation subtask; Structured
  * Streaming has no broadcast stream, so the notification query compacts
  * last-write-wins into this store, and each record micro-batch joins against
  * `broadcast(snapshot)` — batch cardinality is small by design (reference
  * README:28), so the broadcast is a few KB and the record plane never shuffles.
  *
  * Recovery: the store journals itself to a versioned `<dir>/snapshot-v<N>.parquet`
  * after each update epoch (write-new-then-delete-old, `_SUCCESS`-gated, so a crash
  * mid-write never loses the last complete snapshot) and reloads the latest
  * complete version on construction, so a restarted job sees every batch status
  * already applied (the upstream topic is compacted in production anyway).
  */
class NotificationSnapshot(spark: SparkSession, persistDir: Option[String]) extends Serializable {

  private val byId = scala.collection.concurrent.TrieMap.empty[String, Row]
  private val journalVersion = new java.util.concurrent.atomic.AtomicLong(-1L)

  private def fs = new org.apache.hadoop.fs.Path(persistDir.get)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Journal dirs are versioned (`snapshot-v<N>.parquet`); a version counts only
    * once Spark's `_SUCCESS` marker exists, so a crash mid-write can never lose an
    * older complete snapshot — the previous version is deleted only AFTER the new
    * one is fully committed. */
  private def journalVersions(dir: String): Seq[(Long, org.apache.hadoop.fs.Path)] =
    fs.globStatus(new org.apache.hadoop.fs.Path(dir, "snapshot-v*.parquet"))
      .toSeq.map(_.getPath)
      .flatMap { p =>
        val v = p.getName.stripPrefix("snapshot-v").stripSuffix(".parquet")
        v.toLongOption.filter(_ =>
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))).map(_ -> p)
      }.sortBy(_._1)

  persistDir.flatMap(journalVersions(_).lastOption).foreach { case (v, p) =>
    journalVersion.set(v)
    spark.read.parquet(p.toString).collect().foreach { r =>
      val id = r.getAs[String]("id")
      if (id != null) byId(id) = r
    }
  }

  /** Last-write-wins upsert of a notification micro-batch (V2). Rows must carry
    * Schemas.batchNotification columns; null-id rows (malformed upstream JSON)
    * are skipped. A TrieMap takes a null key, and a null in [[knownIds]]
    * would turn the miss scan's `NOT IN` null for every candidate, so no
    * unannounced batch would ever be looked up again. */
  def update(notifications: DataFrame): Unit = {
    val rows = notifications.collect().filter(_.getAs[String]("id") != null)
    if (rows.nonEmpty) {
      rows.foreach(r => byId(r.getAs[String]("id")) = r)
      persistDir.foreach { dir =>
        val v = journalVersion.incrementAndGet()
        snapshot().write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(dir, s"snapshot-v$v.parquet").toString)
        // new version is complete (_SUCCESS written) — drop the superseded ones
        journalVersions(dir).filter(_._1 < v).foreach(old => fs.delete(old._2, true))
      }
    }
  }

  def get(id: String): Option[Row] = byId.get(id)

  /** Driver-held known-id set — control-plane bounded by construction (it IS
    * the snapshot). Lets the miss scan drop known ids DISTRIBUTED, so they
    * can never consume the per-trigger miss budget. */
  def knownIds: Set[String] = byId.keySet.toSet

  /** Direct upsert (remote-lookup path). The id is explicit because rows built
    * positionally (`Row.fromTuple`) carry no schema for name-based access. */
  def put(id: String, row: Row): Unit = byId(id) = row

  /** The snapshot as a `LocalRelation` over the in-memory rows: the
    * per-trigger `broadcast(snapshot)` is built from them without launching
    * a Spark job. */
  def snapshot(): DataFrame =
    spark.createDataFrame(byId.values.toSeq.asJava, Schemas.batchNotification)
}

/** Per-micro-batch sinks for the three validation outputs (K1/K2 + counts handoff).
  * Production binds Kafka writers; tests bind collectors. */
trait ValidationSinks extends Serializable {
  def valid(df: DataFrame, epochId: Long): Unit
  def invalid(df: DataFrame, epochId: Long): Unit
  def counts(df: DataFrame, epochId: Long): Unit
}

/** The streaming validation job — the SS twin of the reference DAG's first half
  * (BaseValidationJob.scala:165-197): notification source → snapshot state;
  * record source → V1-V11 single-pass validation → valid/invalid/counts outputs.
  *
  * Two coordinated queries (SURVEY.md §7.4):
  *  - the '''notification query''' compacts the control stream into
  *    [[NotificationSnapshot]] (parallelism-1 semantics for free: the store is
  *    driver-side, exactly like the reference's forced parallelism 1,
  *    BaseValidationJob.scala:170);
  *  - the '''record query''' validates each micro-batch against
  *    `broadcast(snapshot)`, with the V3 miss path resolved driver-side through a
  *    bounded-retry [[BatchLookup]] (never on a task thread — SURVEY.md §7.5; the
  *    reference blocks the operator thread up to 24 h, which would stall a
  *    micro-batch trigger here).
  *
  * Cross-stream ordering: a record can reach the join before its batch's
  * notification has been applied — the same eventual-consistency window the
  * reference has between its two Kafka consumers (mitigated there by
  * fetch.max.wait tuning, BaseValidationJob.scala:79-81); the remote-lookup
  * fallback and the V5/V7/T8 state machine absorb it identically.
  */
object ValidationStream {

  /** Raw notification JSON (a Kafka-shaped `value` column) as
    * Schemas.batchNotification columns — the parse the snapshot query and the
    * tracker share. Poison-message guard: malformed or id-less JSON yields a
    * null id, which would fail the micro-batch and CRASH-LOOP the control
    * plane (the checkpoint replays the same message on every restart); every
    * consumer keys on the id, so such a message is dropped. */
  def parseNotifications(notifications: DataFrame): DataFrame =
    notifications
      .select(from_json(col("value").cast("string"), Schemas.batchNotification).as("n"))
      .select(col("n.*"))
      .filter(col("id").isNotNull)

  /** Start the notification-compaction query `graft-notifications`, back to
    * back (`ProcessingTime(0)`) so control outruns data. `notifications` must
    * be a streaming DataFrame of raw JSON `value` bytes/strings (Kafka shape). */
  def startNotificationQuery(
      notifications: DataFrame,
      store: NotificationSnapshot,
      checkpointDir: String): StreamingQuery =
    parseNotifications(notifications)
      .writeStream
      .queryName("graft-notifications")
      .option("checkpointLocation", s"$checkpointDir/graft-notifications")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (df: DataFrame, _: Long) => store.update(df) }
      .start()

  /** Start the record-validation query `graft-records` over a streaming
    * DataFrame in Schemas.hriRecord shape.
    *
    * It runs on a 1 s processing-time cadence: the reference checkpoints
    * every 1 s and commits its exactly-once Kafka transactions on that
    * checkpoint (BaseValidationJob.scala:361-396), and each epoch here is
    * likewise one exactly-once transaction. The cadence also fixes what a
    * trigger's fixed cost (its Spark jobs, the snapshot broadcast, the miss
    * scan, the sinks' commits) costs per record. Under `ProcessingTime(0)`
    * the next trigger starts as soon as one finishes, so a cheaper trigger
    * only makes the loop fire more often: on a 4-core host at 480 rec/s
    * (perfbench `stream_steady`, seeds 101-103), the one-job miss scan, the
    * job-free snapshot and the width-1 changelog tracker without this
    * cadence raised record triggers from 33-39 to 47-63 per 30 s window and
    * left CPU per record flat (3.13-3.26 → 2.99-3.15 ms); with it, CPU per
    * record fell by a quarter. */
  def startRecordQuery(
      records: DataFrame,
      store: NotificationSnapshot,
      validator: Validator,
      sinks: ValidationSinks,
      checkpointDir: String,
      lookup: Option[BatchLookup] = None,
      lookupRetry: Retry = new Retry(initialBackoffMs = 100, giveUpAfterMs = 2000)
      ): StreamingQuery =
    records.writeStream
      .queryName("graft-records")
      .option("checkpointLocation", s"$checkpointDir/graft-records")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        val spark = df.sparkSession
        // the micro-batch is scanned twice ONLY on the remote-lookup path
        // (miss scan + validate); without a lookup, validate is its single
        // consumer and a persist would be pure per-trigger cache churn on
        // the hot path (validated's own persist covers the 3-way fan-out)
        val scannedTwice = lookup.nonEmpty
        if (scannedTwice) df.persist()
        try {
          // V3 miss path: resolve snapshot misses remotely, bounded, driver-side.
          lookup.foreach(resolveMisses(df, store, _, lookupRetry, epochId))
          val validated =
            ValidationEngine.validate(df, store.snapshot(), validator).persist()
          try {
            sinks.valid(ValidationEngine.validOutput(validated), epochId)
            sinks.invalid(ValidationEngine.invalidOutput(validated), epochId)
            sinks.counts(ValidationEngine.countsOutput(validated), epochId)
          } finally validated.unpersist()
        } finally if (scannedTwice) df.unpersist()
      }
      .start()

  /** Per-trigger ceiling on the miss scan: at most this many distinct
    * (batch id, topic) pairs are collected to the driver and resolved
    * remotely in one micro-batch. In good faith the distinct-miss set is
    * control-plane bounded, but that bound held only by convention — a
    * poisoned stream fabricating a unique batch id PER RECORD would collect
    * record-cardinality strings to the driver (and hammer the Mgmt API with
    * one lookup each). Pairs beyond the cap stay unresolved this epoch —
    * their records go invalid-unknown exactly like a 5xx-exhausted lookup —
    * and re-enter the scan on the batch's next record, once the known-id
    * pushdown has excluded everything already resolved. */
  private[streaming] val MaxMissLookupsPerTrigger: Int = 64

  /** Chunks of [[MaxMissLookupsPerTrigger]] resolved per trigger before the
    * remainder parks: the TOTAL per-trigger lookup budget is chunk × cap
    * (= 1024). A restart replaying its whole backlog as one micro-batch can
    * legitimately carry hundreds of distinct new batch ids — a single-chunk
    * cap permanently mis-routed every batch past the 64th to the invalid
    * sink (their offsets commit; only FUTURE records of those batches would
    * recover), while the chunk loop drains any legitimate burst and still
    * bounds both driver memory (one chunk collected at a time) and the Mgmt
    * API fan-out under a fabricated-id flood. */
  private[streaming] val MaxMissChunksPerTrigger: Int = 16

  /** Past this snapshot size the known-id pushdown switches from an InSet
    * literal (codegen'd, but serialized into every task closure each
    * trigger) to a broadcast LEFT-ANTI join — one build per trigger shared
    * across tasks, so a long-lived job's ever-growing control plane (the
    * snapshot never evicts, matching the reference's broadcast state) stops
    * taxing per-task serialization on the record hot path. */
  private[streaming] val InSetPushdownMax: Int = 1024

  /** Resolve the micro-batch's distinct batch ids missing from the snapshot
    * through the lookup SPI, in chunks of [[MaxMissLookupsPerTrigger]] up to
    * [[MaxMissChunksPerTrigger]] per trigger: found → snapshot upsert; 404 →
    * stays unknown (record goes invalid, reference
    * ValidationProcessFunction.scala:100-112); other 4xx → fail the query
    * (client bug, reference :183-188); 5xx/transport → bounded retries
    * within the trigger, then unknown this epoch and retried on the batch's
    * next record. Known ids are filtered DISTRIBUTED (InSet or broadcast
    * anti-join past [[InSetPushdownMax]]) so the resolved control plane can
    * never eat the budget; ids already attempted this trigger (404s,
    * exhausted retries) are excluded from later chunks, so the loop always
    * terminates — a chunk that comes back empty means every distinct miss
    * was attempted.
    *
    * Each chunk is an EPOCH-SALTED hash sample, not a bare limit(): a bare
    * limit takes whichever partitions arrive first, a deterministic bias —
    * under a SUSTAINED flood of fabricated ids (each 404s, so the known-id
    * pushdown never learns them) the same flood pairs could fill the budget
    * every trigger and starve a legitimate new batch indefinitely. Ordering
    * by xxhash64(batch_id, epoch) reshuffles the sample every trigger
    * (see [[lowestHashPairs]]: one narrow job, no shuffle), so a legitimate
    * id among F flood ids is selected with probability ~budget/F per
    * trigger and resolves in a geometric number of triggers — delay, never
    * starvation. */
  private[streaming] def resolveMisses(records: DataFrame, store: NotificationSnapshot,
      lookup: BatchLookup, retry: Retry, epochId: Long = 0L,
      inSetMax: Int = InSetPushdownMax): Unit = {
    val attempted = scala.collection.mutable.HashSet.empty[String]
    var chunk = 0
    var drained = false
    while (chunk < MaxMissChunksPerTrigger && !drained) {
      val known = store.knownIds ++ attempted
      val base = records
        .select(ValidationEngine.extractBatchId(col("headers")).as("batch_id"),
          col("topic"))
        .filter(col("batch_id").isNotNull)
      val unknownOnly =
        if (known.size <= inSetMax)
          base.filter(!col("batch_id").isInCollection(known))
        else {
          val session = records.sparkSession
          import session.implicits._
          base.join(broadcast(known.toSeq.toDF("batch_id")),
            Seq("batch_id"), "left_anti")
        }
      val raw = lowestHashPairs(unknownOnly, epochId, MaxMissLookupsPerTrigger)
      // drained is decided from the PRE-filter count: a chunk returning
      // fewer rows than the cap is provably exhaustive. Deciding from the
      // post-filter survivors was WRONG twice over — the concurrent
      // notification query mutates the snapshot between the knownIds read
      // and this collect, so a chunk whose ids all just resolved would
      // empty the post-filter set and abandon every remaining miss; and
      // the steady-state 1-chunk path paid a second full distributed probe
      // job just to observe emptiness the count already proves
      if (raw.length < MaxMissLookupsPerTrigger) drained = true
      // `chunk` counts loop iterations (each is one distributed collect +
      // ≤ cap lookups), so the trigger budget bounds BOTH costs even when
      // a chunk's survivors were concurrently resolved to nothing
      chunk += 1
      raw.foreach { case (batchId, topic) =>
        // the same id can arrive under TWO topics in one micro-batch
        // (the chunk is distinct over the pair; the hash salt keys the id,
        // so both sit side by side in the order) — the guard keeps the
        // exactly-once-per-id contract the specs pin
        if (store.get(batchId).isEmpty && !attempted(batchId)) {
          attempted += batchId
          val tenant = scala.util.Try(Topics.tenantId(topic)).getOrElse("unknown")
          try {
            val n = retry.run(lookup.getBatchId(tenant, batchId).get)
            // an answer about another id, or an id-less body, counts as a
            // 404 for this epoch
            if (n.id == batchId) store.put(batchId, Row.fromTuple(n))
          } catch {
            case RequestException(404, _) => // stays unknown → invalid (V5)
            case e @ RequestException(s, _) if s >= 400 && s <= 499 => throw e
            // NonFatal ONLY (RestartSupervisor's doctrine): an OOM or an
            // interrupt during driver shutdown must propagate, not be shrugged
            // off while the loop keeps issuing lookups on corrupted state
            case scala.util.control.NonFatal(_) =>
            // retries exhausted this trigger; next trigger re-tries
          }
        }
      }
    }
  }

  /** Miss-scan selection order: the epoch-salted hash, then id and topic,
    * so the pick is a total order (pairs of one id share a hash). A null
    * topic sorts first. */
  private val MissOrder: Ordering[(Long, String, String)] =
    Ordering.by((t: (Long, String, String)) => (t._1, t._2, Option(t._3)))

  /** The `cap` distinct (batch_id, topic) pairs of `pairs` lowest in
    * [[MissOrder]] under `xxhash64(batch_id, salt)`, in that order — the
    * same chunk as `distinct().orderBy(hash).limit(cap)`, in ONE narrow job
    * instead of a shuffle and two jobs: each partition keeps its lowest
    * `cap` distinct pairs in O(cap) memory, and the collected lists are
    * merged to the lowest `cap` overall. Every globally-lowest pair is
    * among its own partition's lowest `cap`, so the merge is exact; and a
    * result shorter than `cap` means no partition hit its cap, so the scan
    * was exhaustive. */
  private[streaming] def lowestHashPairs(pairs: DataFrame, salt: Long,
      cap: Int): Seq[(String, String)] = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    val perPartition = pairs
      .select(xxhash64(col("batch_id"), lit(salt)), col("batch_id"), col("topic"))
      .as(enc)
      .mapPartitions(lowest(_, cap))(enc)
      .collect()
    lowest(perPartition.iterator, cap).map(t => (t._2, t._3)).toSeq
  }

  /** The `cap` distinct keys of `keys` lowest in [[MissOrder]], ascending. */
  private def lowest(keys: Iterator[(Long, String, String)],
      cap: Int): Iterator[(Long, String, String)] = {
    val kept = new java.util.TreeSet[(Long, String, String)](MissOrder)
    keys.foreach { k =>
      if (kept.size < cap) kept.add(k)
      else if (MissOrder.lt(k, kept.last) && kept.add(k)) kept.pollLast()
    }
    kept.iterator.asScala
  }
}
