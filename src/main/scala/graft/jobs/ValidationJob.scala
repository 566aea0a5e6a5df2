package graft.jobs

import graft.http.{BatchLookup, MgmtClient, Retry}
import graft.model.{BatchNotification, CountsDelta}
import graft.streaming._
import graft.topics.Topics
import graft.validation.{JsonValidator, Validator}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Job builder — the engine's `BaseValidationJob` twin
  * (reference BaseValidationJob.scala:56-219): derive sibling topics from the
  * input topic, wire sources → validation → sinks → tracker → terminal sink, and
  * start the coordinated streaming queries.
  *
  * One wiring behind the reference's three constructors: [[start]] runs the
  * queries for every caller.
  *  - production (`:87-104`): [[startKafka]] builds Kafka endpoints and a Mgmt
  *    API terminal sink, then calls [[start]];
  *  - no-Mgmt-API (`:106-113`, the standalone CLI): the same, with terminal
  *    notifications written straight back to the `*.notification` topic;
  *  - test-injected (`:128-146`): the specs call [[start]] with MemoryStream
  *    sources and collecting sinks.
  *
  * Operational envelope adopted from the reference (BASELINE.md): 1 s trigger
  * cadence (checkpoint interval `:367`), zstd + bounded batch sizes on the Kafka
  * producers (`:330-347`), 7-day state TTL (in TrackerProcessor), bounded remote
  * lookup instead of a 24 h operator-thread block (SURVEY.md §7.5).
  *
  * The 1 s cadence is the record query's fixed trigger
  * ([[ValidationStream.startRecordQuery]]) and the tracker query's trigger;
  * the notification query runs back to back so control outruns data. The
  * reference commits its exactly-once transactions on each 1 s checkpoint;
  * here each record epoch is one such transaction. A back-to-back record
  * query fires again as soon as a trigger ends, so cutting per-trigger cost
  * buys more triggers, not less CPU: on a 4-core host at 480 rec/s, this
  * engine's per-trigger cuts alone took a 30 s window from 33-39 to 47-63
  * record triggers with CPU per record flat (details at
  * [[ValidationStream.startRecordQuery]]).
  */
object ValidationJob {

  /** Kafka source options for the record stream (S1) — byte passthrough with
    * headers, exactly the Schemas.hriRecord shape
    * (reference BaseValidationJob.scala:230-236). */
  def kafkaRecordSource(spark: SparkSession, brokers: String, inputTopic: String,
      extra: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", Topics.validate(inputTopic))
      .option("includeHeaders", "true")
      .option("startingOffsets", "earliest")
      .option("kafka.fetch.max.wait.ms", "500")
      .options(extra)
      .load()
      .select(col("key"), col("value"), col("headers"), col("topic"),
        col("partition"), col("offset"))

  /** Kafka source for the notification control stream (S2). The reference forces
    * parallelism 1 + low fetch wait so control outruns data
    * (BaseValidationJob.scala:165-170,79-81); here the snapshot store is
    * driver-side, so single-writer semantics hold regardless. */
  def kafkaNotificationSource(spark: SparkSession, brokers: String,
      inputTopic: String, extra: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", Topics.notificationTopic(inputTopic))
      .option("startingOffsets", "earliest")
      .option("kafka.fetch.max.wait.ms", "150")
      .options(extra)
      .load()

  /** SASL_SSL client properties, built exactly when an Event-Streams-style API
    * key password is provided (reference BaseValidationJob.scala:318-327). The
    * password is JAAS-escaped — a `"` or `\` in an API key must not corrupt the
    * config line (the same corruption class the OAuth form encoding guards).
    * The reference's `auto.offset.reset=latest` has no direct Kafka-option twin
    * in Structured Streaming (the source owns offsets; use `startingOffsets`),
    * so it is intentionally not set here. Shared by consumers AND producers. */
  def kafkaSaslOptions(password: Option[String]): Map[String, String] =
    password.fold(Map.empty[String, String]) { pw =>
      val esc = pw.replace("\\", "\\\\").replace("\"", "\\\"")
      Map(
        "kafka.sasl.jaas.config" ->
          ("org.apache.kafka.common.security.plain.PlainLoginModule required " +
            s"""username="token" password="$esc";"""),
        "kafka.security.protocol" -> "SASL_SSL",
        "kafka.sasl.mechanism" -> "PLAIN",
        "kafka.ssl.protocol" -> "TLSv1.2",
        "kafka.ssl.enabled.protocols" -> "TLSv1.2",
        "kafka.ssl.endpoint.identification.algorithm" -> "HTTPS")
    }

  /** Consumer group id per SOURCE role. The record source carries the
    * reference's exact `hri-validation-<in>-<out>` id
    * (BaseValidationJob.scala:330); the other sources suffix their role —
    * concurrent Spark queries must never share one group id (partition
    * assignment would split a topic between them under group-based offset
    * fetching), and a consumer-only property has no business on a producer. */
  def kafkaGroupId(inputTopic: String, role: String = "records"): Map[String, String] = {
    val base = s"hri-validation-$inputTopic-${Topics.outputTopic(inputTopic)}"
    Map("kafka.group.id" -> (if (role == "records") base else s"$base-$role"))
  }

  /** Kafka producer options shared by all producers — zstd, 16 KB batches, 10 MB
    * max request, 15 min transaction timeout (reference
    * BaseValidationJob.scala:330-347; the 1 MB Event Streams message cap is the
    * why). The data topics are exactly-once ([[transactionalKafkaSinks]]); the
    * terminal sink is at-least-once: a replayed tracker epoch repeats a T8
    * notification, which the 409-tolerant API sink and last-write-wins
    * compaction absorb (SURVEY.md §7.6). */
  val kafkaProducerOptions: Map[String, String] = Map(
    "kafka.compression.type" -> "zstd",
    "kafka.batch.size" -> "16384",
    "kafka.max.request.size" -> "10485760",
    "kafka.transaction.timeout.ms" -> "900000")

  /** K1/K2 with EXACTLY-ONCE delivery — SURVEY §7.6 option (c), the twin of
    * the reference's `Semantic.EXACTLY_ONCE` FlinkKafkaProducer
    * (BaseValidationJob.scala:252-268): every record epoch is published
    * through [[TransactionalEpochSink]] — per-(epoch, partition)
    * transactions under stable `transactional.id`s, a commit marker in the
    * same transaction, replayed epochs skipping already-committed partitions
    * — so a read-committed consumer of `*.out` / `*.invalid` sees each
    * record exactly once across any number of foreachBatch replays. Counts
    * stay on the idempotent journal handoff (option b), which already has
    * that guarantee in-job.
    *
    * `factory` defaults to the real broker binding; specs inject
    * [[InMemoryTxnFactory]]. The marker topic is a derived sibling
    * (`<base>.txn-markers`) — an EXTENSION, not a reference topic: the
    * reference keeps transaction state broker-side via Flink's checkpoint
    * 2PC, which Spark does not expose, so the marker topic is where this
    * engine parks the same commit bookkeeping. Size it by `retention.ms`
    * (see [[TransactionalEpochSink]]). */
  def transactionalKafkaSinks(brokers: String, inputTopic: String,
      countsHandoff: (DataFrame, Long) => Unit,
      extra: Map[String, String] = Map.empty,
      factory: Option[TxnProducerFactory] = None): ValidationSinks = new ValidationSinks {
    private val f = factory.getOrElse(
      KafkaTxnProducerFactory(brokers, kafkaProducerOptions ++ extra))
    private val markers = Topics.outputTopic(inputTopic)
      .stripSuffix(".out") + ".txn-markers"
    // the FULL input topic scopes the transactional.id namespace — two jobs
    // on different topics of one tenant must never fence each other
    private val txnBase = s"hri-validation-$inputTopic"
    def valid(df: DataFrame, epochId: Long): Unit =
      TransactionalEpochSink.write(validRecordProjection(df),
        Topics.outputTopic(inputTopic), markers, s"$txnBase-out", epochId, f)
    def invalid(df: DataFrame, epochId: Long): Unit =
      TransactionalEpochSink.write(invalidRecordProjection(df),
        Topics.invalidTopic(inputTopic), markers, s"$txnBase-invalid", epochId, f)
    def counts(df: DataFrame, epochId: Long): Unit = countsHandoff(df, epochId)
  }

  /** D3 — valid-record Kafka projection: key/value/headers byte passthrough
    * (reference HriRecordSerializer.scala:21-44 — null key, null value, null or
    * empty headers, and any UTF-8 payload must all round-trip untouched). */
  def validRecordProjection(df: DataFrame): DataFrame =
    df.select(col("key"), col("value"), col("headers"))

  /** D5 — invalid-record Kafka projection: JSON body + batchId echoed as a
    * message header, null key (reference InvalidRecordSerializer.scala:21-44);
    * a null batchId yields null headers, and the JSON body is UTF-8 so non-ASCII
    * failure text survives byte-exact. */
  def invalidRecordProjection(df: DataFrame): DataFrame =
    df.select(
      lit(null).cast("binary").as("key"),
      encode(to_json(struct(df.columns.toIndexedSeq.map(col): _*)), "UTF-8").as("value"),
      when(col("batchId").isNotNull,
        array(struct(lit("batchId").as("key"),
          encode(col("batchId"), "UTF-8").as("value"))))
        .as("headers"))

  /** Terminal-notification Kafka projection (no-Mgmt-API mode, reference
    * BaseValidationJob.scala:273-286): null key, UTF-8 JSON value, read back
    * from the `*.notification` topic by [[ValidationStream.parseNotifications]]. */
  def terminalNotificationProjection(df: DataFrame): DataFrame =
    df.select(lit(null).cast("binary").as("key"),
      encode(to_json(struct(col("*"))), "UTF-8").as("value"))

  /** Per-record counts (`batchId`, `isValid`) as one
    * [[graft.model.CountsDelta]]-shaped row per batch. */
  def countsDeltas(counts: DataFrame): DataFrame =
    counts.groupBy(col("batchId")).agg(
      sum(when(col("isValid"), 1L).otherwise(0L)).as("validDelta"),
      sum(when(col("isValid"), 0L).otherwise(1L)).as("invalidDelta"))

  /** Idempotent counts handoff: pre-aggregate the epoch's per-record counts to
    * one `(batchId, validDelta, invalidDelta)` row per batch, and journal them to
    * a DETERMINISTIC single file `epoch-<id>.parquet`. `foreachBatch` is
    * at-least-once — a replayed epoch sees its file already present and skips, so
    * counts are never double-applied (the reference gets the same guarantee from
    * Flink's exactly-once checkpointed shuffle, BaseValidationJob.scala:367-370).
    * Pre-aggregation also shrinks the handoff from record volume to live-batch
    * cardinality — at 100 TB the journal stays KB-sized per epoch. A write that
    * leaves no `epoch-*` file throws, so `foreachBatch` retries the epoch
    * instead of committing counts the tracker never sees. */
  private[jobs] def countsHandoff(countsDir: String)(df: DataFrame, epochId: Long): Unit = {
    val target = new org.apache.hadoop.fs.Path(countsDir, f"epoch-$epochId%020d.parquet")
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) return // replayed epoch — already journaled
    val agg = countsDeltas(df)
    // single part file so the write+rename is one atomic visibility event for the
    // tailing file source (dot-prefixed temp dirs are invisible to it)
    val tmp = new org.apache.hadoop.fs.Path(countsDir, s".tmp-epoch-$epochId")
    agg.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(tmp, "part-*"))
    if (parts.isEmpty || !fs.rename(parts.head.getPath, target))
      throw new java.io.IOException(
        s"counts handoff: epoch $epochId's deltas did not reach $target")
    fs.delete(tmp, true)
  }

  /** Everything a running job exposes. */
  case class Running(
      recordQuery: StreamingQuery,
      notificationQuery: StreamingQuery,
      trackerQuery: Option[StreamingQuery],
      snapshot: NotificationSnapshot)

  /** The tracker [[start]] runs when given one: the [[countsHandoff]] journal
    * in `countsDir` ⊎ `notifications` → [[TrackerProcessor.track]] →
    * `terminal` (at-least-once), on a 1 s trigger. `notifications` (raw JSON
    * `value` column) must be built on [[TrackerProcessor.controlPlaneSession]]:
    * the journal source and the query run on its session. */
  case class TrackerPlane(
      notifications: DataFrame,
      countsDir: String,
      terminal: (Dataset[BatchNotification], Long) => Unit,
      completionDelayMs: Long)

  /** Start the notification query, the record query and, given a
    * [[TrackerPlane]], the tracker. `records` must be a streaming DataFrame in
    * Schemas.hriRecord shape; `notifications` a streaming DataFrame with a
    * `value` column of notification JSON. */
  def start(
      spark: SparkSession,
      records: DataFrame,
      notifications: DataFrame,
      validator: Validator,
      sinks: ValidationSinks,
      checkpointDir: String,
      lookup: Option[BatchLookup] = None,
      lookupRetry: Retry = new Retry(initialBackoffMs = 100, giveUpAfterMs = 2000),
      tracker: Option[TrackerPlane] = None): Running = {
    val store = new NotificationSnapshot(spark, Some(checkpointDir))
    startingTogether { started =>
      val nq = started(
        ValidationStream.startNotificationQuery(notifications, store, checkpointDir))
      val rq = started(ValidationStream.startRecordQuery(
        records, store, validator, sinks, checkpointDir, lookup, lookupRetry))
      val tq = tracker.map(t => started(startTracker(t, checkpointDir)))
      Running(rq, nq, tq, store)
    }
  }

  /** Start a job's queries, each passed through `started`; if a later one
    * fails to start, stop those already running and rethrow. Otherwise they
    * would run on half a pipeline (records validated with no tracker), and a
    * restart would meet them still active under their names. */
  private def startingTogether(
      startAll: (StreamingQuery => StreamingQuery) => Running): Running = {
    val running = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try startAll { q => running += q; q }
    catch { case scala.util.control.NonFatal(e) =>
      running.foreach(q => scala.util.Try(q.stop())); throw e }
  }

  private def startTracker(t: TrackerPlane, checkpointDir: String): StreamingQuery = {
    val session = t.notifications.sparkSession
    import session.implicits._
    // a file source needs its directory to exist, and on a fresh checkpoint
    // no epoch has been journaled yet
    val journal = new org.apache.hadoop.fs.Path(t.countsDir)
    journal.getFileSystem(session.sparkContext.hadoopConfiguration).mkdirs(journal)
    val counts = session.readStream
      .schema("batchId STRING, validDelta BIGINT, invalidDelta BIGINT")
      // only the deterministic per-epoch delta files — a countsDir left over
      // from the pre-delta layout (part-*.parquet, per-record schema) must not
      // be parsed as deltas
      .option("pathGlobFilter", "epoch-*.parquet")
      .parquet(t.countsDir)
      .as[CountsDelta]
    val notifications = ValidationStream.parseNotifications(t.notifications)
      // an absent Int field would NPE the non-nullable encoder fields and
      // crash-loop the tracker from its checkpoint. Absent counts default -1;
      // MgmtClient.parseNotification reads lookup bodies by this same parse
      // and fill
      .na.fill(-1L, Seq("expectedRecordCount", "actualRecordCount",
        "invalidRecordCount", "invalidThreshold"))
      .as[BatchNotification]
    TrackerProcessor.track(
      TrackerProcessor.unionEvents(counts, notifications), t.completionDelayMs)
      .writeStream
      .queryName("graft-tracker")
      .option("checkpointLocation", s"$checkpointDir/graft-tracker")
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch(t.terminal)
      .start()
  }

  /** Production entry point: [[start]] on Kafka sources, the exactly-once data
    * sinks (consumers read `isolation.level=read_committed`; the
    * `<base>.txn-markers` topic must exist) and terminal notifications to the
    * Mgmt API, or back to the notification topic when `mgmtClient` is None
    * (the reference's `useMgmtApi=false` mode, BaseValidationJob.scala:273-286). */
  def startKafka(
      spark: SparkSession,
      brokers: String,
      inputTopic: String,
      validator: Validator,
      checkpointDir: String,
      completionDelayMs: Long = 300000L,
      mgmtClient: Option[MgmtClient] = None,
      kafkaPassword: Option[String] = None): Running = {
    Topics.validate(inputTopic)
    val sasl = kafkaSaslOptions(kafkaPassword)
    def notificationSource(session: SparkSession, role: String): DataFrame =
      kafkaNotificationSource(session, brokers, inputTopic,
        sasl ++ kafkaGroupId(inputTopic, role))
    val countsDir = s"$checkpointDir/counts"
    val terminal: (Dataset[BatchNotification], Long) => Unit = mgmtClient match {
      case Some(client) => new MgmtApiSink(client).writeBatch
      case None => (ds, _) =>
        terminalNotificationProjection(ds.toDF()).write.format("kafka")
          .option("kafka.bootstrap.servers", brokers)
          .option("topic", Topics.notificationTopic(inputTopic))
          .options(kafkaProducerOptions ++ sasl)
          .save()
    }
    start(spark,
      kafkaRecordSource(spark, brokers, inputTopic, sasl ++ kafkaGroupId(inputTopic, "records")),
      notificationSource(spark, "notifications"),
      validator,
      transactionalKafkaSinks(brokers, inputTopic, countsHandoff(countsDir), sasl),
      checkpointDir,
      lookup = mgmtClient,
      tracker = Some(TrackerPlane(
        notificationSource(TrackerProcessor.controlPlaneSession(spark), "tracker"),
        countsDir, terminal, completionDelayMs)))
  }

  private val CliFlags = Set("-b", "-i", "-d", "-c", "-p")

  /** The CLI's `(flag, value)` pairs. A value may start with `-` (an API key
    * can). An odd-length list, an unknown or repeated flag, or a missing `-b`
    * / `-i` throws, so a mistyped command line never runs on a default. */
  private[jobs] def parseArgs(args: Array[String]): Map[String, String] = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"$msg; usage: -b brokers -i input.topic.in [-d delayMs] [-c ckptDir] [-p apiKey]")
    if (args.length % 2 != 0) fail("every flag needs a value")
    val pairs = args.toSeq.grouped(2).map(p => p.head -> p(1)).toSeq
    pairs.map(_._1).find(f => !CliFlags(f)).foreach {
      case "-x" => fail("-x is no longer a flag: delivery is now always exactly-once")
      case f => fail(s"unknown flag $f")
    }
    val opts = pairs.toMap
    if (opts.size < pairs.size) fail("a flag is given twice")
    Seq("-b", "-i").filterNot(opts.contains).foreach(f => fail(s"missing required flag $f"))
    opts
  }

  /** Standalone CLI (the reference's JsonValidationJob.main,
    * jobtest/JsonValidationJob.scala:25-73): `-b` brokers, `-i` input topic,
    * `-d` completion delay ms, `-c` checkpoint dir, `-p` Kafka API-key password
    * (enables SASL_SSL, like the reference's `--password`); JSON well-formedness
    * validation, exactly-once data topics, terminal notifications to the
    * notification topic. */
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    // fail-fast on a bad topic BEFORE building a session, like the reference's
    // constructor-time validation (BaseValidationJob.scala:56-75)
    val inputTopic = Topics.validate(opts("-i"))
    val delay = opts.getOrElse("-d", "300000").toLong
    val checkpoint = opts.getOrElse("-c", "/tmp/graft-checkpoint")
    val password = opts.get("-p").filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .appName(s"graft-validation-$inputTopic")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // the reference's failure-rate restart (10 failures in 5 min, 10 s apart):
    // any dead query restarts the whole job from its checkpoints
    new RestartSupervisor().supervise(() => awaitFirstTermination(
      startKafka(spark, opts("-b"), inputTopic, new JsonValidator, checkpoint, delay,
        kafkaPassword = password)))
  }

  /** Wait until the first of the job's queries ends, stop the others, and
    * rethrow what killed it (return if it stopped cleanly). A job whose
    * tracker or notification query died would otherwise keep validating
    * records that no batch ever completes. Polls each query rather than
    * `spark.streams.awaitAnyTermination()`: the tracker runs on the
    * control-plane child session, whose `StreamingQueryManager` is not the
    * parent's. */
  private[jobs] def awaitFirstTermination(running: Running, pollMs: Long = 200L): Unit = {
    val queries = Seq(running.recordQuery, running.notificationQuery) ++
      running.trackerQuery
    try {
      while (queries.forall(_.isActive)) Thread.sleep(pollMs)
      queries.filterNot(_.isActive).foreach(_.awaitTermination())
    } finally queries.foreach(_.stop())
  }
}
