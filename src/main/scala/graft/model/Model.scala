package graft.model

import org.apache.spark.sql.types._

/** Batch lifecycle statuses.
  *
  * Re-expression of the reference's `BatchNotification.Status` enum (external POJO;
  * all five values observed in use — see reference Tracker.scala:101,115,124,132 and
  * ValidationProcessFunction.scala:115-119).
  */
object Status {
  val Started       = "STARTED"
  val SendCompleted = "SEND_COMPLETED"
  val Completed     = "COMPLETED"
  val Failed        = "FAILED"
  val Terminated    = "TERMINATED"
  /** Statuses for which incoming records are silently dropped
    * (reference ValidationProcessFunction.scala:114-118). */
  val Dropped: Seq[String] = Seq(Failed, Terminated)
}

/** Batch-metadata notification — the control-plane record.
  *
  * Field surface recovered from builder usage in the reference tests
  * (TestHelper.scala:52-61, TestBatchNotification.scala:35-47); the POJO itself lives
  * in the external `hri-api-batch-notification` artifact.
  *
  * `invalidThreshold == -1` means the threshold check is disabled
  * (reference Tracker.scala:156).
  */
case class BatchNotification(
    id: String,
    name: String,
    topic: String,
    dataType: String,
    status: String,
    startDate: java.sql.Timestamp,
    endDate: java.sql.Timestamp,
    expectedRecordCount: Int,
    actualRecordCount: Int,
    invalidRecordCount: Int,
    invalidThreshold: Int,
    failureMessage: String,
    metadata: String)

/** Pointer to a record that failed validation (reference builds these at
  * ValidationProcessFunction.scala:88-92,104-109,123-128,141-146).
  *
  * `offset` is kept BIGINT here; the reference truncates Long→Int
  * (`record.offset.toInt`, ValidationProcessFunction.scala:92) which is lossy above
  * 2^31 — an intentional divergence, noted in SURVEY.md §7.8.
  */
case class InvalidRecord(
    failure: String,
    topic: String,
    partition: Int,
    offset: Long,
    batchId: String)

/** Per-epoch pre-aggregated counts handed from the validation plane to the
  * tracker: one row per (epoch, batch), not per record. Pre-aggregation keeps the
  * tracker shuffle proportional to live-batch cardinality at any data volume, and
  * the epoch-keyed journal (ValidationJob.countsHandoff) makes replays idempotent
  * — the SS equivalent of the reference's exactly-once checkpointed shuffle. */
case class CountsDelta(batchId: String, validDelta: Long, invalidDelta: Long)

/** Per-batch tracker state (reference Tracker.scala:30). Counters are Long so
  * pre-aggregated deltas can never wrap them; the Int ceiling of the
  * notification POJO applies only at the terminal-notification boundary. */
case class BatchState(
    valid: Long,
    invalid: Long,
    isFinished: Boolean,
    lastModified: Long,
    notification: Option[BatchNotification])

object Schemas {
  /** Canonical data-record schema — matches what
    * `spark.readStream.format("kafka").option("includeHeaders","true")` produces,
    * mirroring the reference's thin shim over Kafka `ConsumerRecord`
    * (HriRecordDeserializer.scala:21-23). Headers keep array (not map) semantics:
    * duplicates legal, order preserved, first-match lookup
    * (ValidationProcessFunction.scala:226-232).
    */
  val headerType: DataType =
    ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType))))

  val hriRecord: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("headers", headerType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType)))

  /** JSON wire schema for `from_json` on the notification topic: the
    * [[BatchNotification]] fields, every one nullable (a JSON payload may omit
    * any of them). The reference parses with Jackson
    * `FAIL_ON_UNKNOWN_PROPERTIES` disabled (NotificationDeserializer
    * .scala:26-29); `from_json`'s permissive default matches that open-world
    * stance, and `MgmtClient.parseNotification` reads lookup bodies by the
    * same rules. */
  val batchNotification: StructType = StructType(
    org.apache.spark.sql.Encoders.product[BatchNotification].schema.map(_.copy(nullable = true)))
}

/** Canonical error strings (reference ValidationProcessFunction.scala:43-45). */
object ErrorMessages {
  val MissingBatchId   = "Bad Message - No header or batchId node"
  val UnknownBatchId   = "Bad Message - Unknown batchId"
  val AlreadyCompleted = "Bad Message - batchId is already completed"
}
