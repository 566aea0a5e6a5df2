package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One open Kafka-style transaction bound to a single `transactional.id`.
  * Obtained from [[TxnProducerFactory.open]], which performs the fencing
  * handshake; the handle then lives for exactly one begin → sends →
  * commit-or-abort cycle.
  */
trait TxnProducer extends AutoCloseable {
  def begin(): Unit
  /** `partition = Some(p)` routes the record to a specific topic partition
    * (implementations clamp `p` into the topic's partition count); `None`
    * uses the default partitioner. Explicit routing exists for the commit
    * markers — see the LSO note on [[TransactionalEpochSink]]. */
  def send(topic: String, partition: Option[Int], key: Array[Byte],
      value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit
  /** Atomically publish every send since [[begin]] — after this returns, a
    * read-committed consumer sees all of them; before it, none. */
  def commit(): Unit
  def abort(): Unit
}

/** Broker binding for [[TransactionalEpochSink]]. Implementations:
  * [[KafkaTxnProducerFactory]] (real Kafka via the deployment's
  * kafka-clients jar) and [[InMemoryTxnFactory]] (in-process reference
  * implementation with the same semantics, used by the specs — the
  * MemoryStream/K5 pattern applied to the transactional plane). */
trait TxnProducerFactory extends Serializable {
  /** Open the producer for `transactionalId`, running the FENCING handshake
    * (Kafka `initTransactions()`): any in-flight transaction a crashed or
    * zombie attempt left under the same id is aborted, and that older
    * attempt's handle can never commit afterwards. This is what makes a
    * task-retry race safe: whichever attempt opened LAST owns the id. */
  def open(transactionalId: String): TxnProducer

  /** The commit check, run on the EXECUTOR after [[open]] has fenced every
    * earlier writer of this partition's transactional id: is
    * `(txnIdBase, epochId, partitionId)`'s marker committed, i.e. did a
    * previous attempt of this epoch's partition COMMIT? Implementations
    * scan ONLY the marker-topic partition the marker was routed to, where
    * fencing has already resolved every in-flight transaction that could
    * hide it. */
  def committed(markerTopic: String, txnIdBase: String, epochId: Long,
      partitionId: Int): Boolean
}

/** Exactly-once Kafka DATA sink — SURVEY §7.6 option (c), the equivalent of
  * the reference's transactional producer bound to checkpoints
  * (reference BaseValidationJob.scala:252-268, `Semantic.EXACTLY_ONCE`
  * FlinkKafkaProducer: per-subtask transactions committed on checkpoint
  * completion).
  *
  * Spark's `foreachBatch` re-delivers an epoch after a failure, so the sink
  * must make replay invisible to consumers. Scheme, per (epoch, task
  * partition):
  *
  *  1. `transactional.id = <txnIdBase>-<epochId>-<partitionId>` — stable
  *     across replays, so opening it FENCES every earlier writer of this
  *     partition (its in-flight transaction aborts, its zombie handle can
  *     never commit afterwards).
  *  2. All of the partition's rows AND a commit-marker record (to
  *     `markerTopic`, keyed `<txnIdBase>/<epochId>/<partitionId>`, routed
  *     to marker-topic PARTITION `partitionId` — see the LSO note) are sent
  *     in ONE transaction. Marker and data commit atomically — there is no
  *     window where data is committed but the marker is missing.
  *  3. In the task, AFTER opening the transactional id (the fencing point),
  *     the [[TxnProducerFactory.committed]] check runs: if this partition's
  *     marker is committed, the task closes and writes nothing. This is what
  *     makes epoch replays, intra-epoch task retries and SPECULATIVE
  *     duplicate attempts safe — the check is linearized by the broker: by
  *     the time our open() returns, every earlier same-id writer has either
  *     committed (marker visible) or been fenced and aborted (we rewrite).
  *
  * Net effect: every row is visible to a read-committed consumer exactly
  * once — across epoch replays, task retries, and speculation. (Epoch-keyed
  * transactional ids ALONE give none of this — a replay after a successful
  * commit would rewrite and re-commit; the in-transaction marker plus the
  * post-fence check close that window.)
  *
  * LSO note — why markers are routed per partition: a read-committed
  * consumer cannot read past the Last Stable Offset, and the LSO of a
  * topic partition is pinned below any still-open transaction writing to
  * it. If markers from ALL task partitions shared one marker partition, a
  * crashed attempt's dangling transaction (which stays open until fenced or
  * `transaction.timeout.ms`) would hide OTHER partitions' already-committed
  * markers from the replay scan — and they would duplicate. Routing marker
  * `p` to marker-topic partition `p` confines the pinning to same-`p`
  * writers, which the fencing in step 3 fully serializes: after open(),
  * partition `p`'s marker partition has no unresolved transactions left.
  * Provision the marker topic with at least the sink's max task parallelism
  * in partitions; implementations clamp by modulo when it has fewer, which
  * weakens the per-partition argument to per-residue-class (the check still
  * decides after its own residue class is fenced — correctness degrades only
  * if a DIFFERENT pid in the same class holds a transaction open across this
  * task's check, which epoch-ordered replay makes transient).
  *
  * Determinism assumption (same as the reference's checkpoint replay): a
  * replayed epoch re-reads the same source offset range and plans the same
  * partitioning, so partition ids line up across attempts. This holds for
  * Structured Streaming's Kafka/file sources, whose batches are pinned by
  * the offset log.
  *
  * Marker-topic sizing: one tiny record per (sink, epoch, partition). Keys
  * are unique, so compaction cannot reclaim them — bound the topic with
  * `retention.ms` instead, set comfortably above the longest conceivable
  * replay horizon (the job's own state TTL, 7 d, is a natural ceiling).
  *
  * The COUNTS side output deliberately stays on the journal handoff
  * (§7.6 option b, `ValidationJob.countsHandoff`): it feeds the in-job
  * tracker, not an external consumer, and the deterministic epoch file is
  * already exactly-once there.
  */
object TransactionalEpochSink {

  def transactionalId(txnIdBase: String, epochId: Long, partitionId: Int): String =
    s"$txnIdBase-$epochId-$partitionId"

  /** Marker-record key. `/`-separated (the txn-id itself uses `-`) so the
    * scan side can parse the partition id back out unambiguously — topic
    * names may contain `-` but never `/`. */
  def markerKey(txnIdBase: String, epochId: Long, partitionId: Int): String =
    s"$txnIdBase/$epochId/$partitionId"

  /** Parse a marker key back to its partition id, or None if it belongs to a
    * different (base, epoch). */
  def parseMarker(key: String, txnIdBase: String, epochId: Long): Option[Int] = {
    val prefix = s"$txnIdBase/$epochId/"
    if (key != null && key.startsWith(prefix))
      key.substring(prefix.length).toIntOption
    else None
  }

  /** Parse a marker key's epoch id given only its base, or None if the key
    * belongs to a different base (or isn't `base/epoch/pid`-shaped). Used by
    * the scan cache to prune keys that fell behind the replay horizon —
    * epochs of OTHER bases sharing the topic stay untouched (their counters
    * aren't comparable to ours). */
  def parseMarkerEpoch(key: String, txnIdBase: String): Option[Long] = {
    val prefix = s"$txnIdBase/"
    if (key != null && key.startsWith(prefix)) {
      val rest = key.substring(prefix.length)
      val slash = rest.indexOf('/')
      if (slash > 0) rest.substring(0, slash).toLongOption else None
    } else None
  }

  /** Publish one epoch of `df` (Kafka sink shape: `key` binary, `value`
    * binary, `headers` array<struct<key string, value binary>> — nulls
    * allowed everywhere) to `topic`, exactly once per the scheme above.
    * Call from `foreachBatch` with the epoch id Spark hands over. */
  def write(df: DataFrame, topic: String, markerTopic: String,
      txnIdBase: String, epochId: Long, factory: TxnProducerFactory): Unit = {
    df.select(col("key"), col("value"), col("headers"))
      .foreachPartition { (it: Iterator[Row]) =>
        // an empty partition publishes nothing, so replaying it is already
        // idempotent — skip the producer round-trip AND the marker
        if (it.hasNext) {
          val pid = TaskContext.get().partitionId()
          // open FIRST (the fencing point), THEN run the committed check: a
          // concurrent or earlier attempt of this very partition has, by
          // now, either committed (marker visible) or been fenced (can never
          // commit) — a check before the fence could miss a commit that
          // lands mid-epoch (task retry, speculation)
          val p = factory.open(transactionalId(txnIdBase, epochId, pid))
          var committed =
            try factory.committed(markerTopic, txnIdBase, epochId, pid)
            catch { case t: Throwable => p.close(); throw t }
          if (committed) p.close()
          else try {
            p.begin()
            it.foreach { r =>
              // null ELEMENTS inside the headers array are skipped, not
              // NPE'd on: the schema allows containsNull, and deterministic
              // replay would re-poison the epoch on every retry otherwise
              val headers: Seq[(String, Array[Byte])] =
                if (r.isNullAt(2)) Nil
                else r.getSeq[Row](2).filter(_ != null).map(h =>
                  (h.getString(0), h.getAs[Array[Byte]](1)))
              p.send(topic, None, r.getAs[Array[Byte]](0),
                r.getAs[Array[Byte]](1), headers)
            }
            p.send(markerTopic, Some(pid),
              markerKey(txnIdBase, epochId, pid)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8),
              Array.emptyByteArray, Nil)
            p.commit()
            committed = true
          } finally {
            if (!committed) {
              // surface the ORIGINAL failure, not a secondary abort error
              // (an already-fenced handle aborts with an exception too)
              try p.abort() catch { case _: Throwable => () }
            }
            try p.close() catch { case _: Throwable => () }
          }
        }
      }
  }
}
