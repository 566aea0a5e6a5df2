package graft.streaming

import scala.collection.mutable

/** In-process reference implementation of the [[TxnProducer]] SPI with real
  * transactional semantics — commit-or-abort atomicity, read-committed
  * visibility, and same-id FENCING — so [[TransactionalEpochSink]]'s
  * exactly-once contract is testable without a broker (the sandbox has
  * none): the MemoryStream/K5 pattern applied to the transactional plane.
  *
  * Semantics mirrored from the Kafka protocol:
  *  - sends buffer invisibly until [[TxnProducer.commit]]; [[TxnProducer.abort]]
  *    (or open-fencing) discards them — a reader only ever sees whole
  *    transactions;
  *  - opening a `transactional.id` bumps its generation and aborts any
  *    in-flight transaction under that id (Kafka's `initTransactions()`);
  *    the older handle is FENCED — its begin/send/commit all throw, so a
  *    zombie task attempt can never publish after its successor started;
  *  - one append lock serializes commits (a single in-process "log").
  *
  * Executor tasks and the driver share the broker through a JVM-wide
  * registry keyed by broker id — valid in `local[*]` (one JVM), which is
  * exactly where this implementation belongs. A distributed deployment uses
  * [[KafkaTxnProducerFactory]] instead.
  */
final class InMemoryTxnBroker {

  /** committed records: topic → (key, value, headers), in commit order */
  private val log =
    mutable.Map.empty[String, mutable.ArrayBuffer[(Array[Byte], Array[Byte], Seq[(String, Array[Byte])])]]
  private val generations = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Committed contents of a topic (read-committed view — in-flight sends
    * are invisible by construction). */
  def committed(topic: String): Seq[(Array[Byte], Array[Byte], Seq[(String, Array[Byte])])] =
    synchronized { log.getOrElse(topic, mutable.ArrayBuffer.empty).toSeq }

  def committedKeys(topic: String): Seq[String] =
    committed(topic).map { case (k, _, _) =>
      if (k == null) null else new String(k, java.nio.charset.StandardCharsets.UTF_8)
    }

  def open(transactionalId: String): TxnProducer = synchronized {
    // initTransactions(): bump the generation; every older handle for this
    // id observes the bump and is fenced (its buffered sends die with it)
    val gen = generations(transactionalId) + 1
    generations(transactionalId) = gen
    new Handle(transactionalId, gen)
  }

  private def fencedCheck(id: String, gen: Long): Unit =
    if (generations(id) != gen)
      throw new IllegalStateException(
        s"producer fenced: transactional.id=$id generation=$gen superseded")

  private final class Handle(id: String, gen: Long) extends TxnProducer {
    private var inTxn = false
    private val buffer =
      mutable.ArrayBuffer.empty[(String, Array[Byte], Array[Byte], Seq[(String, Array[Byte])])]

    def begin(): Unit = InMemoryTxnBroker.this.synchronized {
      fencedCheck(id, gen)
      require(!inTxn, s"transaction already open for $id")
      inTxn = true
    }

    def send(topic: String, partition: Option[Int], key: Array[Byte],
        value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit =
      InMemoryTxnBroker.this.synchronized {
        fencedCheck(id, gen)
        require(inTxn, s"send outside a transaction on $id")
        // partition routing is a no-op here: commits are atomic in-process,
        // so there is no LSO to pin (the property the routing exists for on
        // a real broker — see TransactionalEpochSink's LSO note)
        buffer += ((topic, key, value, headers))
      }

    def commit(): Unit = InMemoryTxnBroker.this.synchronized {
      fencedCheck(id, gen) // a fenced zombie must never append
      require(inTxn, s"commit without begin on $id")
      buffer.foreach { case (topic, k, v, h) =>
        log.getOrElseUpdate(topic, mutable.ArrayBuffer.empty) += ((k, v, h))
      }
      buffer.clear()
      inTxn = false
    }

    def abort(): Unit = InMemoryTxnBroker.this.synchronized {
      buffer.clear()
      inTxn = false
    }

    def close(): Unit = ()
  }
}

object InMemoryTxnBroker {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, InMemoryTxnBroker]()

  /** The broker for `brokerId`, created on first use. JVM-wide so tasks in
    * `local[*]` reach the same instance the driver asserts against. */
  def get(brokerId: String): InMemoryTxnBroker =
    registry.computeIfAbsent(brokerId, _ => new InMemoryTxnBroker)

  /** Drop a broker (test isolation between suites). */
  def remove(brokerId: String): Unit = registry.remove(brokerId)
}

/** [[TxnProducerFactory]] over an [[InMemoryTxnBroker]]. The case class holds
  * only the broker ID — serializing into executor-task closures is safe; the
  * broker itself is resolved JVM-locally on each side. */
final case class InMemoryTxnFactory(brokerId: String) extends TxnProducerFactory {

  private def broker: InMemoryTxnBroker = InMemoryTxnBroker.get(brokerId)

  override def open(transactionalId: String): TxnProducer =
    broker.open(transactionalId)

  override def committed(markerTopic: String, txnIdBase: String,
      epochId: Long, partitionId: Int): Boolean =
    broker.committedKeys(markerTopic).exists(
      TransactionalEpochSink.parseMarker(_, txnIdBase, epochId).contains(partitionId))
}
