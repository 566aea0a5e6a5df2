package graft.streaming

/** [[TxnProducerFactory]] bound to real Kafka through the deployment's
  * kafka-clients jar, resolved REFLECTIVELY at runtime.
  *
  * Why reflection: this library compiles against the Spark jars alone —
  * kafka-clients ships with the `spark-sql-kafka` connector at deployment
  * (the same jars that make `.format("kafka")` resolvable), and is absent
  * from the build (and from this sandbox, which has no broker at all). The
  * reflective binding keeps the compile classpath connector-free while
  * remaining fully functional wherever the connector jars are present; a
  * missing jar fails fast at [[open]]/[[committed]] with a clear
  * ClassNotFoundException naming kafka-clients.
  *
  * Producer side (executors): `KafkaProducer` with `transactional.id`,
  * idempotence, `acks=all`, byte-array serializers;
  * `initTransactions()` runs in [[open]] — that IS the fencing handshake
  * [[TxnProducerFactory.open]] requires. Consumer side: `KafkaConsumer`
  * pinned `isolation.level=read_committed` scanning one marker-topic
  * partition INCREMENTALLY from a JVM-wide offset watermark (each marker is
  * read once per JVM, not once per epoch) — aborted markers are invisible,
  * so a marker is found exactly when its epoch transaction committed.
  *
  * `clientOptions` uses the same `kafka.`-prefixed convention as the rest of
  * `ValidationJob` (e.g. `kafka.compression.type`), so the SASL_SSL and
  * producer-tuning maps drop in unchanged; the prefix is stripped here.
  */
final case class KafkaTxnProducerFactory(
    bootstrapServers: String,
    clientOptions: Map[String, String] = Map.empty,
    replayWindowEpochs: Long = KafkaTxnProducerFactory.DefaultReplayWindowEpochs)
  extends TxnProducerFactory {

  /** clientOptions can carry the SASL jaas line with a PLAINTEXT password —
    * the case-class toString must never print it (Spark redacts its own
    * DataFrameWriter options for the same reason; any log line or exception
    * message interpolating this instance goes through here). */
  override def toString: String =
    s"KafkaTxnProducerFactory($bootstrapServers, <${clientOptions.size} options redacted>)"

  private def stripped: Map[String, String] =
    clientOptions.map { case (k, v) => k.stripPrefix("kafka.") -> v }

  private def MarkerScanCache = KafkaTxnProducerFactory.MarkerScanCache

  @transient private lazy val recordCtor = {
    val cls = Class.forName("org.apache.kafka.clients.producer.ProducerRecord")
    cls.getConstructor(classOf[String], classOf[Integer], classOf[Object],
      classOf[Object], classOf[java.lang.Iterable[_]])
  }

  @transient private lazy val headerCtor =
    Class.forName("org.apache.kafka.common.header.internals.RecordHeader")
      .getConstructor(classOf[String], classOf[Array[Byte]])

  override def open(transactionalId: String): TxnProducer = {
    val props = new java.util.Properties()
    props.put("bootstrap.servers", bootstrapServers)
    props.put("enable.idempotence", "true")
    props.put("acks", "all")
    props.put("key.serializer",
      "org.apache.kafka.common.serialization.ByteArraySerializer")
    props.put("value.serializer",
      "org.apache.kafka.common.serialization.ByteArraySerializer")
    stripped.foreach { case (k, v) => props.put(k, v) }
    props.put("transactional.id", transactionalId)
    val cls = Class.forName("org.apache.kafka.clients.producer.KafkaProducer")
    val producer = cls.getConstructor(classOf[java.util.Properties])
      .newInstance(props).asInstanceOf[AnyRef]
    def call(name: String): Unit =
      cls.getMethod(name).invoke(producer)
    val sendMethod = cls.getMethod("send",
      Class.forName("org.apache.kafka.clients.producer.ProducerRecord"))
    val partitionsForM = cls.getMethod("partitionsFor", classOf[String])
    // the fencing handshake. If it fails (coordinator unavailable is common),
    // CLOSE the just-built producer before rethrowing: its network io thread,
    // sockets, and buffers are live from construction, and every Spark task
    // retry would otherwise leak another set until the executor runs out of
    // fds/threads
    try call("initTransactions")
    catch {
      case t: Throwable =>
        try call("close") catch { case _: Throwable => () }
        throw t
    }

    new TxnProducer {
      def begin(): Unit = call("beginTransaction")
      def send(topic: String, partition: Option[Int], key: Array[Byte],
          value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit = {
        val hs = new java.util.ArrayList[AnyRef](headers.size)
        headers.foreach { case (k, v) => hs.add(headerCtor.newInstance(k, v)) }
        // explicit routing clamps into the topic's partition count — fewer
        // marker partitions than task parallelism degrades to residue-class
        // pinning (see TransactionalEpochSink's LSO note), never an error
        val part: Integer = partition.map { p =>
          val n = partitionsForM.invoke(producer, topic)
            .asInstanceOf[java.util.List[_]].size
          Integer.valueOf(p % n)
        }.orNull
        val rec = recordCtor.newInstance(topic, part, key, value, hs)
        sendMethod.invoke(producer, rec) // Future ignored: commit() confirms
      }
      def commit(): Unit = call("commitTransaction")
      def abort(): Unit = call("abortTransaction")
      def close(): Unit = call("close")
    }
  }

  /** The post-fence check: scan ONLY the marker-topic partition this pid's
    * marker was routed to — the one partition whose LSO the caller's open()
    * has just cleared of unresolved transactions.
    *
    * The scan is INCREMENTAL: a JVM-wide watermark cache per
    * (cluster, topic, partition) remembers the next offset to read and
    * every marker key seen, so a long-lived job reads each marker exactly
    * once per JVM instead of re-reading the whole retention window on every
    * epoch (markers only ever append, and the LSO only advances, so a
    * cached prefix can never change under us; concurrent tasks scanning
    * overlapping ranges union idempotently). Broker retention prunes the
    * TOPIC but not this JVM-side cache, so each scan also prunes its own
    * txnIdBase's cached keys below `epochId - replayWindowEpochs` — Spark
    * only ever replays recent epochs, so a key that far behind the epoch
    * being asked about should never be queried again (see
    * [[KafkaTxnProducerFactory.DefaultReplayWindowEpochs]]). Should is not
    * may: if a checkpoint rollback DOES reach below a pruned horizon, the
    * cache self-heals rather than answering from the pruned (empty) view —
    * [[MarkerScanCache.ensureAnswerable]] resets the watermark to 0 and the
    * scan re-reads the partition from the beginning. */
  override def committed(markerTopic: String, txnIdBase: String,
      epochId: Long, partitionId: Int): Boolean = {
    val props = new java.util.Properties()
    props.put("bootstrap.servers", bootstrapServers)
    props.put("key.deserializer",
      "org.apache.kafka.common.serialization.ByteArrayDeserializer")
    props.put("value.deserializer",
      "org.apache.kafka.common.serialization.ByteArrayDeserializer")
    stripped.foreach { case (k, v) => props.put(k, v) }
    // read_committed is the POINT — an aborted epoch's marker must stay
    // invisible so its partition rewrites; pinned after clientOptions so a
    // stray option can never weaken it
    props.put("isolation.level", "read_committed")
    props.put("enable.auto.commit", "false")
    // a cached watermark that aged past retention must reset to the oldest
    // AVAILABLE offset, not silently skip to latest
    props.put("auto.offset.reset", "earliest")
    val cls = Class.forName("org.apache.kafka.clients.consumer.KafkaConsumer")
    val consumer = cls.getConstructor(classOf[java.util.Properties])
      .newInstance(props).asInstanceOf[AnyRef]
    try {
      val infos = cls.getMethod("partitionsFor", classOf[String])
        .invoke(consumer, markerTopic).asInstanceOf[java.util.List[AnyRef]]
      if (infos == null || infos.isEmpty) return false // topic not created yet
      val tpCls = Class.forName("org.apache.kafka.common.TopicPartition")
      val tpCtor = tpCls.getConstructor(classOf[String], classOf[Int])
      val assignM = cls.getMethod("assign", classOf[java.util.Collection[_]])
      val seekM = cls.getMethod("seek", tpCls, java.lang.Long.TYPE)
      val endOffsetsM = cls.getMethod("endOffsets", classOf[java.util.Collection[_]])
      val positionM = cls.getMethod("position", tpCls)
      val pollM = cls.getMethod("poll", classOf[java.time.Duration])
      // clamp exactly like the producer's routing, so check and send
      // always agree on the marker's home partition
      val home = partitionId % infos.size
      val cacheKey = s"$bootstrapServers|$markerTopic|$home"
      val tp = tpCtor.newInstance(markerTopic, Integer.valueOf(home))
        .asInstanceOf[AnyRef]
      val one = java.util.Collections.singletonList(tp)
      assignM.invoke(consumer, one)
      // the cache-choreography (answerability reset, watermark snapshot,
      // merge, prune, post-validation retry) lives in scanWith — this
      // closure only reads the broker's [start, end) key range
      val keys = MarkerScanCache.scanWith(
          cacheKey, txnIdBase, epochId, replayWindowEpochs) { start =>
        val end = endOffsetsM.invoke(consumer, one)
          .asInstanceOf[java.util.Map[AnyRef, java.lang.Long]].get(tp).longValue()
        val fresh = scala.collection.mutable.Set.empty[String]
        if (end > start) {
          seekM.invoke(consumer, tp, java.lang.Long.valueOf(start))
          // catch-up loop is bounded: a degraded broker connection returns
          // empty polls forever — fail after MaxEmptyPolls consecutive
          // STALLED polls so the Spark task retry re-establishes the
          // consumer instead of spinning indefinitely. "Stalled" means no
          // records AND no position progress: under read_committed a poll
          // over an abort-dense segment legitimately returns zero records
          // while the position leaps past the aborted batches, and such a
          // scan is healthy — only a poll that moves nothing counts.
          var emptyPolls = 0
          var lastPos = positionM.invoke(consumer, tp)
            .asInstanceOf[java.lang.Long].longValue()
          while (lastPos < end) {
            val records = pollM.invoke(consumer, java.time.Duration.ofMillis(500))
              .asInstanceOf[java.lang.Iterable[AnyRef]]
            var any = false
            records.forEach { rec =>
              any = true
              val key = rec.getClass.getMethod("key").invoke(rec)
                .asInstanceOf[Array[Byte]]
              if (key != null)
                fresh += new String(key, java.nio.charset.StandardCharsets.UTF_8)
            }
            val pos = positionM.invoke(consumer, tp)
              .asInstanceOf[java.lang.Long].longValue()
            emptyPolls = if (any || pos > lastPos) 0 else emptyPolls + 1
            lastPos = pos
            if (emptyPolls >= KafkaTxnProducerFactory.MaxEmptyPolls)
              throw new IllegalStateException(
                s"marker scan stalled: $cacheKey returned " +
                  s"${KafkaTxnProducerFactory.MaxEmptyPolls} consecutive empty " +
                  s"polls with no position progress before reaching end " +
                  s"offset $end")
          }
        }
        (end, fresh.toSet)
      }
      keys.exists(TransactionalEpochSink.parseMarker(_, txnIdBase, epochId)
        .contains(partitionId))
    } finally {
      cls.getMethod("close").invoke(consumer)
    }
  }
}

object KafkaTxnProducerFactory {
  /** How far behind the epoch currently being scanned a cached marker key
    * may fall before it is pruned from [[MarkerScanCache]]. Spark replays
    * only recent epochs after a restart (normally just the last
    * uncommitted batch), so 10 000 epochs of slack is orders of magnitude
    * beyond any real replay; pruning below the horizon caps the cache at
    * O(window × partitions) per txnIdBase instead of every-marker-ever. */
  val DefaultReplayWindowEpochs: Long = 10000L

  /** Consecutive stalled 500 ms polls (no records AND no consumer-position
    * progress — read_committed polls that skip aborted batches advance the
    * position and do not count) tolerated while a scan is still short of
    * the end offset (≈30 s of broker silence) before the scan throws and
    * lets the Spark task retry rebuild the consumer. */
  val MaxEmptyPolls: Int = 60

  /** JVM-WIDE incremental-scan watermarks for [[committed]] (companion, not
    * instance-nested: factories deserialize fresh into every task closure,
    * so per-instance state would never be shared): per (cluster, topic,
    * partition), the next offset to read and every marker key seen so far.
    * Marker topics only ever append and the LSO only advances, so a scanned
    * prefix is immutable; concurrent scanners merge idempotently. Growth is
    * bounded by [[prune]]: each scan drops its own txnIdBase's keys whose
    * epoch fell below the caller's replay horizon, so live bases hold
    * O(window × partitions) keys and a base that stops scanning freezes at
    * whatever was cached when it went quiet (finite, non-growing). */
  private[streaming] object MarkerScanCache {
    // (generation, next offset to read, keys seen). The generation fences
    // the lost-update race around [[reset]]: an advance() computed against
    // a snapshot of an older generation must never resurrect a high
    // watermark carrying the pre-reset (incomplete) key set.
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Set[String])]()
    // Per cacheKey: for each txnIdBase, the highest epoch horizon this JVM
    // has pruned that base's keys below — epochs strictly below it are NOT
    // answerable from the cache and need a from-zero rescan ([[reset]]).
    private val prunedBelow =
      new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
    def snapshot(key: String): (Long, Long, Set[String]) =
      cache.getOrDefault(key, (0L, 0L, Set.empty))

    /** The highest horizon this JVM has recorded pruning `txnIdBase`'s keys
      * below for `key` (0 = never pruned). */
    def horizonFor(key: String, txnIdBase: String): Long =
      prunedBelow.getOrDefault(key, Map.empty).getOrElse(txnIdBase, 0L)

    /** One complete incremental scan for (`key`, `txnIdBase`, `epochId`) —
      * THE entry point; the primitives below are its building blocks.
      * `readRange(start)` must return `(end, keys in [start, end))` from the
      * underlying log. Choreography per attempt: ensure the epoch is
      * answerable (deep-rollback reset), snapshot the watermark, read the
      * tail, merge it, prune this base below `epochId - horizonWindow`,
      * then VALIDATE before answering: the answer may lean on the cached
      * `[0, start)` prefix only if no concurrent scanner reset the entry
      * (generation unchanged) and no concurrent prune recorded a horizon
      * above our epoch while we scanned — either could have removed this
      * epoch's keys from the prefix we did not read ourselves, and a lost
      * key here means a committed partition re-publishes (the exactly-once
      * break). A failed validation retries; the retry's ensureAnswerable
      * resets the watermark, `readRange(0)` re-reads the whole log, and a
      * `start == 0` scan is self-contained — immune to every concurrent
      * mutation — so the loop settles in practice on the second attempt.
      * The returned set always contains every key THIS attempt read plus
      * the validated cache view. */
    def scanWith(key: String, txnIdBase: String, epochId: Long,
        horizonWindow: Long)(readRange: Long => (Long, Set[String])): Set[String] = {
      var attempts = 0
      while (true) {
        attempts += 1
        ensureAnswerable(key, txnIdBase, epochId)
        val (gen, start, _) = snapshot(key)
        val (end, fresh) = readRange(start)
        if (end > start) advance(key, gen, end, fresh)
        prune(key, gen, txnIdBase, epochId - horizonWindow)
        val view = snapshot(key)
        if (start == 0L ||
            (view._1 == gen && horizonFor(key, txnIdBase) <= epochId))
          return view._3 ++ fresh
        if (attempts >= 50)
          throw new IllegalStateException(
            s"marker-cache scan for $key (base=$txnIdBase epoch=$epochId) " +
              s"could not stabilize after $attempts attempts")
      }
      throw new IllegalStateException("unreachable")
    }
    def advance(key: String, gen: Long, end: Long, fresh: Set[String]): Unit =
      cache.compute(key, (_, cur) =>
        if (cur == null) (gen, end, fresh)
        else if (cur._1 != gen) cur // stale scan from before a reset: drop
        else (gen, math.max(cur._2, end), cur._3 ++ fresh))
    /** Drop cached keys belonging to `txnIdBase` whose epoch is strictly
      * below `horizonEpoch`, RECORDING the horizon. Only the owning base's
      * keys are touched — epoch counters of different queries sharing a
      * marker topic are not comparable, and each live query prunes its own
      * keys on every scan. A pruned key can only matter to a future query
      * about an epoch below the horizon — which the replay window makes
      * all but impossible, and which [[ensureAnswerable]] self-heals if it
      * happens. Generation-fenced like [[advance]]: a scan holding a
      * pre-reset generation must not prune the view a concurrent
      * deep-rollback rescan is rebuilding (it could delete the very
      * low-epoch keys that rescan just re-read). The horizon is recorded
      * BEFORE the cache filter and even when the filter is skipped — a
      * recorded horizon without a prune only costs a future from-zero
      * rescan, while a prune without a recorded horizon would let a later
      * low-epoch query answer from the pruned view. */
    def prune(key: String, gen: Long, txnIdBase: String, horizonEpoch: Long): Unit = {
      if (horizonEpoch > 0) {
        prunedBelow.merge(key, Map(txnIdBase -> horizonEpoch), (a, b) =>
          a + (txnIdBase -> math.max(a.getOrElse(txnIdBase, 0L), horizonEpoch)))
        cache.computeIfPresent(key, (_, v) =>
          if (v._1 != gen) v
          else (v._1, v._2, v._3.filter { k =>
            TransactionalEpochSink.parseMarkerEpoch(k, txnIdBase)
              .forall(_ >= horizonEpoch)
          }))
      }
    }
    /** Self-healing for the prune invariant: if `epochId` falls below the
      * horizon this JVM previously pruned `txnIdBase`'s keys to (a deeper
      * checkpoint rollback than the replay window anticipated), the cache
      * CANNOT answer it — silently returning the pruned (empty) view would
      * re-commit already-committed partitions and break exactly-once. Reset
      * the entry instead: watermark back to 0 under a new generation, so
      * the caller's scan re-reads the partition from the beginning. */
    def ensureAnswerable(key: String, txnIdBase: String, epochId: Long): Unit = {
      if (epochId < horizonFor(key, txnIdBase)) {
        // reset FIRST, then clear the horizon records: after the reset every
        // snapshot starts from watermark 0 (self-contained full re-reads),
        // so by the time the horizon evidence disappears the cache is
        // already safe to answer from. The reverse order opened a real
        // window — caught by MarkerScanCacheModelSpec — where a concurrent
        // scan observed no horizon, validated its (pruned) cached prefix as
        // trustworthy, and answered with a committed marker missing.
        cache.computeIfPresent(key, (_, cur) => (cur._1 + 1, 0L, Set.empty))
        prunedBelow.remove(key) // a from-zero rescan repopulates every base
      }
    }
  }
}
