package graft

import graft.model.{BatchNotification, Status}
import graft.streaming.{NotificationSnapshot, TrackerProcessor, ValidationSinks, ValidationStream}
import graft.tracker.TrackerInput
import graft.validation.JsonValidator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Kafka-record header (hriRecord shape) for the streaming bench source. */
case class BenchHdr(key: String, value: Array[Byte])
/** hriRecord-shaped bench record (Schemas.hriRecord without the Kafka source). */
case class BenchRec(key: Array[Byte], value: Array[Byte], headers: Seq[BenchHdr],
    topic: String, partition: Int, offset: Long)

/** Streaming-plane throughput bench: drives the FULL validation DAG —
  * record stream → V1–V11 validation against the compacted notification
  * snapshot → valid/invalid/counts outputs → counts handoff →
  * TrackerProcessor (transformWithState) → terminal notification — and
  * reports records/second for two regimes:
  *
  *  - '''bulk''': all records land in ONE micro-batch — the engine's raw
  *    per-record cost with the per-trigger overhead amortized away (the
  *    ceiling a saturated Kafka backlog replay would see);
  *  - '''chunked''': records arrive across many micro-batches drained
  *    back to back — per-trigger overhead included. The record query runs
  *    at `ProcessingTime(0)`, not at its 1 s default cadence, so each
  *    chunk starts as soon as the previous one is done and the figure
  *    holds no idle wait for the next tick.
  *
  * The run is self-checking: every record is counted, and each batch's
  * tracker must emit exactly one COMPLETED terminal with the full count
  * after sendCompleted — a throughput number from a silently-broken DAG
  * would be worse than none. 10% of payloads are malformed JSON so the
  * invalid path (error projection + counts) is paid realistically.
  *
  * Usage: `runMain graft.StreamBench [nRecords] [nChunks]`
  * (defaults 200000, 20). One JSON line to stdout; full copy in
  * `stream-bench-latest.json` (Bench.scala's tail-capture convention). */
object StreamBench {

  private class CountSinks extends ValidationSinks {
    val valid = new java.util.concurrent.atomic.AtomicLong
    val invalid = new java.util.concurrent.atomic.AtomicLong
    val counted = new java.util.concurrent.atomic.AtomicLong
    var forward: DataFrame => Unit = _ => ()
    def valid(df: DataFrame, epochId: Long): Unit = valid.addAndGet(df.count())
    def invalid(df: DataFrame, epochId: Long): Unit = invalid.addAndGet(df.count())
    // ONE scan of the counts micro-batch: the per-batch deltas the tracker
    // handoff aggregates already carry the total (valid + invalid sums), so
    // a separate count() here would materialize the same frame a second
    // time inside the timed region — `counted` is accumulated in `forward`
    def counts(df: DataFrame, epochId: Long): Unit = forward(df)
  }

  def main(args: Array[String]): Unit = {
    val nRecords = args.headOption.map(_.toInt).getOrElse(200000)
    val nChunks = if (args.length > 1) args(1).toInt else 20
    val cpus = graft.util.LocalSession.cpus
    val session = graft.util.LocalSession(cpus)
    // the streaming-kNN cell's complete-mode top-k aggregate is stateful
    // and runs on this session (the tracker has its own control plane)
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    implicit val recEnc: org.apache.spark.sql.Encoder[BenchRec] =
      org.apache.spark.sql.Encoders.product[BenchRec]
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    implicit val tiEnc: org.apache.spark.sql.Encoder[TrackerInput] =
      org.apache.spark.sql.Encoders.product[TrackerInput]
    implicit val bnEnc: org.apache.spark.sql.Encoder[BatchNotification] =
      org.apache.spark.sql.Encoders.product[BatchNotification]

    val topic = "ingest.bench.claims.in"
    def rec(i: Long, batch: String): BenchRec = {
      // 10% malformed: the invalid projection + counts path is real work
      val payload =
        if (i % 10 == 9) s"""{"resourceType":"Claim","id":$i,"broken"""
        else s"""{"resourceType":"Claim","id":$i,"text":{"div":"bench record $i"},""" +
          s""""insurance":[{"coverage":{"reference":"Coverage/$i"}}]}"""
      BenchRec(s"k$i".getBytes, payload.getBytes,
        Seq(BenchHdr("batchId", batch.getBytes)), topic, 0, i)
    }
    def notifJson(id: String, status: String, expected: Int): String =
      s"""{"id":"$id","name":"n-$id","topic":"$topic","dataType":"claims",""" +
        s""""status":"$status","expectedRecordCount":$expected,"invalidThreshold":-1}"""

    val records = MemoryStream[BenchRec]
    val notifications = MemoryStream[String]
    // the tracker runs control-plane sized (TrackerProcessor
    // .controlPlaneSession), as ValidationJob.start runs its tracker plane —
    // its MemoryStream source must belong to that session so the query plans
    // under the small state width
    val trackerSession = graft.streaming.TrackerProcessor.controlPlaneSession(session)
    val trackerIn = MemoryStream[TrackerInput](tiEnc,
      trackerSession.sqlContext)
    val terminal = new java.util.concurrent.ConcurrentLinkedQueue[BatchNotification]
    val dir = java.nio.file.Files.createTempDirectory("stream-bench").toString
    val store = new NotificationSnapshot(session, None)
    val sinks = new CountSinks
    sinks.forward = df => {
      graft.jobs.ValidationJob.countsDeltas(df).collect().foreach { r =>
        sinks.counted.addAndGet(r.getLong(1) + r.getLong(2))
        trackerIn.addData(TrackerInput.count(
          graft.model.CountsDelta(r.getString(0), r.getLong(1), r.getLong(2))))
      }
    }
    val nq = ValidationStream.startNotificationQuery(notifications.toDF(), store, dir)
    val rq = ValidationStream.startRecordQuery(
      records.toDF(), store, new JsonValidator, sinks, dir,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    // the tracker MUST have a real trigger: TimeMode.ProcessingTime makes the
    // engine consider another batch always runnable (timers may be due), so
    // the default as-fast-as-possible trigger degenerates into continuous
    // empty micro-batches — each paying full RocksDB snapshot/maintenance —
    // and processAllAvailable() on such a query may never settle. 500 ms is
    // half the reference's production cadence.
    val tq = TrackerProcessor.track(trackerIn.toDS(), completionDelayMs = 0L)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[BatchNotification], _: Long) =>
        b.collect().foreach(terminal.add); ()
      }
      .option("checkpointLocation", s"$dir/tracker")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()

    def announce(batch: String): Unit = {
      notifications.addData(notifJson(batch, Status.Started, nRecords))
      nq.processAllAvailable()
      trackerIn.addData(TrackerInput.notification(BatchNotification(
        batch, s"n-$batch", topic, "claims", Status.Started, null, null,
        nRecords, -1, -1, -1, null, null)))
    }
    def complete(batch: String): Unit = {
      notifications.addData(notifJson(batch, Status.SendCompleted, nRecords))
      nq.processAllAvailable()
      trackerIn.addData(TrackerInput.notification(BatchNotification(
        batch, s"n-$batch", topic, "claims", Status.SendCompleted, null, null,
        nRecords, -1, -1, -1, null, null)))
      // poll the terminal queue — never processAllAvailable() on the tracker
      // (see the trigger comment above: it may never settle in timer mode);
      // the timer fires on the query's own 500 ms cadence
      val deadline = System.currentTimeMillis + 60000
      while (!terminal.toArray.exists { case n: BatchNotification =>
          n.id == batch && n.status == Status.Completed } &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      require(terminal.toArray.exists { case n: BatchNotification =>
        n.id == batch && n.status == Status.Completed &&
          n.actualRecordCount == nRecords },
        s"tracker never emitted COMPLETED($nRecords) for $batch — " +
          s"got ${terminal.toArray.mkString(", ")}")
    }

    // warm the whole DAG (codegen, state store, broadcast path) off the clock
    announce("b-warm")
    records.addData((0L until 1000L).map(rec(_, "b-warm")))
    rq.processAllAvailable()

    // bulk: one micro-batch holding every record
    announce("b-bulk")
    records.addData((0L until nRecords.toLong).map(rec(_, "b-bulk")))
    val t0 = System.nanoTime()
    rq.processAllAvailable()
    val bulkSec = (System.nanoTime() - t0) / 1e9
    complete("b-bulk")

    // chunked: nChunks micro-batches drained back-to-back
    announce("b-chunk")
    val chunkSize = nRecords / nChunks
    val t1 = System.nanoTime()
    (0 until nChunks).foreach { c =>
      val base = c.toLong * chunkSize
      val n = if (c == nChunks - 1) nRecords - base else chunkSize.toLong
      records.addData((base until base + n).map(rec(_, "b-chunk")))
      rq.processAllAvailable()
    }
    val chunkSec = (System.nanoTime() - t1) / 1e9
    complete("b-chunk")

    rq.stop(); nq.stop(); tq.stop()
    // exact census of rec()'s 10%-malformed convention (ids i%10==9), no
    // divisibility assumption: bulk + chunked each replay ids [0, nRecords),
    // the warm batch ids [0, 1000)
    def validIn(n: Long): Long = n - n / 10
    val expectValid = 2L * validIn(nRecords.toLong) + validIn(1000L)
    val expectTotal = 2L * nRecords + 1000L
    // self-check the SPLIT, not just the total — a validator regression that
    // flips records between the valid and invalid sinks keeps the total
    // intact and must still fail the bench
    require(sinks.counted.get() == expectTotal,
      s"count mismatch: ${sinks.counted.get()} != $expectTotal")
    require(sinks.valid.get() == expectValid,
      s"valid-count mismatch: ${sinks.valid.get()} != $expectValid")
    require(sinks.invalid.get() == expectTotal - expectValid,
      s"invalid-count mismatch: ${sinks.invalid.get()} != " +
        s"${expectTotal - expectValid}")
    // ---- streaming-kNN cell: per-trigger cost of StreamOps.topKNeighbors
    // under each StreamCandidates generator — the exact default's full
    // corpus scan vs IVF cell recompute vs the PERSISTED cid-partitioned
    // code index (the x93 deployment shape). Self-checking: every regime
    // must hold exactly one top-k row per live query. ----
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the validation DAG above is fixture-free; don't let a missing
    // embeddings table discard its measurements (r16 review find) — the
    // kNN cells report -1 and the bench stays standalone. Existence
    // resolves through the HADOOP FileSystem for the path, not
    // java.io.File: the parquet read goes through Hadoop path resolution,
    // so a scheme-qualified or non-local sfDir (file:/, hdfs:, s3a:)
    // would make existing data look absent under a raw File probe and the
    // cells would silently report -1 instead of running (r18 advice —
    // the Scaling.x1Count fix of commit 5156bae, applied to both probes here)
    def haveTable(name: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      p.getFileSystem(session.sparkContext.hadoopConfiguration).exists(p)
    }
    val haveEmb = haveTable("embeddings")
    val emb = if (haveEmb) session.read.parquet(s"$sfDir/embeddings.parquet")
      else null
    val corpusN = if (haveEmb) emb.count() else -1L
    val nKnnQ = 20
    val nKnnTriggers = 3
    // the IVF cells run the RESTRICTED regime (nprobe < |centroids|) —
    // full probe would equal the exact row's work and price nothing
    val knnNprobe = graft.corpus.Similarity.DefaultIvfNprobe
    var knnCentroids = -1
    def knnCells(): (Double, Double, Double) = {
      val cents = graft.corpus.Quantization.centroidSeeds(emb)
      knnCentroids = cents.size
      require(knnNprobe < cents.size,
        s"kNN cells must measure a real restriction: nprobe=$knnNprobe" +
          s" >= ${cents.size} centroids")
      val cbs = graft.corpus.Quantization.sliceCodebooks(emb)
      val idxDir = java.nio.file.Files
        .createTempDirectory("streambench_idx").toString
      graft.corpus.Quantization.writeIvfPqIndex(
        graft.corpus.Quantization.ivfPqIndex(emb, cbs, cents), idxDir)
      val index = session.read.parquet(idxDir)
      // query batches: corpus vectors re-keyed into a disjoint id range (no
      // self-exclusion interplay), nKnnTriggers triggers of nKnnQ queries
      val qRows: Seq[(Long, Seq[Float])] = emb
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(nKnnQ * (nKnnTriggers + 1))
        .collect()
        .map(r => (1000000000L + r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      implicit val qEnc: org.apache.spark.sql.Encoder[(Long, Seq[Float])] =
        org.apache.spark.sql.Encoders.product[(Long, Seq[Float])]
      def knnRun(gen: graft.streaming.StreamOps.StreamCandidates): Double = {
        val qs = MemoryStream[(Long, Seq[Float])]
        val out = graft.streaming.StreamOps.topKNeighbors(
          qs.toDF().toDF("vec_id", "embedding"), emb, 5, gen)
        val sink = s"knn_${System.nanoTime}"
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("complete")
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("streambench_knn").toString)
          .start()
        try {
          qs.addData(qRows.take(nKnnQ): _*) // warm trigger, off the clock
          q.processAllAvailable()
          val t = System.nanoTime()
          (1 to nKnnTriggers).foreach { c =>
            qs.addData(qRows.slice(c * nKnnQ, (c + 1) * nKnnQ): _*)
            q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t) / 1e9 / nKnnTriggers
          val live = session.table(sink).count()
          require(live == nKnnQ.toLong * (nKnnTriggers + 1),
            s"knn state mismatch: $live live queries != ${nKnnQ * (nKnnTriggers + 1)}")
          sec
        } finally q.stop()
      }
      (knnRun(graft.streaming.StreamOps.exactStreamCandidates),
        knnRun(graft.streaming.StreamOps.ivfStreamCandidates(cents)),
        knnRun(graft.streaming.StreamOps.ivfIndexStreamCandidates(
          index, cents)))
    }
    val (knnExactSec, knnIvfSec, knnIndexSec) =
      if (haveEmb) knnCells() else (-1.0, -1.0, -1.0)

    // ---- ingest-screen cell: per-trigger cost of the two streaming span
    // scrubbers (x84's every-hit twin vs x102's ExactSubstr-gated twin)
    // against a PERSISTED hashed span vocabulary — the live cost a
    // curation pipeline pays to scrub an arriving crawl before folding it
    // in. Self-checking: after the final watermark flush, every fed doc
    // must have emitted exactly one row (gramful rows finalize on the
    // watermark; span-less/NULL rows ride the stateless branch). ----
    val haveDocs = haveTable("documents")
    val nScrubDocs = 500
    val nScrubTriggers = 3
    def scrubCells(): (Double, Double) = {
      val docs = session.read.parquet(s"$sfDir/documents.parquet")
      val vocTable = "streambench_spanvoc"
      graft.corpus.TextDedup.writeVocabulary(
        graft.corpus.TextDedup.spanVocabulary(
          docs.filter(col("doc_id") % 2 === 0), hashGrams = true), vocTable)
      val vocab = session.table(vocTable)
      val rows: Seq[(java.sql.Timestamp, Long, String)] = docs
        .filter(col("doc_id") % 2 === 1)
        .orderBy(col("doc_id"))
        .limit(nScrubDocs * (nScrubTriggers + 1))
        .select(col("doc_id"), col("text")).collect()
        .zipWithIndex.map { case (r, i) =>
          // one event-time second per trigger batch: trigger c's rows are
          // finalized by the NEXT batch's watermark advance
          (java.sql.Timestamp.valueOf(
            s"2024-01-01 10:00:0${i / nScrubDocs}"),
            r.getLong(0), r.getString(1))
        }.toSeq
      implicit val tEnc: org.apache.spark.sql.Encoder[
        (java.sql.Timestamp, Long, String)] =
        org.apache.spark.sql.Encoders.product[
          (java.sql.Timestamp, Long, String)]
      // a smaller corpus (sf0.01 has ~250 odd-id docs) fills fewer
      // triggers: feed what exists and self-check against THAT, so the
      // cell degrades to a smaller measurement instead of a false
      // emission-mismatch failure
      val fed = rows.size
      def run(gated: Boolean): Double = {
        val in = MemoryStream[(java.sql.Timestamp, Long, String)]
        val src = in.toDF().toDF("ts", "doc_id", "text")
        val out = if (gated)
          graft.streaming.StreamOps.scrubSpansLongAgainst(src, vocab,
            hashGrams = true, watermarkDelay = "0 seconds")
        else
          graft.streaming.StreamOps.scrubSpansAgainst(src, vocab,
            hashGrams = true, watermarkDelay = "0 seconds")
        val sink = s"scrub_${System.nanoTime}"
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("streambench_scrub").toString)
          .start()
        try {
          in.addData(rows.take(nScrubDocs): _*) // warm trigger, off the clock
          q.processAllAvailable()
          val t = System.nanoTime()
          (1 to nScrubTriggers).foreach { c =>
            in.addData(rows.slice(c * nScrubDocs, (c + 1) * nScrubDocs): _*)
            q.processAllAvailable()
          }
          val sec = (System.nanoTime() - t) / 1e9 / nScrubTriggers
          // flush: a far-future span-less record advances the watermark
          // past every batch and itself rides the stateless branch
          in.addData((java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
            -1L, "zz"))
          q.processAllAvailable()
          val emitted = session.table(sink).count()
          require(emitted == fed.toLong + 1,
            s"scrub emission mismatch: $emitted rows for $fed docs + 1 flush")
          sec
        } finally q.stop()
      }
      val r = (run(gated = false), run(gated = true))
      session.sql(s"DROP TABLE IF EXISTS $vocTable")
      r
    }
    val (scrubSec, scrubLongSec) =
      if (haveDocs) scrubCells() else (-1.0, -1.0)

    // ---- crawl-head cell: the r19 ingest chain extract → robots.txt
    // gate → domain-gate → URL-dedup-against as ONE streaming query —
    // all stateless narrow kernels plus TWO stream-static joins (the
    // frozen parsed rule table on domain, the persisted bucketed url
    // index on url_norm), so NO watermark and no flush record.
    // Self-checking: the chain is batch-equal by construction, so
    // emissions must equal the batch run over the same fed rows. ----
    def crawlHeadCell(): Double = {
      import session.implicits._
      val docs = session.read.parquet(s"$sfDir/documents.parquet")
      val fx = graft.corpus.Html.htmlFixture(
        graft.corpus.Curation.urlFixture(docs))
      val idxTable = "streambench_urlidx"
      graft.corpus.TextDedup.writeUrlIndex(graft.corpus.TextDedup.urlIndex(
        fx.filter(col("doc_id") % 2 === 0)), idxTable)
      val index = session.table(idxTable)
      // the frozen robots rule table — parsed once batch-side, the
      // stream side only joins it (the x117 production shape)
      val rules = graft.corpus.Robots.parseRules(
        graft.corpus.Robots.robotsFixture(docs)).localCheckpoint()
      // the frozen compiled redirect map — doubled once batch-side, the
      // stream side only joins it (the x126 production shape)
      val compiled = graft.corpus.WebGraph.compileRedirects(
        graft.corpus.WebGraph.redirectFixture(docs)).localCheckpoint()
      val rows: Seq[(Long, String, String)] = fx
        .filter(col("doc_id") % 2 === 1)
        .orderBy(col("doc_id"))
        .limit(nScrubDocs * (nScrubTriggers + 1))
        .select(col("doc_id"), col("url"), col("html")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      // robots gate LAST, on the canonical key (normalization is
      // idempotent), so its flags reach the sink — a mid-chain gate
      // whose columns the tail projects away is a left join against a
      // provably-unique aggregate, which the optimizer may eliminate
      // (the PlanPeek timing-fiction lesson: never time pruned work)
      // r19s3: redirect resolution joins the chain — the frontier dedups
      // on the SERVER-declared identity (final_url), so the resolve
      // columns are consumed downstream, never pruned
      def chain(src: DataFrame): DataFrame =
        graft.streaming.StreamOps.gateByRobotsTxt(
          graft.streaming.StreamOps.dedupUrlsAgainst(
            graft.streaming.StreamOps.resolveRedirectsAgainst(
              graft.streaming.StreamOps.gateByDomain(
                graft.streaming.StreamOps.extractHtml(src)), compiled),
            index, urlCol = "final_url"),
          rules, urlCol = "url_norm")
      val expect = chain(rows.toDF("doc_id", "url", "html")).count()
      val in = MemoryStream[(Long, String, String)]
      val out = chain(in.toDF().toDF("doc_id", "url", "html"))
      val sink = s"crawl_${System.nanoTime}"
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("streambench_crawl").toString)
        .start()
      try {
        in.addData(rows.take(nScrubDocs): _*) // warm trigger, off the clock
        q.processAllAvailable()
        val t = System.nanoTime()
        (1 to nScrubTriggers).foreach { c =>
          in.addData(rows.slice(c * nScrubDocs, (c + 1) * nScrubDocs): _*)
          q.processAllAvailable()
        }
        val s = (System.nanoTime() - t) / 1e9 / nScrubTriggers
        val emitted = session.table(sink).count()
        require(emitted == expect,
          s"crawl-head emission mismatch: $emitted rows, batch says $expect")
        s
      } finally {
        q.stop()
        // drop on EVERY exit path — a failed self-check must not leave
        // the bucketed table registered for the next run to trip over
        session.sql(s"DROP TABLE IF EXISTS $idxTable")
      }
    }
    val crawlHeadSec = if (haveDocs) crawlHeadCell() else -1.0

    def rps(sec: Double): Long = (nRecords / sec).toLong
    def s2(v: Double): String = graft.util.JsonNum.fixed(v, 2)
    val line = s"""{"records":$nRecords,"chunks":$nChunks,"cpus":$cpus,""" +
      s""""valid":${sinks.valid.get()},"invalid":${sinks.invalid.get()},""" +
      s""""expect_valid":$expectValid,""" +
      s""""bulk_sec":${s2(bulkSec)},"chunked_sec":${s2(chunkSec)},""" +
      s""""chunked_rps":${rps(chunkSec)},"bulk_rps":${rps(bulkSec)},""" +
      s""""knn_corpus":$corpusN,"knn_queries_per_trigger":$nKnnQ,""" +
      s""""knn_nprobe":$knnNprobe,"knn_centroids":$knnCentroids,""" +
      s""""knn_exact_sec":${s2(knnExactSec)},""" +
      s""""knn_ivf_sec":${s2(knnIvfSec)},""" +
      s""""knn_index_sec":${s2(knnIndexSec)},""" +
      s""""scrub_docs_per_trigger":$nScrubDocs,""" +
      s""""scrub_sec":${s2(scrubSec)},""" +
      s""""scrub_long_sec":${s2(scrubLongSec)},""" +
      s""""crawl_head_sec":${s2(crawlHeadSec)}}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
        System.getProperty("user.dir")), "stream-bench-latest.json"),
      (line + "\n").getBytes("UTF-8"))
    session.stop()
  }
}
