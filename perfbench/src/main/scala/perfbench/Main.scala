package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What one run measured. `e2e` and `layer` are keyed by the metric names in
  * BENCHMARK.json; `rows` are the full per-trigger or per-query records. */
final case class Result(
    windowStartUs: Long,
    e2e: Map[String, Double],
    layer: Map[String, Double],
    info: Map[String, String] = Map.empty,
    attempted: Long = 0,
    failed: Long = 0,
    errors: Seq[String] = Nil,
    rows: Seq[String] = Nil)

object Stats {
  /** Percentile with linear interpolation between closest ranks; NaN if empty. */
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def mean(xs: Array[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the process (queries, tasks, stub, collector) apart from the
    * JIT compiler threads, ms. The compilers' share of a pass depends on which
    * methods happen to cross a compile threshold while it runs, not on the
    * work the pass does, and is about half of the whole. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6 - compilerCpuMs()

  // The JVM runs with a fixed set of compiler threads
  // (-XX:-UseDynamicNumberOfCompilerThreads), so the set found at the first
  // call covers every compile of the run.
  private lazy val compilerTasks: Seq[java.nio.file.Path] = {
    val tasks = java.nio.file.Paths.get("/proc/self/task")
    scala.util.Using.resource(java.nio.file.Files.list(tasks))(_.iterator.asScala.toList).filter { t =>
      scala.util.Try(java.nio.file.Files.readString(t.resolve("comm")))
        .toOption.exists(c => c.startsWith("C1 CompilerThre") || c.startsWith("C2 CompilerThre"))
    }
  }

  /** CPU time of the JIT compiler threads (scheduler run time), ms. */
  def compilerCpuMs(): Double = compilerTasks.map { t =>
    scala.util.Try(java.nio.file.Files.readString(t.resolve("schedstat")).trim.split(' ')(0).toDouble)
      .getOrElse(0.0)
  }.sum / 1e6

  /** The JIT compilers' accumulated compile time, ms. */
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** The largest heap in use right after a collection, over every collection
  * of the run: the program's live data plus what it has not yet released,
  * apart from how far the collector chose to grow the heap. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData

  private val peak = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peak.get / (1024.0 * 1024.0)

  /** Heap in use right after a full collection, MB: what the program keeps.
    * The least of five collections 250 ms apart, so that one of them falls
    * between two triggers of a query that is still running. */
  def liveMb(): Double = (1 to 5).map { i =>
    if (i > 1) Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

/** One benchmark run in this JVM. run.py builds the classpath and calls
  *
  * {{{perfbench.Main <workload> <seed> <seconds> <trace 0|1> <outDir> <sfDir> <t0 epoch µs>}}}
  *
  * and reads `<outDir>/result.json`. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, out, sfDir, t0S) = args
    val (seed, seconds, traced, t0Us) =
      (seedS.toLong, secondsS.toInt, traceS == "1", t0S.toLong)
    HeapWatch.start()
    val work = Paths.get(out, "work").toString
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(graft.util.Tables.MinScanPartitionsConf, math.min(cpus, 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage, task and SQL execution up
      // to these caps; low caps are reached early in every run, so the live
      // heap at run end does not depend on how many triggers the window held
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] ${(Clock.us() - t0Us) / 1e6}%.2f s: session up")
    val spans = new Spans(traced)
    val stats = if (!traced) None else {
      val s = new JobStats(streamingOrGroupKey)
      spark.sparkContext.addSparkListener(s)
      Some(s)
    }
    val res =
      try workload match {
        case "stream_steady" =>
          Streaming.run(spark, seed, seconds, spans, stats, work, t0Us)
        case w if Twins.Sets.contains(w) =>
          Twins.run(spark, w, sfDir, seconds, spans, stats, out, t0Us)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    write(out, workload, seed, res, spans)
    stats.foreach { s =>
      Files.writeString(Paths.get(out, "jobs.jsonl"), s.jobs.asScala.toSeq.sortBy(_._2).map {
        case (k, id, a, b) => s"""{"job":$id,"key":${Json.str(k)},"start_ms":$a,"ms":${b - a}}"""
      }.mkString("", "\n", "\n"))
      Files.writeString(Paths.get(out, "jobgroups.jsonl"), s.snapshot.toSeq.sortBy(_._1).map {
        case (k, a) => Json.obj(Seq("key" -> Json.str(k), "jobs" -> a.jobs.toString,
          "stages" -> a.stages.toString, "tasks" -> a.tasks.toString,
          "task_cpu_ms" -> (a.cpuNs / 1000000L).toString, "task_run_ms" -> a.runMs.toString,
          "shuffle_bytes" -> a.shuffleBytes.toString, "gc_ms" -> a.gcMs.toString))
      }.mkString("", "\n", "\n"))
    }
  }

  /** Listener key: `queryId/batch` for jobs of a streaming trigger, else the
    * job group the twins set around each build and execution. */
  private def streamingOrGroupKey(p: java.util.Properties): String =
    Option(p.getProperty("sql.streaming.queryId")) match {
      case Some(qid) =>
        val batch = Option(p.getProperty("spark.job.description")).flatMap(d =>
          """batch = (\d+)""".r.findFirstMatchIn(d).map(_.group(1))).getOrElse("?")
        s"$qid/$batch"
      case None => Option(p.getProperty("spark.jobGroup.id")).getOrElse("other")
    }

  private def peakRssMb(): Double =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)

  private def write(out: String, workload: String, seed: Long, res: Result,
      spans: Spans): Unit = {
    val e2e = res.e2e ++ Map("peak_rss_mb" -> peakRssMb(), "peak_heap_mb" -> HeapWatch.peakMb)
    def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Json.num(v) })
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "errors" -> res.errors.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> nums(e2e),
      "layer" -> nums(res.layer),
      "info" -> Json.obj(res.info.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })))
    val dir = Paths.get(out)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("records.jsonl"), res.rows.mkString("", "\n", "\n"))
    if (spans.on) {
      val all = spans.all
      Files.writeString(dir.resolve("spans.jsonl"), all.map(Spans.json).mkString("", "\n", "\n"))
      val table = Spans.selfTable(all)
      Files.writeString(dir.resolve("selftime.json"), table.map { case (n, l, c, tot, self) =>
        Json.obj(Seq("span" -> Json.str(n), "layer" -> Json.str(l), "count" -> c.toString,
          "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
      }.mkString("[", ",\n", "]\n"))
    }
    Files.writeString(dir.resolve("result.json"), json + "\n")
  }
}
