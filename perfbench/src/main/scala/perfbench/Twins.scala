package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The batch-twin suite: named `SparkEntry.queries`, closed loop, one query
  * at a time. Each query is built with `fn(spark, sf)` and executed with
  * `collect()`, so the correctness gate checks the very rows the last timed pass
  * returned. */
object Twins {

  /** The retrieval set: the corpus/Retrieval layer. BM25 scoring, RM3
    * feedback and its second pass, and scoring against a held-out corpus
    * cover four of Retrieval's five (doc, term) tf sites. */
  val Retrieval: Seq[String] = Seq("x60_bm25", "x87_rm3", "x92_rm3_against")

  val Sets: Map[String, Seq[String]] = Map("twins_retrieval" -> Retrieval)

  /** Wall time of one steady retrieval pass at sf0.01 on a 4-core host, s:
    * the window is sized in passes of this length. */
  private val PassSeconds = 7.5

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Workload manifest guard: a renamed or removed query must fail the run,
    * never silently shrink the suite. */
  def guard(names: Seq[String]): Unit = {
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val noOracle = names.filterNot(SparkEntry.oracleSql.contains)
    require(noOracle.isEmpty, s"queries without an oracle: ${noOracle.mkString(", ")}")
  }

  private final case class Run(name: String, pass: Int, buildUs: Long, execUs: Long,
      cpuMs: Double, rows: Array[Row], schema: StructType)

  def run(spark: SparkSession, workload: String, sfDir: String, seconds: Int,
      spans: Spans, stats: Option[JobStats], out: String, t0Us: Long): Result = {
    val names = Sets(workload)
    guard(names)
    val sc = spark.sparkContext
    // warm the session and every table load, as graft.Bench does
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark.range(100000).groupBy(org.apache.spark.sql.functions.expr("id % 7")).count().collect()
    Tables.foreach(t => graft.util.Tables.table(spark, sfDir, t).count())

    val errors = mutable.ArrayBuffer.empty[String]
    def one(name: String, pass: Int): Option[Run] = {
      val fn = SparkEntry.queries(name)
      try {
        sc.setJobGroup(s"$pass|$name|build", name)
        val cpu0 = Stats.cpuMs()
        val t0 = Clock.us()
        val df = fn(spark, sfDir)
        val t1 = Clock.us()
        sc.setJobGroup(s"$pass|$name|exec", name)
        val rows = df.collect()
        val t2 = Clock.us()
        val cpu = Stats.cpuMs() - cpu0
        if (pass > 0) {
          spans.add(Span("query.build", s"$name/$pass", t0, t1))
          spans.add(Span("query.exec", s"$name/$pass", t1, t2))
        }
        Some(Run(name, pass, t1 - t0, t2 - t1, cpu, rows, df.schema))
      } catch {
        case e: Exception =>
          if (errors.size < 10) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally {
        sc.clearJobGroup()
        // between-query hygiene outside the timed region, as graft.Bench:
        // lets the ContextCleaner reclaim earlier queries' broadcasts and
        // shuffles so later queries do not pay for them
        System.gc()
      }
    }

    // the cold pass (plan + codegen + first execution) is set-up
    names.foreach(one(_, 0))
    // Steady passes, closed loop: as many as fill the window on a 4-core
    // host, whatever the host does during the run. The queries' CPU per pass
    // still falls a few percent a pass as the JIT catches up with Spark's
    // freshly generated classes (each pass compiles new ones), so a window
    // that held more passes on a quiet host would report less CPU.
    val nPasses = math.max(2, math.round(seconds / PassSeconds).toInt)
    val windowStart = Clock.us()
    val jit0 = Stats.compilerCpuMs()
    val passes = mutable.ArrayBuffer.empty[Seq[Option[Run]]]
    while (passes.size < nPasses) {
      val t = Clock.us()
      passes += names.map(one(_, passes.size + 1))
      System.err.println(f"[perfbench] pass ${passes.size}: ${(Clock.us() - t) / 1e6}%.2f s, " +
        f"${passes.last.flatten.map(_.cpuMs).sum / names.size}%.0f CPU ms per query, " +
        f"JIT ${Stats.jitMs()} ms, ${Stats.compilerCpuMs()}%.0f CPU ms so far, " +
        s"${org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount} " +
        "Spark codegen compiles so far")
    }
    val jitMs = Stats.compilerCpuMs() - jit0
    val liveMb = HeapWatch.liveMb()
    val ok = passes.flatten.flatten
    val perQuery = ok.map(r => (r.buildUs + r.execUs) / 1000.0).toArray
    // suite time: the sum over queries of each query's median pass time, so
    // one slow pass of one query on a shared host does not move it
    val suiteMs = ok.groupBy(_.name).values
      .map(rs => Stats.pct(rs.map(r => (r.buildUs + r.execUs) / 1000.0).toArray, 50)).sum

    // the last pass's rows go to the oracle check (run.py runs the DuckDB
    // compare over them)
    val resDir = Paths.get(out, "results")
    Files.createDirectories(resDir)
    passes.last.flatten.foreach { r =>
      spark.createDataFrame(r.rows.toList.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(resDir.resolve(r.name).toString)
    }
    Files.writeString(resDir.resolve("oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(SparkEntry.oracleSql(n)))))

    val last = passes.size
    val agg: Map[String, JobAgg] = stats.map { s => s.settle(); s.snapshot }.getOrElse(Map.empty)
    def phase(name: String, ph: String) = agg.get(s"$last|$name|$ph")
    def sumOf(ph: Seq[String], f: JobAgg => Double) =
      names.flatMap(n => ph.flatMap(phase(n, _))).map(f).sum
    val both = Seq("build", "exec")
    val lastRuns = passes.last.flatten
    val lastWallUs = lastRuns.map(r => r.buildUs + r.execUs).sum.toDouble
    val cores = sc.defaultParallelism
    val layer = Map(
      "queries.build_s" -> lastRuns.map(_.buildUs).sum / 1e6,
      "queries.build_jobs" -> sumOf(Seq("build"), _.jobs),
      "queries.exec_s" -> lastRuns.map(_.execUs).sum / 1e6,
      "queries.exec_jobs" -> sumOf(Seq("exec"), _.jobs),
      "queries.stages" -> sumOf(both, _.stages),
      "queries.tasks" -> sumOf(both, _.tasks.toDouble),
      "queries.task_cpu_s" -> sumOf(both, _.cpuNs / 1e9),
      "queries.shuffle_bytes" -> sumOf(both, _.shuffleBytes.toDouble),
      "queries.spill_bytes" -> sumOf(both, _.spillBytes.toDouble),
      "queries.gc_s" -> sumOf(both, _.gcMs / 1e3),
      "queries.slots_busy" ->
        (if (lastWallUs > 0) sumOf(both, _.runMs * 1e3) / (lastWallUs * cores) else 0.0))
    val rows = ok.map { r =>
      val b = agg.get(s"${r.pass}|${r.name}|build")
      val e = agg.get(s"${r.pass}|${r.name}|exec")
      val aggs = b.toSeq ++ e.toSeq
      s"""{"query":"${r.name}","pass":${r.pass},"build_s":${r.buildUs / 1e6},""" +
        s""""exec_s":${r.execUs / 1e6},"cpu_ms":${r.cpuMs},"rows":${r.rows.length},""" +
        s""""build_jobs":${b.map(_.jobs).getOrElse(0)},"exec_jobs":${e.map(_.jobs).getOrElse(0)},""" +
        s""""stages":${aggs.map(_.stages).sum},"shuffle_bytes":${aggs.map(_.shuffleBytes).sum}}"""
    }
    Result(
      windowStartUs = windowStart,
      e2e = Map(
        "setup_s" -> (windowStart - t0Us) / 1e6,
        "latency_p50_ms" -> Stats.pct(perQuery, 50),
        "latency_p90_ms" -> Stats.pct(perQuery, 90),
        "close_ms" -> suiteMs,
        "throughput_per_s" -> names.size / (suiteMs / 1e3),
        "cpu_ms_per_op" -> ok.groupBy(_.name).values
          .map(rs => Stats.pct(rs.map(_.cpuMs).toArray, 50)).sum / names.size,
        "live_heap_mb" -> liveMb),
      layer = Map("bench.gen_late_ms_max" -> 0.0, "bench.backlog_records" -> 0.0,
        "jvm.jit_cpu_ms_per_op" -> jitMs / math.max(1, passes.map(_.size).sum)) ++ layer,
      info = Map("passes" -> passes.size.toString, "queries" -> names.size.toString,
        "sf_dir" -> sfDir),
      attempted = passes.map(_.size).sum.toLong,
      failed = passes.map(_.count(_.isEmpty)).sum.toLong,
      errors = errors.toSeq,
      rows = rows.toSeq)
  }
}
