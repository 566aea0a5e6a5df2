package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Per-query diagnosis of `SparkEntry` queries on the bench's own session
  * ([[graft.util.LocalSession]]) — a local tool, not part of the bench or
  * verify protocol. Per query: the phase split (construction, analysis,
  * optimization, physical planning, first execution, and a warm rerun timed
  * as `Bench` times it: construction + `count()`); the Spark jobs and stages
  * launched during construction and during execution, with each stage's
  * wall time, task count and summed executor run time, the SQL executions
  * (actions) that launched them, and the Spark codegen compiles the phase
  * caused; the final adaptive plan; and every
  * operator's metrics as the SQL tab renders them, read from
  * the query's own execution in the SQL status store. Raw `SQLMetric.value`
  * misleads: an `average` metric is stored ×10 and summed over tasks, and an
  * `nsTiming` metric is in nanoseconds. The first execution runs the
  * DataFrame's own `QueryExecution`, not a `count()` (which would plan a
  * different query), so the metrics belong to the plan printed.
  *
  * Usage: `runMain graft.tools.Diagnose <sfDir> <queryName...>` (cores from
  * `SPARK_GRAFT_CPUS`, as every local main; `SPARK_GRAFT_CONF` as in
  * `Bench`). */
object Diagnose {

  /** A completed stage: summed executor run time over its tasks. */
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long, taskMs: Long)

  /** Jobs started and stages completed inside one phase, the SQL
    * executions it started (`actions`: one per Dataset action such as a
    * construction-time `collect`, however many jobs AQE splits it into),
    * and the Spark codegen compiles it ran
    * (`CodegenMetrics.METRIC_COMPILATION_TIME`'s count: one per generated
    * class compiled, a codegen-cache hit adds none). The compile count is
    * JVM-wide — unlike the jobs and actions it is not tagged — so a
    * compile on another thread during the phase counts too. */
  final case class Work(jobs: Int, actions: Int, stages: Seq[Stage], compiles: Long)

  /** One operator metric, `value` as the SQL tab shows it. */
  final case class Metric(nodeId: Long, operator: String, accumulatorId: Long,
      name: String, value: String)

  final case class Report(name: String, seconds: Seq[(String, Double)], build: Work,
      exec: Work, executionId: Long, plan: String, metrics: Seq[Metric])

  private val PhaseTag = "graft.diagnose."

  /** The job property holding a job's tags (`SparkContext.SPARK_JOB_TAGS`,
    * private to Spark), comma-separated. */
  private val JobTagsKey = "spark.job.tags"

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Counts the jobs and SQL executions and records the stages a phase
    * launches. The phase tags them with a job tag of its thread, which
    * Spark copies onto every SQL execution and job the phase submits (from
    * AQE's and broadcast threads, and any thread the phase makes), so work
    * that other threads run on the same context is not counted. */
  private final class Recorder(spark: SparkSession) extends SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    private val stageTags = new java.util.concurrent.ConcurrentHashMap[Int, String]
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Stage)]
    private def phaseOf(tags: Iterable[String]): Option[String] =
      tags.collectFirst { case t if t.startsWith(PhaseTag) => t.stripPrefix(PhaseTag) }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      phaseOf(Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsKey)))
          .toSeq.flatMap(_.split(",")))
        .foreach { t => jobs.add(t); e.stageIds.foreach(stageTags.put(_, t)) }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => phaseOf(s.jobTags).foreach(actions.add)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s)
        .getOrElse(-1L)
      Option(stageTags.get(i.stageId)).foreach(t => stages.add(t -> Stage(i.stageId,
        i.name.takeWhile(_ != '\n').take(60), i.numTasks, wall,
        i.taskMetrics.executorRunTime)))
    }
    def during[A](phase: String)(f: => A): (A, Work) = {
      val sc = spark.sparkContext
      val compiles0 = codegenCompiles
      sc.addJobTag(PhaseTag + phase)
      val a = try f finally sc.removeJobTag(PhaseTag + phase)
      val compiles = codegenCompiles - compiles0
      GraftExpressionBridge.drainListenerBus(spark)
      (a, Work(jobs.asScala.count(_ == phase), actions.asScala.count(_ == phase),
        stages.asScala.collect { case (`phase`, s) => s }.toSeq, compiles))
    }
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Diagnose the query `build` constructs (called twice: first and warm). */
  def report(spark: SparkSession, name: String, build: () => DataFrame): Report = {
    val rec = new Recorder(spark)
    spark.sparkContext.addSparkListener(rec)
    try {
      System.gc()
      val ((df, tBuild), buildWork) = rec.during("build")(timed(build()))
      val qe = df.queryExecution
      val (_, tAnalyze) = timed(qe.analyzed)
      val (_, tOptimize) = timed(qe.optimizedPlan)
      val (_, tPlan) = timed(qe.executedPlan)
      val ((executionId, tExec), execWork) = rec.during("exec")(timed(
        SQLExecution.withNewExecutionId(qe, Some(name)) {
          qe.executedPlan.execute().foreach(_ => ())
          spark.sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY).toLong
        }))
      val store = GraftExpressionBridge.sqlStatusStore(spark)
      val values = store.executionMetrics(executionId)
      val metrics = for {
        node <- store.planGraph(executionId).allNodes.toSeq
        m <- node.metrics
        v <- values.get(m.accumulatorId)
      } yield Metric(node.id, node.name, m.accumulatorId, m.name,
        v.trim.linesIterator.toSeq.last)
      val plan = qe.explainString(ExplainMode.fromString("formatted"))
      System.gc()
      val (_, tWarm) = timed(build().count())
      Report(name,
        Seq("build" -> tBuild, "analyze" -> tAnalyze, "optimize" -> tOptimize,
          "plan" -> tPlan, "exec" -> tExec, "warm" -> tWarm),
        buildWork, execWork, executionId, plan, metrics)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  def render(r: Report): String = {
    val sb = new StringBuilder
    def line(s: String): Unit = sb.append(s).append('\n')
    line(s"===== ${r.name} =====")
    line(r.seconds.map { case (k, v) => f"$k=$v%.3f" }.mkString("seconds: ", " ", ""))
    for ((phase, w) <- Seq("build" -> r.build, "exec" -> r.exec)) {
      line(s"$phase: jobs=${w.jobs} actions=${w.actions} stages=${w.stages.size} " +
        s"compiles=${w.compiles} " +
        s"wallSum=${w.stages.map(_.wallMs).sum}ms taskTimeSum=${w.stages.map(_.taskMs).sum}ms")
      w.stages.sortBy(-_.wallMs).take(12).foreach { s =>
        line(f"  s${s.id}%-5d ${s.wallMs}%6dms tasks=${s.tasks}%-4d " +
          f"taskTime=${s.taskMs}%6dms  ${s.name}")
      }
    }
    sb.append(r.plan)
    line(s"metrics (execution ${r.executionId}; sizes and times: total (min, med, max) " +
      "over tasks; averages: (min, med, max)):")
    r.metrics.indices.foreach { i =>
      val m = r.metrics(i)
      if (i == 0 || r.metrics(i - 1).nodeId != m.nodeId)
        line(s"  ${m.operator} [${m.nodeId}]")
      line(s"    ${m.name}: ${m.value}")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.Diagnose <sfDir> <queryName...>")
      sys.exit(2)
    }
    val dir = args.head
    val spark = graft.util.LocalSession.withConfPassthrough(graft.util.LocalSession())
    // warm the session so the first query is not charged for one-time start-up
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark.range(100000).groupBy(org.apache.spark.sql.functions.expr("id % 7"))
      .count().collect()
    args.tail.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      print(render(report(spark, n, () => fn(spark, dir))))
    }
    spark.stop()
  }
}
