package graft.tools

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The diagnostics report reads metrics in their real units and counts the
  * jobs its own execution ran. Pinned on a known plan: a `groupBy` over 4
  * range partitions, so the partial aggregate runs exactly 4 tasks. */
class DiagnoseSpec extends AnyFunSuite with SparkSpec with Matchers
    with AdaptiveSparkPlanHelper {

  test("report: averages per task, nsTiming in ms, and the listener's job count") {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def execId(p: java.util.Properties): String =
      Option(p).map(_.getProperty(SQLExecution.EXECUTION_ID_KEY)).orNull
    val seen = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(execId(e.properties)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(String.valueOf(execId(e.properties)))
    }
    // the partial aggregate probes the regular hash map (as the tf aggregate
    // of x87 does) only without the two-level fast map in front of it
    val twoLevel = "spark.sql.codegen.aggregate.map.twolevel.enabled"
    val saved = spark.conf.getOption(twoLevel)
    spark.conf.set(twoLevel, "false")
    spark.sparkContext.addSparkListener(seen)
    val df = spark.range(0, 40000, 1, 4).groupBy((col("id") % 1000).as("k")).count()
    // a job another thread runs during construction is not the query's (the
    // thread is made here: a thread made inside a phase inherits its tag)
    val other = new Thread(() => spark.range(10).count())
    val r = try Diagnose.report(spark, "groupBy", () => {
      if (other.getState == Thread.State.NEW) { other.start(); other.join() }
      df
    })
    finally {
      GraftExpressionBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(seen)
      saved.fold(spark.conf.unset(twoLevel))(spark.conf.set(twoLevel, _))
    }
    val plan = df.queryExecution.executedPlan
    def shown(accumulatorId: Long): String =
      r.metrics.find(_.accumulatorId == accumulatorId).map(_.value).getOrElse(
        fail(s"metric $accumulatorId missing from the report"))

    // avgHashProbe: raw is ×10 per task and summed over the 4 partial tasks
    val partial = collect(plan) {
      case h: HashAggregateExec if h.requiredChildDistributionExpressions.isEmpty => h
    }.head
    val probe = partial.metrics("avgHashProbe")
    probe.value should be >= 10L * 4
    val perTask = """\(([\d.]+), ([\d.]+), ([\d.]+) \(stage [\d.]+: task \d+\)\)""".r
    shown(probe.id) match {
      case perTask(min, med, max) =>
        Seq(min, med, max).map(_.toDouble).foreach { v =>
          v should (be >= 1.0 and be < 1.5) // about one probe per key
        }
      case other => fail(s"avgHashProbe rendered as '$other'")
    }

    // shuffle write time is an nsTiming metric: raw nanoseconds, shown in ms
    val write = collect(plan) { case s: ShuffleExchangeExec => s }.head
      .metrics("shuffleWriteTime")
    val totalMs = """(\d+) ms \(\d+ ms, \d+ ms, \d+ ms \(stage [\d.]+: task \d+\)\)""".r
    shown(write.id) match {
      case totalMs(ms) => ms.toLong shouldBe write.value / 1000000L
      case other => fail(s"shuffle write time rendered as '$other'")
    }

    // the execution's jobs and stages are the ones the listener attributed to
    // this execution id; construction of a range/groupBy launches none, and
    // the other thread's job is not counted
    val id = r.executionId.toString
    r.exec.jobs should be > 0
    r.exec.jobs shouldBe jobs.toArray.count(_ == id)
    r.exec.stages.size shouldBe stages.toArray.count(_ == id)
    r.build.jobs shouldBe 0
    r.build.stages shouldBe Nil
    r.plan should include("== Final Plan ==")
  }

  test("report: codegen compiles per phase, a codegen-cache hit counts none") {
    // a literal no other query holds makes the generated source new, so its
    // first execution compiles; the same query built again generates the
    // same source, which Spark's codegen cache serves
    val salt = System.nanoTime()
    def build() = spark.range(0, 1000, 1, 2)
      .select((col("id") * salt % 7919).as("x")).filter(col("x") > 3)
    val first = Diagnose.report(spark, "salted", () => build())
    val again = Diagnose.report(spark, "salted", () => build())
    first.exec.compiles should be >= 1L
    again.exec.compiles should be < first.exec.compiles
    val lines = Diagnose.render(first).linesIterator.toSeq
    for ((phase, w) <- Seq("build" -> first.build, "exec" -> first.exec))
      lines.exists(l => l.startsWith(s"$phase: ") &&
        l.contains(s" compiles=${w.compiles} ")) shouldBe true
  }
}
