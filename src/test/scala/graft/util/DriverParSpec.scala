package graft.util

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[DriverPar.settleAll]] — the shared concurrent-driver-action
  * discipline (x49 plane builds, x92 artifact builds). Pins: input-order
  * results, genuine concurrency (dedicated threads, not caller-serial),
  * and the settle-ALL rule — the first failure rethrows only after every
  * sibling finished (Spark jobs can't be cancelled through a thread
  * handle; abandoning one would leak running work). */
class DriverParSpec extends AnyFunSuite with Matchers {

  test("results come back in input order, not completion order") {
    val out = DriverPar.settleAll(Seq(
      () => { Thread.sleep(120); "slow" },
      () => "fast"))
    out shouldBe Seq("slow", "fast")
  }

  test("thunks genuinely overlap on dedicated threads") {
    val gate = new java.util.concurrent.CountDownLatch(2)
    // each thunk blocks until BOTH have started: serial execution would
    // deadlock, so completing at all proves concurrency
    val out = DriverPar.settleAll(Seq.fill(2)(() => {
      gate.countDown()
      gate.await(10, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      Thread.currentThread().getName
    }))
    out.foreach(_ should startWith("graft-driver-par-"))
    out.toSet should have size 2
  }

  test("a failing thunk rethrows only after every sibling settled, and " +
      "the TEMPORALLY first failure wins (later ones are usually its " +
      "cancellation artifacts)") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      DriverPar.settleAll[Any](Seq(
        () => { Thread.sleep(200); throw new RuntimeException("later") },
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(150); finished.set(true) }))
    }
    e.getMessage shouldBe "first"
    finished.get() shouldBe true // the non-Spark sibling ran to completion
  }
}

/** The Spark half of the [[DriverPar]] contract: the first failure CANCELS
  * sibling jobs mid-stage instead of letting them burn to completion — on
  * a real cluster a failed plane must not keep its siblings computing
  * results nobody will read — and the thunks' jobs stay in the CALLER's
  * job group, so the caller's own cancellation and accounting reach them. */
class DriverParCancelSpec extends AnyFunSuite with graft.SparkSpec
    with Matchers {
  test("first failure cancels a sibling's running Spark job group and the " +
      "root cause — not the cancellation artifact — rethrows") {
    val s = spark
    import org.apache.spark.sql.functions.{col, udf}
    // the cancellation evidence is the OBSERVABLE work count, not wall
    // clock: a wall-clock bound on a shared box with documented ~30%
    // co-tenant swings can flake with no product bug (r18 advice). Spark
    // folds accumulator updates from SUCCESSFUL tasks only, so a killed
    // task contributes nothing — an uncancelled sibling would fold all
    // 12 000 rows, a cancelled one only the rows of tasks that finished
    // before the kill landed.
    val seen = s.sparkContext.longAccumulator("driverpar-cancel-rows")
    val slow = udf((_: Long) => { seen.add(1); Thread.sleep(10); true })
    // warm the plan shape OUTSIDE the measured window: cancelJobGroup
    // kills IN-FLIGHT jobs only, so the sibling must already be running
    // tasks when the failure lands — a cold first-job compile would race it
    s.range(8).repartition(4).filter(slow(col("id"))).count()
    seen.reset()
    val e = intercept[RuntimeException] {
      DriverPar.settleAll[Any](Seq(
        () => { Thread.sleep(1500); throw new RuntimeException("root cause") },
        // 4 tasks × 3 000 rows × 10 ms ≈ 30 s natural runtime
        () => s.range(12000).repartition(4)
          .filter(slow(col("id"))).count()))
    }
    e.getMessage shouldBe "root cause"
    withClue(s"rows folded from successful tasks: ${seen.value} of 12000 — " +
        "an uncancelled sibling runs to completion and folds them all: ") {
      seen.value.longValue should be < 12000L
    }
  }

  test("thunk jobs run in the CALLER's job group: they carry its id, and " +
      "the caller's cancelJobGroup stops a running thunk job") {
    val s = spark
    val sc = s.sparkContext
    import org.apache.spark.sql.functions.{col, udf}
    val group = s"driverpar-caller-${System.nanoTime}"
    // jobs are found by a caller-set local property that every spawned
    // thread inherits, whatever job group or tags the threads carry
    val marker = "graft.spec.driverpar.marker"
    val sentinel = s"$group-sentinel"
    val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    @volatile var sentinelSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty(marker) == group) jobGroups.put(e.jobId,
            String.valueOf(p.getProperty("spark.jobGroup.id")))
          if (p.getProperty(marker) == sentinel) sentinelSeen = true
        }
    }
    val seen = sc.longAccumulator("driverpar-caller-rows")
    val slow = udf((_: Long) => { seen.add(1); Thread.sleep(10); true })
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "driverpar caller group")
    try {
      sc.setLocalProperty(marker, group)
      DriverPar.settleAll(Seq(() => s.range(10).count(),
        () => s.range(20).repartition(2).count())) shouldBe Seq(10L, 20L)
      // the listener bus delivers in order: once a later caller job's start
      // is seen, every thunk job's start has been seen
      sc.setLocalProperty(marker, sentinel)
      s.range(1).count()
      val deadline = System.nanoTime + 30000000000L
      while (!sentinelSeen && System.nanoTime < deadline) Thread.sleep(20)
      sentinelSeen shouldBe true
      withClue("job groups of the thunks' jobs: ") {
        jobGroups.isEmpty shouldBe false
        jobGroups.values.toArray.toSet shouldBe Set(group)
      }
      // the caller cancels its own group while the thunk's job runs. It
      // keeps cancelling until settleAll returns, so a cancel that lands
      // between two of the action's jobs (AQE stages) cannot let the next
      // one run; cancelJobGroup never touches jobs not yet submitted
      @volatile var settled = false
      val canceller = new Thread(() => {
        while (!settled) { sc.cancelJobGroup(group); Thread.sleep(50) }
      })
      canceller.setDaemon(true)
      canceller.start()
      val e = try intercept[Exception] {
        // 4 tasks × 3 000 rows × 10 ms ≈ 30 s natural runtime
        DriverPar.settleAll(Seq(() => s.range(12000).repartition(4)
          .filter(slow(col("id"))).count()))
      } finally { settled = true; canceller.join() }
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        .toLowerCase should include("cancel")
      withClue(s"rows folded from successful tasks: ${seen.value} of " +
          "12000 — a job outside the caller's group runs to completion: ") {
        seen.value.longValue should be < 12000L
      }
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(marker, null)
      sc.removeSparkListener(listener)
    }
  }
}
