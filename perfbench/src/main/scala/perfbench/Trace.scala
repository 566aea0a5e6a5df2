package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Wall clock in microseconds. It advances with `nanoTime`, so intervals are
  * monotonic, and it is anchored to epoch time, so it lines up with the
  * millisecond timestamps in Spark's streaming progress reports. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One timed interval. `trace` groups the spans of one request (an epoch of a
  * streaming query, or a twin query's name); `parent` is filled in when the
  * run ends, from the epoch or from time containment. */
final case class Span(name: String, trace: String, startUs: Long, endUs: Long,
    parent: Option[Span] = None) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Off, it records nothing, so the untraced run
  * pays only a branch per span. */
final class Spans(val on: Boolean) extends Serializable {
  private val q = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (on) q.add(s)
  def all: Seq[Span] = q.asScala.toSeq
  def replace(ss: Seq[Span]): Unit = { q.clear(); ss.foreach(q.add) }
}

object Spans {

  /** Layer of a span name, for the self-time table. */
  def layer(name: String): String =
    if (name.startsWith("query.")) "queries"
    else if (name == "lookup" || name == "mgmt.put") "http"
    else if (name == "sink.valid") "streaming+validation"
    else "streaming"

  /** Duration of `s` not covered by the union of its children's intervals. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durUs - covered
  }

  /** Rows of (span name, layer, count, total ms, self ms), by name. */
  def selfTable(spans: Seq[Span]): Seq[(String, String, Int, Double, Double)] = {
    val kids = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val self = ss.map(s => selfUs(s, kids.getOrElse(s, Nil))).sum
      (name, layer(name), ss.size, ss.map(_.durUs).sum / 1000.0, self / 1000.0)
    }
  }

  def json(s: Span): String =
    s"""{"name":${Json.str(s.name)},"trace":${Json.str(s.trace)},""" +
      s""""start_us":${s.startUs},"end_us":${s.endUs},""" +
      s""""parent":${s.parent.map(p => Json.str(s"${p.name}@${p.trace}")).getOrElse("null")}}"""
}

/** Spark job, stage and task totals for one group of jobs. */
final class JobAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Public SparkListener that attributes every job, completed stage and
  * finished task to a key computed from the job's local properties: the job
  * group for the twins, `queryId/batch` for streaming triggers. */
final class JobStats(keyOf: java.util.Properties => String) extends SparkListener {
  private val stageKey = TrieMap.empty[Int, String]
  private val agg = TrieMap.empty[String, JobAgg]
  @volatile private var started = 0L
  @volatile private var ended = 0L
  private val jobKey = TrieMap.empty[Int, (String, Long)]
  /** (key, job id, start ms, end ms), one per finished job */
  val jobs = new ConcurrentLinkedQueue[(String, Int, Long, Long)]()

  private def of(key: String): JobAgg = agg.getOrElseUpdate(key, new JobAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val key = Option(e.properties).map(keyOf).getOrElse("other")
    of(key).jobs += 1
    jobKey(e.jobId) = (key, e.time)
    e.stageIds.foreach(stageKey(_) = key)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobKey.remove(e.jobId).foreach { case (k, t0) => jobs.add((k, e.jobId, t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => of(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val a = of(k)
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def settle(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(50)
    while (ended < started && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def snapshot: Map[String, JobAgg] = synchronized(agg.toMap)
}

/** Minimal JSON writing for the result files. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
