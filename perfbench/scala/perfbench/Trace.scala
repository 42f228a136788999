package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Everything one run measures, kept in memory and written out once at the
  * end: set-up times, timed ops, workload facts, and (traced runs only)
  * spans and Spark jobs. Times are epoch milliseconds with sub-millisecond
  * precision, so spans line up with the listener's job times. */
final class Recorder(val trace: Boolean, val runId: String) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val jobs = new JobLog

  private var stack = List.empty[Int]

  /** A span around a call into one of the program's modules (traced runs
    * only; the driver thread is the only caller). */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Map.empty // reserve the id; filled in when the span ends
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        spans(id) = Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_ms" -> start, "end_ms" -> nowMs, "run" -> runId)
      }
    }

  /** A span whose interval the program recorded (e.g. a crawl round,
    * bounded by two manifest commit times). */
  def derivedSpan(name: String, startMs: Double, endMs: Double, parent: Int): Unit =
    if (trace) spans += Map("id" -> spans.length, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs, "run" -> runId)

  def lastSpanId: Int = spans.length - 1

  /** Times one set-up step: "prepare" (inputs and caches, repeated so the
    * median is stable) or "warm" (the untimed first passes). */
  def setup[T](kind: String)(body: => T): T = {
    val t0 = nowMs
    val r = body
    setups += Map("kind" -> kind, "s" -> (nowMs - t0) / 1000.0)
    r
  }

  /** One timed op; an exception is a failed op. */
  def op(name: String)(body: => Outcome): Boolean = {
    val t0 = nowMs
    val (o, err) =
      try (body, "")
      catch { case e: Exception => (Outcome(0L, ok = false), s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    addOp(name, t0, nowMs, o.items, o.ok, o.attempted, err)
    o.ok
  }

  def addOp(name: String, startMs: Double, endMs: Double, items: Long, ok: Boolean,
            attempted: Long = 1, err: String = ""): Unit =
    ops += Map("name" -> name, "start_ms" -> startMs, "end_ms" -> endMs,
      "items" -> items, "ok" -> ok, "attempted" -> attempted, "error" -> err.take(300))

  /** Closed loop for the measured window: issue the next op only after the
    * previous one completed, until `seconds` have passed (at least once). */
  def loop(seconds: Int)(body: Int => Unit): Unit = {
    val end = nowMs + seconds * 1000.0
    var i = 0
    while (i == 0 || nowMs < end) { body(i); i += 1 }
  }
}

/** What one op did: items processed, whether its output checked out, and
  * how many ops in the sense of the failure count it stands for. */
final case class Outcome(items: Long, ok: Boolean, attempted: Long = 1)

/** Attributes every Spark job to the program frames of its call site. The
  * SQL execution's `details` carries the long call site even for AQE stage
  * jobs, whose own `callSite.short` is lost; jobs outside any SQL execution
  * fall back to their `callSite.long` property. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val frames: Seq[String]) {
    @volatile var endMs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
  }
  private val details = new ConcurrentHashMap[Long, String]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => details.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id").flatMap(id => Option(details.get(id.toLong)))
      .orElse(prop("callSite.long"))
      .getOrElse("")
    jobs.put(e.jobId, new Job(e.jobId, e.time, JobLog.graftFrames(site)))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).map(id => jobs.get(id)).orNull
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      val info = e.taskInfo
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
    }
  }

  def snapshot(): Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "frames" -> j.frames,
      "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
      "sched_s" -> j.schedMs / 1e3, "shuffle_write" -> j.shuffleWrite,
      "shuffle_read" -> j.shuffleRead, "spill" -> j.spill, "input" -> j.input))
  }
}

object JobLog {
  /** Program classes on a call-site stack, innermost first:
    * `graft.state.SeenStore$Store.append(SeenStore.scala:90)` becomes
    * `graft.state.SeenStore`. Frames of the benchmark itself end the
    * program part of the stack. */
  def graftFrames(callSite: String): Seq[String] = {
    val lines = callSite.split("\n").map(_.trim)
    lines.takeWhile(l => !l.startsWith("perfbench."))
      .filter(_.startsWith("graft."))
      .map { l =>
        val method = l.takeWhile(_ != '(')
        method.substring(0, math.max(0, method.lastIndexOf('.'))).takeWhile(_ != '$')
      }
      .filter(_.nonEmpty)
      .toSeq
  }
}
