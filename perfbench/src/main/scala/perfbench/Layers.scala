package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Summary statistics shared by the workloads. */
object Stats {
  /** Linear-interpolated quantile (the "inclusive" method: q = 0.5 is the
    * median, q = 0 the minimum). NaN for an empty sample; +Inf samples
    * (events never emitted) sort last, as they should. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      val frac = pos - lo
      if (frac == 0.0 || s(hi) == s(lo)) s(lo) else s(lo) + (s(hi) - s(lo)) * frac
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** JVM-wide counters read from the platform MXBeans. */
object Jvm {
  private val MB = 1024.0 * 1024.0

  def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / MB

  /** Heap occupancy right after a full collection: what the process keeps
    * live, independent of when the young collector last ran. The second
    * collection takes what Spark's ContextCleaner released after the first
    * (broadcasts and shuffles of plans that became unreachable). */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }
}

/** One span of the traced run: `parent` is the id of the span that caused
  * it; spans of one query share `query`. */
final case class Span(id: Int, parent: Int, name: String, query: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written out once when the run ends. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def newId(): Int = synchronized { nextId += 1; nextId }

  def span[A](parent: Int, name: String, query: String = "")(body: Int => A): A = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id)
    finally record(id, parent, name, query, t0, System.nanoTime())
  }

  /** Records a span timed by the caller (the run around its passes, a
    * micro-batch from its progress report). */
  def record(id: Int, parent: Int, name: String, query: String,
      startNs: Long, endNs: Long): Unit =
    synchronized { spans += Span(id, parent, name, query, startNs, endNs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span called `name` below one of the spans `under`:
    * its duration minus the part its direct children cover. */
  def selfSeconds(name: String, under: Set[Int]): Double = {
    val spans = all
    val byId = spans.map(s => s.id -> s).toMap
    val byParent = spans.groupBy(_.parent)
    def below(s: Span): Boolean = under(s.parent) || byId.get(s.parent).exists(below)
    spans.filter(s => s.name == name && below(s)).map { s =>
      s.seconds - byParent.getOrElse(s.id, Nil).map(_.seconds).sum
    }.sum
  }

  def toJsonLines: String = all.sortBy(_.startNs).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.mkString("", "\n", "\n")
}

/** Task- and job-level records from Spark's public listener bus. Each
  * record carries wall-clock times, so the workloads attribute them to
  * their own pass windows after the fact. */
final class TaskLog extends SparkListener {
  import TaskLog.Task

  private val tasks = ArrayBuffer.empty[Task]
  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  @volatile private var started = 0L
  @volatile private var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { started += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ended += 1
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks += Task(i.finishTime, i.successful, i.duration,
      g(_.executorRunTime), g(_.executorCpuTime), g(_.executorDeserializeTime),
      g(_.resultSerializationTime), i.gettingResultTime match { case 0L => 0L; case t => i.finishTime - t },
      g(_.inputMetrics.recordsRead), g(_.inputMetrics.bytesRead),
      g(_.shuffleReadMetrics.recordsRead),
      g(r => r.shuffleReadMetrics.localBytesRead + r.shuffleReadMetrics.remoteBytesRead),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleReadMetrics.fetchWaitTime),
      g(_.diskBytesSpilled))
  }

  private var attached = false

  /** Attaches or detaches the log; detaching first waits for the bus to
    * deliver what is in flight. */
  def listen(spark: SparkSession, on: Boolean): Unit =
    if (on && !attached) { spark.sparkContext.addSparkListener(this); attached = true }
    else if (!on && attached) { settle(); spark.sparkContext.removeSparkListener(this); attached = false }

  /** Waits until every started task has reported its end (the bus
    * delivers asynchronously), at most `timeoutMs`. */
  def settle(timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < started) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Thread.sleep(50)
  }

  /** Per-layer totals over the given wall-clock windows (ms), divided by
    * the number of windows: the figures of one average pass. */
  def perPass(windows: Seq[(Long, Long)], cores: Int): Map[String, Double] = synchronized {
    def in(t: Long) = windows.exists { case (a, b) => t >= a && t <= b }
    val ts = tasks.filter(t => in(t.finishMs)).toSeq
    val n = math.max(1, windows.size).toDouble
    val wallMs = windows.map { case (a, b) => (b - a).toDouble }.sum
    val MB = 1024.0 * 1024.0
    val delayMs = ts.map(t => (t.durationMs - t.runMs - t.deserMs - t.serMs - t.resultMs).max(0L)).sum
    Map(
      "scheduler.jobs" -> jobs.count(in) / n,
      "scheduler.stages" -> stages.count(in) / n,
      "scheduler.tasks" -> ts.size / n,
      "scheduler.delay_s" -> delayMs / 1000.0 / n,
      "scheduler.idle_frac" ->
        (if (wallMs <= 0) 0.0 else (1.0 - ts.map(_.durationMs).sum / (cores * wallMs)).max(0.0)),
      "scheduler.empty_task_frac" ->
        (if (ts.isEmpty) 0.0
         else ts.count(t => t.inRecords == 0 && t.shufReadRecords == 0).toDouble / ts.size),
      "scheduler.failed_tasks" -> ts.count(!_.ok) / n,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "executor.run_s" -> ts.map(_.runMs).sum / 1000.0 / n,
      "shuffle.write_mb" -> ts.map(_.shufWriteBytes).sum / MB / n,
      "shuffle.read_mb" -> ts.map(_.shufReadBytes).sum / MB / n,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1000.0 / n,
      "shuffle.spill_mb" -> ts.map(_.spillBytes).sum / MB / n,
      "sources.scan_rows" -> ts.map(_.inRecords).sum / n,
      "sources.scan_mb" -> ts.map(_.inBytes).sum / MB / n)
  }
}

object TaskLog {
  final case class Task(finishMs: Long, ok: Boolean, durationMs: Long,
      runMs: Long, cpuNs: Long, deserMs: Long, serMs: Long, resultMs: Long,
      inRecords: Long, inBytes: Long, shufReadRecords: Long, shufReadBytes: Long,
      shufWriteBytes: Long, fetchWaitMs: Long, spillBytes: Long)

  def attach(spark: SparkSession): TaskLog = {
    val l = new TaskLog
    l.listen(spark, on = true)
    l
  }
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
