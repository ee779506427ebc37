package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-runtime and JVM counters attributed to a span: the benchmark's
  * outside-in view of the layer under a call. `taskRunMs` is the tasks'
  * summed executor run time; the rest of a span's wall time is spent on
  * the driver (planning, scheduling, collecting results). */
final case class Counters(jobs: Long = 0, tasks: Long = 0,
    taskFailures: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, gcMs: Long = 0,
    taskRunMs: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskFailures + o.taskFailures, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    gcMs + o.gcMs, taskRunMs + o.taskRunMs)
}

/** One timed call into a layer. `parent` is -1 for a root; spans of one
  * benchmark job share `job`. */
final class Span(val id: Int, val name: String, val parent: Int,
    val job: Int, val startNs: Long) {
  var endNs: Long = startNs
  var gcMs: Long = 0
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counts jobs, tasks, failed tasks, shuffle bytes, spill and task run
  * time per span.
  * The span id rides on the job's local properties (set on the calling
  * thread before each layer call), so attribution does not depend on
  * when the asynchronous listener bus delivers an event. Attached only
  * while a traced job and its probes run. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def add(span: Int, c: Counters): Unit =
    bySpan.merge(span, c, (a: Counters, b: Counters) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, span))
    add(span, Counters(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span: Int = stageSpan.getOrDefault(e.stageId, -1)
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val c =
      if (m == null) Counters(tasks = 1, taskFailures = if (failed) 1 else 0)
      else Counters(tasks = 1, taskFailures = if (failed) 1 else 0,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled, taskRunMs = m.executorRunTime)
    add(span, c)
  }

  /** Waits until the listener has seen every event posted so far, so the
    * counts of a finished span are complete before they are read. */
  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.Bus.waitUntilEmpty(sc)
}

/** JVM heap and GC probes (MXBeans). */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak heap the timed jobs add: the largest heap occupancy left
    * after any garbage collection between `start()` and `finish()`,
    * minus the occupancy after a full collection at `start()`.
    * Occupancy right after a collection is what the program holds;
    * sampling used heap at arbitrary times would mostly measure how full
    * the young generation happened to be. Subtracting the idle baseline
    * leaves out what stays resident across jobs: the session's own
    * state and the harness's inputs and reference outputs. */
  final class HeapPeak {
    @volatile private var peak = 0L
    @volatile private var baseline = 0L
    @volatile private var on = false
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: Any): Unit =
        if (on && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peak) peak = used }
        }
    }
    gcBeans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener(listener, null, null))

    def start(): Unit = {
      System.gc()
      baseline = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      on = true
    }

    /** Bytes: peak occupancy minus the baseline. */
    def finish(): Long = {
      System.gc() // the notification of this collection closes the window
      Thread.sleep(50)
      on = false
      gcBeans.foreach(_.asInstanceOf[javax.management.NotificationEmitter]
        .removeNotificationListener(listener))
      peak - baseline
    }
  }
}

/** In-memory span recorder. Disabled, [[span]] only runs the body. */
final class Trace(val enabled: Boolean, sc: => SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var jobId = -1
  private var listener: Option[SpanListener] = None

  def attach(l: SpanListener): Unit = listener = Some(l)

  /** Runs `body` as root span `name` of a new benchmark job. */
  def job[T](name: String)(body: => T): T = {
    jobId = spans.count(_.parent == -1)
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, name, parent, jobId, System.nanoTime())
    spans += s
    stack = s :: stack
    val prevProp = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, s.id.toString)
    val gc0 = Jvm.gcMs
    try body
    finally {
      s.endNs = System.nanoTime()
      s.gcMs = Jvm.gcMs - gc0
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProperty, prevProp)
    }
  }

  def all: Seq[Span] = spans.toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part of the interval its children cover
    * (children of one parent run sequentially, so they do not overlap). */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** Runtime counters of `s` alone (not its children); GC time is
    * sampled per span, so self GC is the span's minus its children's. */
  def selfCounters(s: Span): Counters = {
    val spark = listener.flatMap(l => Option(l.bySpan.get(s.id)))
      .getOrElse(Counters())
    spark.copy(gcMs = s.gcMs - children(s).map(_.gcMs).sum)
  }

  /** Counters of `s` and everything under it. */
  def totalCounters(s: Span): Counters =
    children(s).map(totalCounters).foldLeft(selfCounters(s))(_ + _)

  /** Spans as a JSON array, each with its self time and self counters. */
  def toJson: String = spans.map { s =>
    val c = selfCounters(s)
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "job" -> s.job, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfSeconds(s), "spark_jobs" -> c.jobs, "tasks" -> c.tasks,
      "task_failures" -> c.taskFailures,
      "shuffle_read_bytes" -> c.shuffleReadBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "spill_bytes" -> c.spillBytes, "gc_ms" -> c.gcMs,
      "task_run_ms" -> c.taskRunMs))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  val SpanProperty = "graftbench.span"
}

/** Just enough JSON output for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String  => str(s)
    case d: Double  =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case b: Boolean => b.toString
    case Raw(j)     => j
    case other      => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String)
}
