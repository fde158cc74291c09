package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `name` is `<layer>.<what>`; `request`
  * groups the spans of one benchmark op (0 outside any op). */
final case class Span(
    id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work the listener saw for one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleReadRecords = 0L
  var maxTaskMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords
    shuffleReadRecords += o.shuffleReadRecords
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
  }
  def asMap: Map[String, Long] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords,
    "shuffle_read_records" -> shuffleReadRecords, "max_task_ms" -> maxTaskMs)
}

/** Records spans around calls into the library. Within a traced op, every
  * Spark job a call starts is tagged with the span's id (a thread-local
  * Spark property, which the threads the library starts inherit) so that
  * [[SpanListener]] can charge the job's tasks to that span; jobs of a
  * traced op outside any span are tagged [[Tracer.Unattributed]], jobs of
  * an untraced op [[Tracer.Untraced]]. Outside a traced op a span is just
  * the call. */
final class Tracer(sc: SparkContext) {
  private val enabled = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val requestId = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Run one op's body on this thread, traced or not. */
  def op[T](traced: Boolean)(f: => T): T = {
    requestId.set(ids.incrementAndGet())
    enabled.set(traced)
    sc.setLocalProperty(Tracer.Key,
      (if (traced) Tracer.Unattributed else Tracer.Untraced).toString)
    try f
    finally {
      enabled.set(false)
      sc.setLocalProperty(Tracer.Key, null)
    }
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled.get) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, name, parent, requestId.get, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = 0L
  val Untraced = -1L
  /** Jobs started outside any op while the listener was attached. */
  val OutsideOps = -2L
}

/** Gathers task metrics per span id (the job's [[Tracer.Key]] property,
  * or one of the [[Tracer]] buckets). Spark starts some jobs of a query on
  * its own threads, which do not carry the property; those are charged to
  * the span of the SQL execution they belong to (its root execution id),
  * which is resolved when the counters are read. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val stageRoot = new ConcurrentHashMap[Int, String]
  private val rootSpan = new ConcurrentHashMap[String, Long]
  private val bySpan = new ConcurrentHashMap[Long, Counters]
  private val byRoot = new ConcurrentHashMap[String, Counters]

  private def counters(span: Long): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)
  private def rootCounters(root: String): Counters =
    byRoot.computeIfAbsent(root, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val root = prop("spark.sql.execution.root.id")
    val c = prop(Tracer.Key).map(_.toLong) match {
      case Some(span) =>
        root.foreach(rootSpan.putIfAbsent(_, span))
        e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
        counters(span)
      case None if root.isDefined =>
        e.stageIds.foreach(stageRoot.putIfAbsent(_, root.get))
        rootCounters(root.get)
      case None =>
        e.stageIds.foreach(stageSpan.putIfAbsent(_, Tracer.OutsideOps))
        counters(Tracer.OutsideOps)
    }
    c.synchronized(c.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = Option(stageSpan.get(e.stageId)).map(counters(_))
      .orElse(Option(stageRoot.get(e.stageId)).map(rootCounters))
      .getOrElse(counters(Tracer.OutsideOps))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
    }
  }

  /** Counters per span; jobs of an execution no tagged job belonged to
    * count as started outside every op. */
  def snapshot: Map[Long, Counters] = {
    val out = bySpan.asScala.map { case (k, v) =>
      val c = new Counters; c.synchronized(c.add(v)); k -> c
    }
    byRoot.asScala.foreach { case (root, v) =>
      val span = Option(rootSpan.get(root)).map(_.longValue).getOrElse(Tracer.OutsideOps)
      out.getOrElseUpdate(span, new Counters).add(v)
    }
    out.toMap
  }
}
