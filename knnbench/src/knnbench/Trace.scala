package knnbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: the jobs and tasks started while the
  * span was the innermost open one on the client thread. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var schedDelayMs = 0L
  var inputRecords = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    schedDelayMs += o.schedDelayMs; inputRecords += o.inputRecords
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** Attributes every job, and through its stages every task, to the span
  * id carried in the job's `knnbench.span` local property. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Int, Counts]()

  private def counts(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    counts(span).synchronized { counts(span).jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val c = counts(span)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running or serializing the result
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.inputRecords += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** One closed span. `parent` is -1 for a root; spans of one request share
  * `req`. Times are nanoseconds from the tracer's origin; `gcMs` is the
  * JVM's collection time inside the span. */
final case class Span(id: Int, parent: Int, name: String, req: Long,
                      start: Long, end: Long, gcMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `span` just runs its body; enabled,
  * it records the span, marks the client thread's Spark jobs with the
  * span id and samples the JVM's GC time at both boundaries. Spans are
  * written out once, when the run ends. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var on = enabled
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  /** Run `f` with recording switched off (untraced requests of a traced
    * run, which measure the tracing overhead). */
  def untraced[T](f: => T): T = {
    val was = on
    on = false
    try f finally on = was
  }

  def span[T](name: String, req: Long)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val gc0 = Tracer.gcMs()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, name, req, t0 - origin, t1 - origin, Tracer.gcMs() - gc0)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus what its children cover
    * (children run on the same thread, so they never overlap). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
    spans.map(s => s.id -> (s.durMs - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spark work of span `id` alone, or of `id` and all its descendants. */
  def counts(id: Int, inclusive: Boolean): Counts = {
    val out = new Counts
    listener.foreach { l =>
      val kids = spans.groupBy(_.parent)
      def walk(s: Int): Unit = {
        Option(l.bySpan.get(s)).foreach(out.add)
        if (inclusive) kids.getOrElse(s, Nil).foreach(k => walk(k.id))
      }
      walk(id)
    }
    out
  }

  /** Spans as JSON lines, with self time and self Spark counts. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = spans.sortBy(_.id).map { s =>
      val c = counts(s.id, inclusive = false)
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6,
        "self_ms" -> self(s.id), "gc_ms" -> s.gcMs,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_run_ms" -> c.runMs,
        "sched_delay_ms" -> c.schedDelayMs, "input_records" -> c.inputRecords,
        "input_bytes" -> c.inputBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
        "peak_exec_mem" -> c.peakExecMem)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "knnbench.span"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
