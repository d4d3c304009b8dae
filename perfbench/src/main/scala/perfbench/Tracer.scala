package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into the library, with the Spark
  * work each one caused.
  *
  * A span records name, start, end, parent and run phase, plus the JVM's
  * GC time over its extent. While tracing is on, the span id is set as a
  * SparkContext local property; the listener reads it from each job's
  * properties and bills the job's stages and tasks to that span. With
  * one client thread the open span is unambiguous, and threads the
  * library starts (a streaming query's execution thread) inherit the
  * property from the thread that started them.
  *
  * Spans stay in memory and are written out with the run record.
  * Tracing can be switched off per operation (`traced = false`): the
  * listener is then detached, so the untraced operations of a traced
  * run measure the tracing overhead.
  */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val parent: Int, val name: String,
      val phase: String, val t0: Long) {
    var t1: Long = -1L
    var gcMs: Long = 0L
    val counters = new ConcurrentHashMap[String, java.lang.Double]()
    def add(k: String, v: Double): Unit =
      counters.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var attached = false
  private var lastClosed: Option[Span] = None
  val origin: Long = System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
          s.add("jobs", 1)
          s.add("stages", e.stageIds.size)
          e.stageIds.foreach(st => stageSpan.put(st, s))
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
          s.add("input_bytes", m.inputMetrics.bytesRead)
          s.add("output_bytes", m.outputMetrics.bytesWritten)
          s.add("task_gc_ms", m.jvmGCTime)
        }
      }
  }

  /** Attach or detach the listener. Detaching first drains the listener
    * bus, so events of work already done are still billed.
    */
  def setTracing(on: Boolean): Unit = if (enabled && on != attached) {
    if (on) sc.addSparkListener(listener)
    else { drain(); sc.removeSparkListener(listener) }
    attached = on
  }

  def tracing: Boolean = attached

  /** Run `body` inside a span named `name`. */
  def span[T](name: String, phase: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), name, phase,
      System.nanoTime() - origin)
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    if (attached) sc.setLocalProperty(SpanKey, s.id.toString)
    val gc0 = gcMillis()
    try body
    finally {
      s.t1 = System.nanoTime() - origin
      s.gcMs = gcMillis() - gc0
      stack = stack.tail
      lastClosed = Some(s)
      sc.setLocalProperty(SpanKey, parent.filter(_ => attached).map(_.id.toString).orNull)
    }
  }

  /** Add a counter to the innermost open span (e.g. files a scan read). */
  def note(k: String, v: Double): Unit = stack.headOption.foreach(_.add(k, v))

  /** Add a counter to the span that closed last. */
  def noteLast(k: String, v: Double): Unit = lastClosed.foreach(_.add(k, v))

  def drain(): Unit = if (attached) org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** All spans, as plain maps for the run record. */
  def export(): Seq[Map[String, Any]] = {
    drain()
    spans.toSeq.filter(_.t1 >= 0).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "phase" -> s.phase, "t0_ms" -> s.t0 / 1e6, "t1_ms" -> s.t1 / 1e6,
        "gc_ms" -> s.gcMs,
        "counters" -> s.counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}
