package graftbench

import java.lang.management.ManagementFactory

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into graft, with Spark task metrics
  * folded in. A span sets the thread's job group to its own id, so every
  * job the call starts carries the span id in its properties; the listener
  * maps job → stages → task-end metrics back to that span. Spans are kept
  * in memory and written out once, at the end of the run.
  *
  * With `enabled = false`, or inside [[untraced]], a span is a plain call:
  * no job group and no bookkeeping.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val start: Double, val gcStart: Long) {
    var end: Double = Double.NaN
    var gcEnd: Long = 0L
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble

  // listener side (written on the listener-bus thread)
  private val jobSpan = TrieMap.empty[Int, Int]
  private val stageSpan = TrieMap.empty[Int, Int]
  private val jobStart = TrieMap.empty[Int, Long]
  private val jobIntervals = TrieMap.empty[Int, List[(Long, Long)]]
  private val sums = TrieMap.empty[Int, Array[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).foreach { sid =>
          jobSpan(e.jobId) = sid
          jobStart(e.jobId) = e.time
          e.stageIds.foreach(stageSpan(_) = sid)
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for (sid <- jobSpan.get(e.jobId); s <- jobStart.get(e.jobId))
        jobIntervals.synchronized {
          jobIntervals(sid) = (s, e.time) :: jobIntervals.getOrElse(sid, Nil)
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (sid <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val a = sums.getOrElseUpdate(sid, new Array[Long](Metrics.size))
        val in = m.inputMetrics; val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        val v = Array(1L, m.executorRunTime, m.executorCpuTime, in.bytesRead,
          in.recordsRead, sr.totalBytesRead, sw.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          m.outputMetrics.bytesWritten)
        a.synchronized { var i = 0; while (i < v.length) { a(i) += v(i); i += 1 } }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  private def nowMillis: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private var paused = false

  /** Run `body` with no spans; the listener stays registered. */
  def untraced[T](body: => T): T = {
    paused = true
    try body finally paused = false
  }

  /** Run `body` inside a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || paused) body
    else {
      val parent = stack.headOption
      val id = spans.size
      val s = new Span(id, name, parent.fold(-1)(_.id), parent.fold(id)(_.op),
        nowMillis, gcMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMillis
        s.gcEnd = gcMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** All spans with their jobs' intervals and summed task metrics. Waits
    * for the listener bus to deliver every event posted so far.
    */
  def export(): Seq[Map[String, Any]] = {
    if (!enabled) return Nil
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    spans.toSeq.map { s =>
      val m = sums.getOrElse(s.id, new Array[Long](Metrics.size))
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "gc_ms" -> (s.gcEnd - s.gcStart),
        "jobs" -> jobIntervals.getOrElse(s.id, Nil).reverse.map { case (a, b) => Seq(a, b) },
        "metrics" -> Metrics.zip(m.toSeq).toMap)
    }
  }
}

object Tracer {
  /** Per-span sums of task-end metrics, in listener order. */
  val Metrics: Seq[String] = Seq("tasks", "run_ms", "cpu_ns", "input_bytes",
    "input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "task_gc_ms", "output_bytes")

  /** Cumulative GC milliseconds of this JVM (driver and local executors). */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
