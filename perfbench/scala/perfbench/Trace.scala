package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `parent` is the index of the enclosing
  * span in the same tracer, or -1.
  */
final case class Span(name: String, req: Int, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder for a single-threaded replay. Each span also
  * labels the Spark jobs it launches (thread-local job properties), so
  * [[LayerListener]] can attribute task metrics to the same span.
  * A disabled tracer runs the body and records nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String, req: Int)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, req, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      stack = idx :: stack
      sc.setLocalProperty(Tracer.SpanKey, name)
      sc.setLocalProperty(Tracer.ReqKey, req.toString)
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(spans(_).name).orNull)
        if (stack.isEmpty) sc.setLocalProperty(Tracer.ReqKey, null)
      }
    }

  /** Record a span whose time was accumulated piecewise (an iterator
    * interleaving two layers); it is laid out from `startNs`.
    */
  def record(name: String, req: Int, startNs: Long, durNs: Long): Unit =
    if (enabled) spans += Span(name, req, stack.headOption.getOrElse(-1), startNs, startNs + durNs)

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"name":"${s.name}","req":${s.req},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ReqKey = "perfbench.req"
}

/** Task counters for one (request, span) label. */
final class TaskTotals {
  var jobs, tasks, cpuNs, runMs, bytesRead, recordsRead, shuffleWrite, spill = 0L
}

/** Counts jobs and task metrics per (request id, span name), from the
  * job properties [[Tracer]] sets. Unlabelled work lands under (-1, "").
  */
final class LayerListener extends SparkListener {
  private val stageLabel = mutable.Map.empty[Int, (Int, String)]
  private val totals = mutable.Map.empty[(Int, String), TaskTotals]

  private def at(k: (Int, String)) = totals.getOrElseUpdate(k, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val req = p.flatMap(x => Option(x.getProperty(Tracer.ReqKey))).map(_.toInt).getOrElse(-1)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey))).getOrElse("")
    at((req, span)).jobs += 1
    e.stageIds.foreach(stageLabel(_) = (req, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = at(stageLabel.getOrElse(e.stageId, (-1, "")))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.runMs += m.executorRunTime
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** The counters; read after the listener bus is drained. */
  def snapshot(): Map[(Int, String), TaskTotals] = synchronized { totals.toMap }
}
