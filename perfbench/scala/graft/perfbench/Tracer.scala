package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Per-span Spark counters, summed over the stages whose jobs the span
  * launched: the counts `tools/JobCount` prints, per span.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var cpuMs = 0L // executorRunTime
  var inputRecords = 0L
  var outputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One timed interval around a call into the engine. `parent` is the
  * span that was open when it started (-1 at top level).
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = -1L, attrs: mutable.LinkedHashMap[String, Any] =
      mutable.LinkedHashMap.empty)

/** Spans around the benchmark's calls into the engine, kept in memory
  * and written out when the run ends.
  *
  * Untraced (`traced = false`) it only keeps span walls, which the
  * end-to-end metrics need anyway. Traced, it also registers a
  * SparkListener and tags every job with the innermost open span
  * through a thread-local job property, so stage counters land on
  * the span that launched them. The benchmark drives the engine from
  * one thread, so the property is never contended.
  */
final class Tracer(s: SparkSession, val traced: Boolean) {
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Counters]()

  private def countersOf(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(id => counters.computeIfAbsent(id.toInt, _ => new Counters))

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      countersOf(j.properties).foreach(c => c.synchronized { c.jobs += 1 })
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      countersOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageSpan.remove(i.stageId)).foreach { c =>
        val m = i.taskMetrics
        c.synchronized {
          c.stages += 1
          if (m != null) {
            c.cpuMs += m.executorRunTime
            c.inputRecords += m.inputMetrics.recordsRead
            c.outputRecords += m.outputMetrics.recordsWritten
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }
  if (traced) s.sparkContext.addSparkListener(listener)

  private var listening = traced

  private def tag(): Unit =
    if (listening) s.sparkContext.setLocalProperty(SpanKey,
      open.headOption.map(_.id.toString).orNull)

  private def newSpan(name: String): Span = {
    val sp = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    sp.attrs("listening") = listening
    spans += sp
    sp
  }

  /** Stop billing jobs (a traced run's untraced comparison interval). */
  def pause(): Unit = if (listening) {
    drain()
    s.sparkContext.removeSparkListener(listener)
    s.sparkContext.setLocalProperty(SpanKey, null)
    listening = false
  }

  def resume(): Unit = if (traced && !listening) {
    s.sparkContext.addSparkListener(listener)
    listening = true
    tag()
  }

  def begin(name: String): Span = {
    val sp = newSpan(name)
    open.push(sp)
    tag()
    sp
  }

  def end(sp: Span): Double = {
    sp.endNs = System.nanoTime()
    require(open.headOption.contains(sp), s"span ${sp.name} closed out of order")
    open.pop()
    tag()
    val wall = (sp.endNs - sp.startNs) / 1e9
    log("span", sp.name, wall)
    wall
  }

  def span[A](name: String)(f: => A): A = {
    val sp = begin(name)
    try f finally end(sp)
  }

  /** A span for an interval the engine times itself (the loop's stage
    * hook reports a stage's wall once the stage has finished). It is
    * not pushed on the open stack; jobs launched from now until
    * [[finish]] are billed to it.
    */
  def detached(name: String): Span = {
    val sp = newSpan(name)
    if (listening) s.sparkContext.setLocalProperty(SpanKey, sp.id.toString)
    sp
  }

  /** Close a [[detached]] span with the wall the engine reported. */
  def finish(sp: Span, wallSec: Double): Unit = {
    sp.endNs = System.nanoTime()
    sp.attrs("engine_wall_s") = wallSec
    log("stage", sp.name, wallSec)
    tag()
  }

  /** `trace_overhead`: the wall of a warm call the run has just timed
    * with the listener on, over the same call repeated with it off. The
    * untraced repeat runs second, so what warm-up is left makes the
    * ratio overstate the overhead.
    */
  def overhead(rec: Record, name: String, tracedWall: Double)(op: => Unit)
      : Unit = {
    pause()
    val t0 = System.nanoTime()
    op
    val wall = (System.nanoTime() - t0) / 1e9
    resume()
    rec.fact("trace_overhead", tracedWall / wall)
    rec.fact("trace_overhead_call", name)
  }

  private def log(kind: String, name: String, wall: Double): Unit =
    System.err.println("[perfbench] %s %s %.3f s".formatLocal(
      java.util.Locale.ROOT, kind, name, wall))

  /** Stage metrics arrive asynchronously; wait for the listener bus to
    * drain before reading them.
    */
  def drain(): Unit =
    if (listening) org.apache.spark.PerfbenchBus.waitUntilEmpty(s.sparkContext)

  def countersOf(sp: Span): Counters =
    Option(counters.get(sp.id)).getOrElse(new Counters)

  def close(): Unit = {
    pause()
    s.sparkContext.setLocalProperty(SpanKey, null)
  }

  /** Every span as a JSON-ready map, counters included when traced. */
  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { sp =>
    val base = Map[String, Any]("id" -> sp.id, "name" -> sp.name,
      "parent" -> sp.parent, "start_ns" -> sp.startNs,
      "wall_s" -> (sp.endNs - sp.startNs) / 1e9) ++ sp.attrs
    if (!traced) base
    else {
      val c = countersOf(sp)
      base ++ Map("jobs" -> c.jobs, "stages" -> c.stages,
        "cpu_s" -> c.cpuMs / 1e3, "input_records" -> c.inputRecords,
        "output_records" -> c.outputRecords,
        "shuffle_read_mb" -> c.shuffleReadBytes / 1e6,
        "shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        "spill_mb" -> c.spillBytes / 1e6)
    }
  }
}
