package graft.perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** What the listener saw for the jobs one span launched itself. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  /** (start ms, end ms) of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One call into a layer: a named interval on the client thread whose
  * Spark jobs carry the span's job group.
  */
final class Span(val id: Long, val parent: Option[Span], val opId: Long, val name: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs = 0L
  var endNs = 0L
  val own = new Counters
  val children = mutable.ArrayBuffer.empty[Span]
  val attrs = mutable.LinkedHashMap.empty[String, Double]

  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = wallS - children.map(_.wallS).sum
  def subtree: Iterator[Span] = Iterator(this) ++ children.iterator.flatMap(_.subtree)
  def total(f: Counters => Long): Long = subtree.map(s => f(s.own)).sum

  /** Wall time during which none of the subtree's jobs was running. */
  def driverS: Double = {
    val ivs = subtree.flatMap(_.own.jobIntervals)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, wallS - covered / 1000.0)
  }
}

/** Spans around calls into graft's layers, and one [[SparkListener]]
  * that charges each job, and its tasks, to the span whose job group
  * launched it.
  *
  * Only operations opened with `traced = true` are recorded. The
  * listener is attached for exactly those operations and detached
  * after the bus has delivered their events, so an untraced operation
  * runs as in an untraced session; comparing the two kinds of
  * operation in one run gives the tracing overhead.
  */
final class Tracer(sc: SparkContext) {
  private val roots = mutable.ArrayBuffer.empty[Span]
  private val byGroup = mutable.HashMap.empty[String, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobStart = mutable.HashMap.empty[Int, (Span, Long)]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var opId = -1L
  private var tracing = false

  private val GroupKey = "spark.jobGroup.id"
  private def group(s: Span) = s"perfbench-span-${s.id}"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .flatMap(byGroup.get).foreach { s =>
          s.own.jobs += 1
          jobStart(e.jobId) = (s, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t) => s.own.jobIntervals += ((t, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.own.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.own.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
          s.own.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.own.inputBytes += m.inputMetrics.bytesRead
          s.own.outputBytes += m.outputMetrics.bytesWritten
          s.own.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  /** Runs one top-level operation; spans opened inside it are recorded
    * only when `traced`.
    */
  def op[T](id: Long, traced: Boolean)(body: => T): T = {
    opId = id
    tracing = traced
    if (traced) sc.addSparkListener(listener)
    try body
    finally if (traced) {
      BusDrain(sc)
      sc.removeSparkListener(listener)
      tracing = false
      synchronized { stageSpan.clear(); jobStart.clear() }
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = synchronized {
        val s = new Span(nextId, stack.headOption, opId, name)
        nextId += 1
        byGroup(group(s)) = s
        s
      }
      s.parent.fold(roots += s)(_.children += s)
      stack = s :: stack
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption.fold(sc.clearJobGroup())(p => sc.setJobGroup(group(p), p.name, false))
      }
    }

  /** Attaches a measured value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (tracing) stack.headOption.foreach(_.attrs(key) = value)

  def all: Seq[Span] = roots.iterator.flatMap(_.subtree).toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Writes one JSON object per span, parents before children. */
  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      val fields = Seq[(String, Any)](
        "id" -> s.id, "parent" -> s.parent.map(_.id).getOrElse(0L), "op" -> s.opId,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> s.selfS, "driver_s" -> s.driverS,
        "jobs" -> s.own.jobs, "tasks" -> s.own.tasks, "task_cpu_s" -> s.own.cpuNs / 1e9,
        "shuffle_bytes" -> s.own.shuffleBytes, "input_bytes" -> s.own.inputBytes,
        "output_bytes" -> s.own.outputBytes, "spill_bytes" -> s.own.spillBytes) ++
        s.attrs.toSeq
      out.println(Json.obj(fields))
    } finally out.close()
  }
}
