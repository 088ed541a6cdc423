package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters at one instant; `-` gives the counts of a window. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, analysisMs - o.analysisMs,
    optimizationMs - o.optimizationMs, planningMs - o.planningMs)
}

/** Scheduler and Catalyst telemetry, observed from outside the library
  * through a `SparkListener` and a `QueryExecutionListener`. Events arrive
  * asynchronously, so [[counts]] and [[busyMs]] drain the listener bus first. */
final class SparkProbe(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  private val jobs = new AtomicLong; private val stages = new AtomicLong
  private val tasks = new AtomicLong; private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong; private val shRead = new AtomicLong
  private val shWrite = new AtomicLong; private val spill = new AtomicLong
  private val analysis = new AtomicLong; private val optimization = new AtomicLong
  private val planning = new AtomicLong
  // job id -> (job group, start ms, end ms or -1 while running)
  private val spans = mutable.LinkedHashMap.empty[Int, (String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    spans.synchronized { spans(e.jobId) = (group, e.time, -1L) }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = spans.synchronized {
    spans.get(e.jobId).foreach { case (g, s, _) => spans(e.jobId) = (g, s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysis.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimization.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planning.addAndGet(p.durationMs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def counts(): SparkCounts = {
    drain()
    SparkCounts(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
      shRead.get, shWrite.get, spill.get, analysis.get, optimization.get,
      planning.get)
  }

  /** Milliseconds of [t0, t1] during which at least one job whose group
    * starts with `groupPrefix` was running (the union of job intervals). */
  def busyMs(t0: Long, t1: Long, groupPrefix: String = ""): Long = {
    drain()
    val iv = spans.synchronized(spans.values.toVector)
      .filter { case (g, _, _) => g.startsWith(groupPrefix) }
      .map { case (_, s, e) => (math.max(s, t0), math.min(if (e < 0) t1 else e, t1)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  /** Wall time of [t0, t1] not covered by any job. */
  def driverGapMs(t0: Long, t1: Long): Long = (t1 - t0) - busyMs(t0, t1)
}

/** In-memory spans (name, start, end, parent, request), written once at exit.
  * Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, request: Long, name: String,
      startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var request = 0L

  def newRequest(): Unit = request += 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        done += Span(id, parent, request, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per span name: duration minus the part its children cover. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6 }
  }

  def write(file: java.io.File, summary: String): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try {
      w.println(summary)
      w.println(selfMs.toSeq.sorted.map { case (n, ms) => s""""$n":${Stats.num(ms)}""" }
        .mkString("""{"self_ms":{""", ",", "}}"))
      done.sortBy(_.id).foreach { s =>
        w.println(f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
          s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }
}
