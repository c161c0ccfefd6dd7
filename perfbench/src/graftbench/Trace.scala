package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftx.MemProbe
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are epoch milliseconds with a fractional
  * part. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long,
    start: Double, end: Double) {
  def kind: String = name.takeWhile(_ != ':')
}

/** Spans and per-layer counters for one run, measured from outside the
  * engine: driver-side spans around calls into the layers, a
  * `SparkListener` for jobs/stages/tasks and a `QueryExecutionListener`
  * for Catalyst's planning phases. Nothing is recorded while `active` is
  * false, so one session serves untraced and traced passes alike. Spans
  * stay in memory until [[json]] is called at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  private val keyed = mutable.Map.empty[String, Long]
  /** A stable span id for a key (e.g. a micro-batch), so spans recorded
    * at different times can name the same parent. */
  def idFor(key: String): Long = keyed.synchronized(
    keyed.getOrElseUpdate(key, nextId()))

  private val spans = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = if (active) spans.synchronized(spans += s)
  def all: Seq[Span] = spans.synchronized(spans.toList)

  @volatile private var on = false
  private var gc0, jit0, codegen0 = 0L
  def active: Boolean = on
  /** Switching drains the listener bus first, so events are counted by
    * the state in which their work ran; JVM GC and JIT time, the code
    * generator's compilations and storage memory are sampled at each
    * switch. */
  def active_=(v: Boolean): Unit = if (v != on) {
    drain()
    if (v) {
      gc0 = MemProbe.gcMillis; jit0 = jitMillis; codegen0 = codegenCompiles
      on = true
    } else {
      on = false
      inc("mem.gc_ms", (MemProbe.gcMillis - gc0).toDouble)
      inc("jit.compile_ms", (jitMillis - jit0).toDouble)
      inc("codegen.compiles", (codegenCompiles - codegen0).toDouble)
      max("mem.storage_peak_bytes", MemProbe.storageUsed.toDouble)
    }
  }
  /** The query span that Catalyst phase spans are parented to. */
  @volatile var querySpan = 0L
  private val buildSpans = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Run `body` inside a span; Spark jobs it starts carry the span id. */
  def span[T](name: String, parent: Long, id: Long = 0L)(body: Long => T): T =
    if (!active) body(0L)
    else {
      val sid = if (id != 0L) id else nextId()
      if (name == "build") buildSpans.add(sid)
      val prev = sc.getLocalProperty(SpanKey)
      val s = now
      sc.setLocalProperty(SpanKey, sid.toString)
      try body(sid)
      finally {
        sc.setLocalProperty(SpanKey, prev)
        add(Span(sid, name, parent, s, now))
      }
    }

  // ---- counters (listener thread writes, driver reads after drain) ----
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def inc(k: String, v: Double): Unit = c.synchronized(c(k) += v)
  private def max(k: String, v: Double): Unit =
    c.synchronized(c(k) = math.max(c(k), v))
  def snapshot: Map[String, Double] = c.synchronized(c.toMap)
  def peak(k: String, v: Double): Unit = if (active) max(k, v)

  private case class JobState(span: Long, parent: Long, start: Double,
      nStages: Int, var done: Int = 0)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobState]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, JobState(nextId(), parent, e.time.toDouble,
        e.stageInfos.size))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      inc("sched.jobs", 1)
      inc("sched.stages_total", e.stageInfos.size)
      if (buildSpans.contains(parent)) inc("operators.build_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.done += 1
          inc("sched.stages", 1)
          for (s <- si.submissionTime; f <- si.completionTime)
            add(Span(nextId(), s"stage:${si.stageId}", j.span, s.toDouble,
              f.toDouble))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        inc("sched.stages_skipped", math.max(0, j.nStages - j.done))
        add(Span(j.span, s"job:${e.jobId}", j.parent, j.start, e.time.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskInfo != null) {
        val m = e.taskMetrics
        val dur = e.taskInfo.duration.toDouble
        inc("sched.tasks", 1)
        if (m != null) {
          val run = m.executorRunTime.toDouble
          if (run < 10) inc("sched.tiny_tasks", 1)
          inc("sched.overhead_ms", math.max(0.0, dur - run))
          inc("exec.task_run_ms", run)
          inc("exec.task_cpu_ns", m.executorCpuTime.toDouble)
          inc("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          inc("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
          inc("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          inc("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          inc("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          inc("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          inc("mem.spill_bytes", m.diskBytesSpilled.toDouble)
          max("mem.peak_exec_bytes", m.peakExecutionMemory.toDouble)
        }
      }
  }

  /** Count the planning phases a `QueryExecution`'s tracker recorded. A
    * DataFrame is analyzed when it is built; the action that runs it
    * reports optimization and physical planning through the listener. */
  def phases(qe: QueryExecution): Unit = if (active) {
    val parent = querySpan
    qe.tracker.phases.foreach { case (phase, p) =>
      inc(s"catalyst.${phase}_ms", p.durationMs.toDouble)
      add(Span(nextId(), s"catalyst:$phase", parent, p.startTimeMs.toDouble,
        p.endTimeMs.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Self time per span kind: each span's duration minus the part of it
    * that its children's intervals cover. */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.kind).map { case (k, group) =>
      k -> group.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0.0
        var (cs, ce) = (Double.NaN, Double.NaN)
        iv.foreach { case (a, b) =>
          if (cs.isNaN || a > ce) {
            if (!cs.isNaN) covered += ce - cs
            cs = a; ce = b
          } else ce = math.max(ce, b)
        }
        if (!cs.isNaN) covered += ce - cs
        math.max(0.0, (s.end - s.start) - covered)
      }.sum
    }
  }

  def json(runId: String): String = all.sortBy(_.start).map { s =>
    f"""{"run":"${Json.esc(runId)}","id":${s.id},"name":"${Json.esc(s.name)}","parent":${s.parent},"start":${s.start}%.3f,"end":${s.end}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Time the JVM's JIT compiler threads have spent compiling. */
  def jitMillis: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes the code generator has compiled (its cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
