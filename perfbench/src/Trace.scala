package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Per-layer instruments of the traced run, read from Spark's own
  * listeners. Work is attributed through a thread-local Spark property:
  * the thread that calls into graft sets `perfbench.tag` to
  * `<layer>#<op id>` first, and every job it starts carries that tag. */
object Trace {
  val TagKey = "perfbench.tag"

  def tag(spark: SparkSession, t: String): Unit =
    spark.sparkContext.setLocalProperty(TagKey, t)

  /** Task-metric totals of one tag. */
  final class Agg {
    var jobs, stages, tasks = 0L
    var cpuNs, gcMs, bytesRead, rowsRead, shuffleWrite, shuffleRead,
        spill, written = 0L
  }

  /** One job: its tag and wall interval (listener-bus timestamps, ms). */
  final case class Job(tag: String, startMs: Long, endMs: Long)

  /** Catalyst phases of one executed query, in wall-clock ms. */
  final case class Planned(startMs: Long, analysisMs: Long,
                           optimizationMs: Long, planningMs: Long)

  /** Union length of intervals, so overlapping jobs count once. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** One traced in-process call: a construct span (`t0Ms`-`t1Ms`) that
    * builds the DataFrame, then a render span (`t1Ms`-`t2Ms`) that runs it. */
  final case class Call(id: Long, t0Ms: Long, t1Ms: Long, t2Ms: Long,
                        constructNs: Long, renderNs: Long) {
    def wallMs: Double = Stats.ms(constructNs + renderNs)
  }

  /** Run `construct`, then `render` on its result, tagged as call `id`. */
  def call[A](spark: SparkSession, id: Long)(construct: => A)(render: A => Unit): Call = {
    tag(spark, s"construct#$id")
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val built = construct
    val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
    tag(spark, s"render#$id")
    render(built)
    val n2 = System.nanoTime(); val t2 = System.currentTimeMillis()
    tag(spark, null)
    Call(id, t0, t1, t2, n1 - n0, n2 - n1)
  }

  /** Construct, catalyst, exec, render, storage and codegen metrics of the
    * traced calls, each with the plan tracer of its session and the
    * request id and parent of its spans. Catalyst (tracker phases) and
    * exec (job intervals) are measured apart inside the render span; the
    * rest of it is `render.ms`, so a negative rest means the two
    * overlapped: `trace.span_gap_pct` is the worst such share of a call,
    * and over 5 % fails a check. Codegen is per op of `ops`. */
  def callLayers(report: Report, calls: Seq[(Call, PlanTracer, String, String)],
                 tracer: JobTracer, ops: Int, cg0: (Long, Double), cg1: (Long, Double)): Unit = {
    val n = math.max(calls.size, 1).toDouble
    val spans = calls.map { case (c, plans, request, parent) =>
      val ph = plans.within(c.t1Ms, c.t2Ms)
      Spans.call(request, parent, c, ph, tracer)
      val cat = Seq(ph.map(_.analysisMs).sum, ph.map(_.optimizationMs).sum,
        ph.map(_.planningMs).sum).map(_.toDouble)
      val exec = unionMs(tracer.jobsOf(s"render#${c.id}").map(j => (j.startMs, j.endMs))).toDouble
      val rest = Stats.ms(c.renderNs) - cat.sum - exec
      (Stats.ms(c.constructNs), cat, exec, rest, 100 * math.max(0.0, -rest) / c.wallMs,
        tracer.jobsOf(s"construct#${c.id}").size.toDouble)
    }
    report.put("construct.ms", Stats.median(spans.map(_._1)), "ms")
    report.put("construct.jobs", Stats.mean(spans.map(_._6)), "count")
    report.put("catalyst.analysis_ms", Stats.median(spans.map(_._2(0))), "ms")
    report.put("catalyst.optimization_ms", Stats.median(spans.map(_._2(1))), "ms")
    report.put("catalyst.planning_ms", Stats.median(spans.map(_._2(2))), "ms")
    report.put("exec.ms", Stats.median(spans.map(_._3)), "ms")
    report.put("render.ms", Stats.median(spans.map(_._4)), "ms")
    report.put("trace.span_gap_pct", if (spans.isEmpty) 0.0 else spans.map(_._5).max, "%")
    report.check(spans.nonEmpty && spans.forall(_._5 <= 5.0),
      "construct + catalyst + execute spans do not add up to the call's wall time within 5%")
    val ex = tracer.total("render")
    val all = Seq(tracer.total("construct"), ex)
    report.put("exec.jobs", ex.jobs / n, "count")
    report.put("exec.stages", ex.stages / n, "count")
    report.put("exec.tasks", ex.tasks / n, "count")
    report.put("exec.task_cpu_ms", ex.cpuNs / 1e6 / n, "ms")
    report.put("exec.gc_ms", ex.gcMs / n, "ms")
    report.put("scan.bytes_read", all.map(_.bytesRead).sum / n, "bytes")
    report.put("scan.rows_read", all.map(_.rowsRead).sum / n, "count")
    report.put("shuffle.write_bytes", all.map(_.shuffleWrite).sum / n, "bytes")
    report.put("shuffle.read_bytes", all.map(_.shuffleRead).sum / n, "bytes")
    report.put("spill.bytes", all.map(_.spill).sum / n, "bytes")
    report.put("write.bytes", tracer.aggs.values.map(_.written).sum.toDouble, "bytes")
    val o = math.max(ops, 1).toDouble
    report.put("codegen.compiles", (cg1._1 - cg0._1) / o, "count")
    report.put("codegen.compile_ms", (cg1._1 - cg0._1) * cg1._2 / o, "ms")
  }

  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}

/** One span of the traced run. Spans of one request share `request`;
  * `parent` names the enclosing span of that request. */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String,
                      request: String)

/** The traced run's spans, kept in memory and written out at the end. */
object Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** A `System.nanoTime` reading as wall-clock ms. */
  def wallMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L

  def add(name: String, startMs: Long, endMs: Long, parent: String, request: String): Unit =
    spans.add(Span(name, startMs, endMs, parent, request))

  /** Spans of one traced call: its construct and render spans, the
    * catalyst phases and jobs inside them. */
  def call(request: String, parent: String, ip: Trace.Call,
           planned: Seq[Trace.Planned], tracer: JobTracer): Unit = {
    add("construct", ip.t0Ms, ip.t1Ms, parent, request)
    add("render", ip.t1Ms, ip.t2Ms, parent, request)
    for (p <- planned)
      add("catalyst", p.startMs, p.startMs + p.analysisMs + p.optimizationMs + p.planningMs,
        "render", request)
    for (layer <- Seq("construct", "render"); j <- tracer.jobsOf(s"$layer#${ip.id}"))
      add("job", j.startMs, j.endMs, layer, request)
  }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.write(s"""{"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""parent":"${s.parent}","request":"${s.request}"}""")
      w.newLine()
    } finally w.close()
  }
}

/** SparkListener recording jobs and task metrics per tag. */
final class JobTracer extends SparkListener {
  import Trace._
  private val jobTag = TrieMap.empty[Int, (String, Long)]
  private val stageTag = TrieMap.empty[Int, String]
  val jobs = new ConcurrentLinkedQueue[Job]()
  val aggs = TrieMap.empty[String, Agg]
  @volatile var lastEventMs = System.currentTimeMillis()

  private def agg(t: String) = aggs.getOrElseUpdate(t, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
      .getOrElse("untagged")
    jobTag(e.jobId) = (t, e.time)
    e.stageIds.foreach(stageTag(_) = t)
    val a = agg(t); a.synchronized { a.jobs += 1 }
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobTag.remove(e.jobId).foreach { case (t, s) => jobs.add(Job(t, s, e.time)) }
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(stageTag.getOrElse(e.stageInfo.stageId, "untagged"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = agg(stageTag.getOrElse(e.stageId, "untagged"))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.bytesRead += m.inputMetrics.bytesRead
        a.rowsRead += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
      }
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Block until every started job has ended and the bus went quiet. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    while (System.currentTimeMillis() < deadline &&
      (jobTag.nonEmpty || System.currentTimeMillis() - lastEventMs < 500))
      Thread.sleep(50)
  }

  /** Task-metric totals over every tag with the given layer prefix. */
  def total(layer: String): Agg = {
    val out = new Agg
    for ((t, a) <- aggs if t.startsWith(layer + "#") || t == layer) a.synchronized {
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.cpuNs += a.cpuNs; out.gcMs += a.gcMs; out.bytesRead += a.bytesRead
      out.rowsRead += a.rowsRead; out.shuffleWrite += a.shuffleWrite
      out.shuffleRead += a.shuffleRead; out.spill += a.spill
      out.written += a.written
    }
    out
  }

  def jobsOf(tag: String): Seq[Job] = jobs.asScala.filter(_.tag == tag).toSeq
}

/** QueryExecutionListener on one session: the catalyst phases of every
  * query that session executed, from `QueryExecution.tracker`. */
final class PlanTracer extends QueryExecutionListener {
  import Trace.Planned
  val planned = new ConcurrentLinkedQueue[Planned]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min)
    if (ph.nonEmpty)
      planned.add(Planned(start, d("analysis"), d("optimization"), d("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def within(fromMs: Long, toMs: Long): Seq[Planned] =
    planned.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
}
