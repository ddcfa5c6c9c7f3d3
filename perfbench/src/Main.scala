package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Command-line arguments of one benchmark run (see run.py). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      out: String, spans: String, t0Ms: Long) {
  /** Wall-clock length of the measured window, in nanoseconds. */
  def windowNs: Long = (seconds * 1e9).toLong
}

/** Metrics and operation tallies of one run, written as JSON for run.py. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  /** Count one operation; `err` is its failure message, if it failed. */
  def op(err: Option[String]): Unit = synchronized {
    attempted += 1
    err.foreach { e => failed += 1; if (failures.size < 20) failures += e }
  }

  def check(ok: Boolean, what: => String): Unit = op(if (ok) None else Some(what))

  /** Report 0 for every per-layer metric the workload did not set. */
  def zeroFill(names: Seq[(String, String)]): Unit = synchronized {
    for ((m, u) <- names if !metrics.contains(m)) metrics(m) = (0.0, u)
  }

  def json: String = synchronized {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}""" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(q).mkString("[", ",", "]")},"metrics":$ms}"""
  }
}

/** Set-up clock: setup_s runs from the moment run.py started making the
  * inputs (`t0Ms`, wall clock) to the first timed operation. */
final class SetupClock(t0Ms: Long) {
  private var last = t0Ms
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = {
    val now = System.currentTimeMillis()
    phases(phase) = phases.getOrElse(phase, 0.0) + (now - last) / 1000.0
    last = now
  }
  def total: Double = (System.currentTimeMillis() - t0Ms) / 1000.0
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
}

object Main {
  /** Per-layer metrics of the traced run. Every traced run emits all of
    * them; a layer the workload does not exercise reads 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "http.self_ms" -> "ms", "http.status_non200" -> "count",
    "construct.ms" -> "ms", "construct.jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "render.ms" -> "ms",
    "scan.bytes_read" -> "bytes", "scan.rows_read" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "spill.bytes" -> "bytes",
    "write.bytes" -> "bytes", "log.files" -> "count", "log.bytes" -> "bytes",
    "ingest.cycle_ms" -> "ms", "ingest.rows_per_cycle" -> "count",
    "ingest.backlog_batches" -> "count",
    "ingest.latestOffset_ms" -> "ms", "ingest.getBatch_ms" -> "ms",
    "ingest.queryPlanning_ms" -> "ms", "ingest.addBatch_ms" -> "ms",
    "ingest.walCommit_ms" -> "ms", "ingest.commitOffsets_ms" -> "ms",
    "final.read_ms" -> "ms", "copy_job.ms" -> "ms",
    "generator.lateness_ms" -> "ms",
    "setup.session_s" -> "s", "setup.fixture_s" -> "s",
    "setup.serving_views_s" -> "s", "setup.warmup_s" -> "s",
    "trace.overhead_pct" -> "%", "trace.span_gap_pct" -> "%")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("out"),
      m("spans"), m("t0-ms").toLong)
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full collection, in MiB: the least of three
    * collections, each followed by a pause in which Spark's ContextCleaner
    * can drop state that only weak references still hold. */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // a run must not overlap graft.Bench or graft.Verify in this checkout
    graft.RunLock.acquireOrDie("perfbench")
    val report = new Report
    val clock = new SetupClock(a.t0Ms)
    val spark = session(a)
    clock.mark("session")
    try {
      a.workload match {
        case "dashboard" => Dashboard.run(spark, a, report, clock)
        case "cdc_ingest" => CdcIngest.run(spark, a, report, clock)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (a.trace) {
        for (p <- Seq("session", "fixture", "serving_views", "warmup"))
          report.put(s"setup.${p}_s", clock.phases.getOrElse(p, 0.0), "s")
        report.zeroFill(LayerMetrics)
        if (a.spans.nonEmpty) Spans.write(a.spans)
      } else report.put("heap_after_gc_mb", heapAfterGcMb(), "MB")
      Files.write(Paths.get(a.out), report.json.getBytes(UTF_8))
    } finally spark.stop()
  }
}
