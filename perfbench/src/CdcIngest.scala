package perfbench

import graft.streaming.CdcStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.input_file_name

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** The `cdc_ingest` workload: writes beside reads.
  *
  * An open-loop generator moves one pre-written batch into the stream
  * source every `IntervalMs` (the offered rate does not wait for the
  * engine). An ingest loop runs `CdcStream.startMv` (AvailableNow) back
  * to back, a poller reads `CdcStream.finalView` in a closed loop, and
  * `runCopyJob` runs every `CopyEveryMs`, the reference's hourly
  * COPY_SCHEDULE compressed to fit the window. */
object CdcIngest {
  val IntervalMs = 500L
  val CopyEveryMs = 10000L
  /** Set-up ingests `WarmBatches - WarmRounds + 1` batches at once, then
    * one more in each later warm-up round. */
  val WarmRounds = 2
  val WarmBatches = 5
  val BatchSize = 1000
  private val Cols = Seq("user_id", "event_id", "ts", "event_type", "value", "prop_k")

  /** Latest row per user by (ts, event_id), rows in [[Cols]] order. */
  def latest(rows: Iterable[Row]): Map[Long, Row] =
    rows.groupBy(_.getLong(0)).map { case (u, rs) =>
      u -> rs.maxBy(r => (r.getAs[java.time.LocalDateTime](2), r.getLong(1))) }

  def key(r: Row): String = (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("|")

  final case class Read(startNs: Long, endNs: Long, maxId: Long, call: Trace.Call) {
    def ms: Double = Stats.ms(endNs - startNs)
  }
  final case class Cycle(startNs: Long, endNs: Long, rows: Long, backlog: Int,
                         durations: Seq[Map[String, Long]]) {
    def ms: Double = Stats.ms(endNs - startNs)
  }

  def run(spark: SparkSession, a: Args, report: Report, clock: SetupClock): Unit = {
    val staged = s"${a.data}/batches"
    val src = s"${a.work}/cdc/source"
    val log = s"${a.work}/cdc/log"
    val ckpt = s"${a.work}/cdc/checkpoint"
    val snap = s"${a.work}/cdc/snapshot"
    val manifest = new String(Files.readAllBytes(Paths.get(s"$staged/manifest.json")), "UTF-8")
    val markers = "\\[([0-9, ]*)\\]".r.findFirstMatchIn(manifest).get.group(1)
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)
    val windowBatches = math.ceil(a.seconds * 1000 / IntervalMs).toInt
    require(markers.length >= WarmBatches + windowBatches,
      s"need ${WarmBatches + windowBatches} staged batches, found ${markers.length}")
    new File(src).mkdirs()
    def drop(b: Int): Unit = Files.move(Paths.get(f"$staged/batch_$b%05d.parquet"),
      Paths.get(f"$src/batch_$b%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    val first = WarmBatches - WarmRounds + 1
    (0 until first).foreach(drop)
    clock.mark("fixture")

    val reader = spark.newSession()
    val plans = new PlanTracer
    reader.listenerManager.register(plans)
    val ids = new AtomicLong()
    def finalRead(): Read = {
      var rows = Array.empty[Row]
      val n0 = System.nanoTime()
      val call = Trace.call(reader, ids.incrementAndGet())(CdcStream.finalView(reader, log))(
        df => rows = df.select("event_id").collect())
      Read(n0, System.nanoTime(), rows.map(_.getLong(0)).foldLeft(-1L)(math.max), call)
    }
    val ingestedRows = new AtomicLong()
    def cycle(backlog: Int): Cycle = {
      val t0 = System.nanoTime()
      val q = CdcStream.startMv(spark, src, log, ckpt)
      q.awaitTermination()
      val ps = q.recentProgress.toSeq
      val rows = ps.map(_.numInputRows).sum
      ingestedRows.addAndGet(rows)
      Cycle(t0, System.nanoTime(), rows, backlog,
        ps.filter(_.numInputRows > 0).map(_.durationMs.asScala.map {
          case (k, v) => k -> v.longValue }.toMap))
    }
    // The copy job and the ingest cycles take turns on the log, so each
    // copy job sees a settled log: the batches ingested so far, which are
    // a prefix of the source files (whole files, moved in order). Their
    // count is kept, to replay the copy job's watermark rule when the
    // snapshot is checked.
    val logLock = new Object
    val seen = new ConcurrentLinkedQueue[java.lang.Long]()
    def copyJob(): (Long, Long) = logLock.synchronized {
      seen.add(ingestedRows.get / BatchSize)
      val t0 = System.nanoTime()
      CdcStream.runCopyJob(spark, log, snap)
      (t0, System.nanoTime())
    }
    // warm-up: a fixed amount of ingest, FINAL reads and copy jobs
    for (b <- 0 until WarmRounds) {
      if (b > 0) drop(first + b - 1)
      cycle(0); finalRead(); finalRead()
      copyJob()
    }
    clock.mark("warmup")
    report.put("setup_s", clock.total, "s")

    val tracer = new JobTracer
    val dropped = new AtomicInteger(0)
    val scheduledNs = new Array[Long](windowBatches)
    val droppedNs = new Array[Long](windowBatches)
    val visibleNs = Array.fill(windowBatches)(-1L)
    val reads = new ConcurrentLinkedQueue[(Boolean, Read)]()
    val cycles = new ConcurrentLinkedQueue[Cycle]()
    val copies = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var traced = false
    var cg0 = (0L, 0.0)
    @volatile var stop = false
    val start = System.nanoTime()
    val traceFromNs = start + a.windowNs / 3
    val errors = new ConcurrentLinkedQueue[String]()
    def loop(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => errors.add(s"$name: $e") }, s"perfbench-$name")
      t.start(); t
    }
    // a seeded offset of 0-400 ms within each slot keeps the mean rate
    // and stops the drops from locking in phase with the ingest cycle,
    // a phase that would otherwise set the freshness of a whole run
    val jitter = new scala.util.Random(a.seed)
    val generator = loop("generator") {
      for (k <- 0 until windowBatches) {
        scheduledNs(k) = start + (k * IntervalMs + jitter.nextInt(401)) * 1000000L
        val wait = scheduledNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        drop(WarmBatches + k)
        droppedNs(k) = System.nanoTime()
        dropped.incrementAndGet()
      }
    }
    val ingest = loop("ingest") {
      Trace.tag(spark, "ingest")
      while (!stop) {
        val backlog = WarmBatches + dropped.get - (ingestedRows.get / BatchSize).toInt
        val c = logLock.synchronized(cycle(backlog))
        if (c.startNs >= start) cycles.add(c)
      }
    }
    val poller = loop("poller") {
      while (!stop) {
        val r = finalRead()
        reads.add(traced -> r)
        val n = dropped.get
        for (k <- 0 until n if visibleNs(k) < 0 && markers(WarmBatches + k) <= r.maxId)
          visibleNs(k) = r.endNs
      }
    }
    val copier = loop("copy") {
      Trace.tag(spark, "copy")
      var next = start + CopyEveryMs * 1000000L
      while (!stop) {
        val wait = next - System.nanoTime()
        if (wait > 0) Thread.sleep(math.min(wait / 1000000L, 200L))
        else {
          copies.add(copyJob())
          next += CopyEveryMs * 1000000L
        }
      }
    }
    if (a.trace) {
      Thread.sleep(math.max(0L, (traceFromNs - System.nanoTime()) / 1000000L))
      spark.sparkContext.addSparkListener(tracer)
      cg0 = Trace.codegen
      traced = true
    }
    generator.join()
    val windowEnd = start + a.windowNs
    Thread.sleep(math.max(0L, (windowEnd - System.nanoTime()) / 1000000L))
    val visibleAtEnd = visibleNs.count(v => v >= 0 && v <= windowEnd)
    // catch-up: every dropped batch must become visible
    val catchUp = System.nanoTime() + 60L * 1000000000L
    while (visibleNs.contains(-1L) && System.nanoTime() < catchUp && errors.isEmpty)
      Thread.sleep(20)
    stop = true
    Seq(ingest, poller, copier).foreach(_.join())
    val cg1 = Trace.codegen
    errors.asScala.foreach(e => report.op(Some(e)))
    report.check(!visibleNs.contains(-1L),
      s"${visibleNs.count(_ < 0)} batches never became visible in FINAL")

    val inWindow = reads.asScala.map(_._2).filter(r => r.startNs < windowEnd).toSeq
    val fresh = (0 until windowBatches).filter(visibleNs(_) >= 0)
      .map(k => (visibleNs(k) - scheduledNs(k)) / 1e9)
    val late = (0 until windowBatches).map(k => Stats.ms(droppedNs(k) - scheduledNs(k)))
    if (!a.trace) {
      report.put("freshness_p50_s", Stats.median(fresh), "s")
      report.put("freshness_p90_s", Stats.pct(fresh, 90), "s")
      report.put("freshness_count", fresh.size.toDouble, "count")
      report.put("visible_events_per_s", visibleAtEnd * 1000.0 / a.seconds, "events/s")
      report.put("final_read_p50_ms", Stats.median(inWindow.map(_.ms)), "ms")
      report.put("final_read_p75_ms", Stats.pct(inWindow.map(_.ms), 75), "ms")
      report.put("final_read_p90_ms", Stats.pct(inWindow.map(_.ms), 90), "ms")
      report.put("final_read_count", inWindow.size.toDouble, "count")
      // every read started in the window, over the time they took
      report.put("final_reads_per_s",
        inWindow.size / ((inWindow.map(_.endNs).max - start) / 1e9), "1/s")
      report.put("generator_lateness_max_ms", late.max, "ms")
    }
    for (r <- reads.asScala) report.op(None)
    for (c <- cycles.asScala) report.op(None)
    for (c <- copies.asScala) report.op(None)

    // outputs: FINAL equals the generator's latest-by-(ts, event_id)
    // truth per user. The copy-job snapshot equals a replay of the copy
    // job's rule over the log each run saw: from the second generation on,
    // only events at or after the previous generation's high-watermark
    // (max ts) replace rows, so an out-of-order event behind the
    // watermark is not in the snapshot, as in users_batch_copy.pipe. A
    // first-generation copy of the final log must equal FINAL.
    copyJob()
    val fin = CdcStream.finalView(spark, log).select(Cols.head, Cols.tail: _*)
      .collect().map(key).toSet
    val K = "\"k\":\\s*(\\d+)".r
    val BatchFile = "batch_(\\d+)\\.parquet".r.unanchored
    val events = spark.read.parquet(src).withColumn("file", input_file_name()).collect().map { r =>
      val BatchFile(b) = r.getAs[String]("file")
      b.toLong -> Row(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[java.time.LocalDateTime]("ts"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"),
        K.findFirstMatchIn(r.getAs[String]("props")).map(_.group(1).toInt).orNull)
    }
    val truth = latest(events.map(_._2)).values.map(key).toSet
    report.check(fin == truth,
      s"FINAL differs from generator truth: ${(fin -- truth).size} extra, ${(truth -- fin).size} missing")
    val replay = seen.asScala.foldLeft(Map.empty[Long, Row]) { (prior, batches) =>
      val logRows = events.collect { case (b, r) if b < batches => r }
      if (prior.isEmpty) latest(logRows)
      else {
        val wm = prior.values.map(_.getAs[java.time.LocalDateTime](2)).max
        prior ++ latest(logRows.filter(r => !r.getAs[java.time.LocalDateTime](2).isBefore(wm)))
      }
    }.values.map(key).toSet
    val snapRows = CdcStream.readSnapshot(spark, snap).select(Cols.head, Cols.tail: _*)
      .collect().map(key).toSet
    report.check(snapRows == replay,
      s"copy-job snapshot differs from its watermark replay: ${(snapRows -- replay).size} extra, ${(replay -- snapRows).size} missing")
    val fresh1 = s"${a.work}/cdc/snapshot_check"
    CdcStream.runCopyJob(spark, log, fresh1)
    val boot = CdcStream.readSnapshot(spark, fresh1).select(Cols.head, Cols.tail: _*)
      .collect().map(key).toSet
    report.check(boot == fin,
      s"first-generation copy differs from FINAL: ${(boot -- fin).size} extra, ${(fin -- boot).size} missing")

    if (a.trace) {
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      val tr = reads.asScala.filter(_._1).map(_._2).toSeq
      val base = reads.asScala.filterNot(_._1).map(_._2).filter(_.startNs < traceFromNs).toSeq
      for (r <- tr)
        Spans.add("final_read", r.call.t0Ms, r.call.t2Ms, "", s"final_read-${r.call.id}")
      Trace.callLayers(report, tr.map(r =>
        (r.call, plans, s"final_read-${r.call.id}", "final_read")), tracer, tr.size, cg0, cg1)
      val logFiles = Files.walk(Paths.get(log)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
      report.put("log.files", logFiles.size.toDouble, "count")
      report.put("log.bytes", logFiles.map(Files.size(_)).sum.toDouble, "bytes")
      val cs = cycles.asScala.toSeq
      for ((cy, i) <- cs.zipWithIndex)
        Spans.add("ingest_cycle", Spans.wallMs(cy.startNs), Spans.wallMs(cy.endNs), "", s"cycle-$i")
      for (((s0, s1), i) <- copies.asScala.toSeq.zipWithIndex)
        Spans.add("copy_job", Spans.wallMs(s0), Spans.wallMs(s1), "", s"copy-$i")
      report.put("ingest.cycle_ms", Stats.median(cs.map(_.ms)), "ms")
      report.put("ingest.rows_per_cycle", Stats.mean(cs.map(_.rows.toDouble)), "count")
      report.put("ingest.backlog_batches", Stats.mean(cs.map(_.backlog.toDouble)), "count")
      val ds = cs.flatMap(_.durations)
      for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"))
        report.put(s"ingest.${k}_ms", Stats.median(ds.map(_.getOrElse(k, 0L).toDouble)), "ms")
      report.put("final.read_ms", Stats.median(tr.map(_.ms)), "ms")
      report.put("copy_job.ms", Stats.median(copies.asScala.map { case (s0, s1) => Stats.ms(s1 - s0) }), "ms")
      report.put("generator.lateness_ms", late.max, "ms")
      val b50 = Stats.median(base.map(_.ms))
      report.put("trace.overhead_pct", 100 * (Stats.median(tr.map(_.ms)) - b50) / b50, "%")
    }
  }
}
