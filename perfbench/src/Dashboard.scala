package perfbench

import graft.SparkEntry
import graft.sources.{ApiServer, Endpoints}
import org.apache.spark.sql.SparkSession

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The `dashboard` workload: two closed-loop HTTP clients, no think time.
  *
  * Client A models dash_airport.py: one refresh fetches four chart
  * endpoints in sequence. Client B models the API consumers
  * (demo_users.py and the simulator's feedback query): it walks a seeded
  * permutation of the remaining endpoints, two of which are ClickHouse-
  * dialect pipes pushed to `/v0/datafiles` at set-up. */
object Dashboard {
  val Refresh: Seq[String] = Seq("ref_active_vs_missed_flights",
    "ref_passengers_by_flight_status", "ref_baggage_by_flight_status",
    "ref_passenger_activity")

  val Pipes: Seq[(String, String)] = Seq(
    "bench_users_by_lang" ->
      """TOKEN "bench_read" READ
        |
        |NODE users_by_lang
        |SQL >
        |    SELECT lang, uniqExact(id) AS users, countIf(deleted = 1) AS deleted_users,
        |           max(updated_at) AS last_update
        |    FROM users_latest__final
        |    GROUP BY lang
        |
        |NODE endpoint
        |SQL >
        |    SELECT * FROM users_by_lang ORDER BY lang
        |""".stripMargin,
    "bench_flight_changes_by_hour" ->
      """TOKEN "bench_read" READ
        |
        |NODE changes
        |SQL >
        |    SELECT toStartOfHour(updated_at) AS hour, status, count() AS changes,
        |           uniqExact(id) AS flights
        |    FROM flights_raw
        |    GROUP BY hour, status
        |
        |NODE endpoint
        |SQL >
        |    SELECT * FROM changes ORDER BY hour, status
        |""".stripMargin)

  val Api: Seq[String] = Seq("ref_users_api_rmt", "ref_users_api_mysql",
    "ref_users_snapshot_diff", "ref_users_api_batch", "ref_latest_flight_info",
    "ref_latest_passenger_info", "ref_latest_baggage_info",
    "ref_active_flights_past_hour", "ref_flights_missed_pct_minute",
    "users_latest_rmt", "latest_event_per_user", "active_users_per_hour") ++
    Pipes.map(_._1)

  val RowLimit = 10000
  private val Admin = "bench_admin"

  /** One completed request; `inProc` is the traced in-process repeat. */
  final case class Req(client: Int, endpoint: String, startNs: Long, endNs: Long,
                       status: Int, body: String, inProc: Option[Trace.Call]) {
    def ms: Double = Stats.ms(endNs - startNs)
  }

  private final class Client(port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def get(endpoint: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/v0/pipes/$endpoint.json"))
        .header("Authorization", s"Bearer $Admin")
        .timeout(Duration.ofSeconds(120)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    def post(path: String, body: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Authorization", s"Bearer $Admin")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  /** Run `f(i)` on `n` threads and wait for all of them. */
  def par(n: Int)(f: Int => Unit): Unit = {
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map(i => new Thread(() =>
      try f(i) catch { case e: Throwable => errs.add(e) }, s"perfbench-$i"))
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
  }

  def run(spark: SparkSession, a: Args, report: Report, clock: SetupClock): Unit = {
    val sf = s"${a.data}/tables"
    // the first reference endpoint materialises graft's CDC fixture
    Endpoints.renderJson(SparkEntry.queries(Refresh.head)(spark, sf), RowLimit)
    clock.mark("fixture")

    val server = new ApiServer(spark, sf, Map(Admin -> Set("*")), RowLimit)
    val port = server.start()
    try {
      val admin = new Client(port)
      for ((name, text) <- Pipes) {
        val (code, body) = admin.post(s"/v0/datafiles?name=$name.pipe", text)
        if (code != 200) throw new IllegalStateException(s"push $name: $code $body")
      }
      clock.mark("serving_views")

      // warm-up: every endpoint over HTTP (the captured body is the
      // reference for the run's byte-identity check), then in-process
      // through SparkEntry.queries, which must render the same rows
      val baseline = new java.util.concurrent.ConcurrentHashMap[String, String]()
      val all = Refresh ++ Api
      par(4) { i =>
        val c = new Client(port)
        for (ep <- all.zipWithIndex.collect { case (e, j) if j % 4 == i => e }) {
          val (code, body) = c.get(ep)
          report.check(code == 200, s"warm-up $ep: HTTP $code")
          baseline.put(ep, body)
          if (SparkEntry.queries.contains(ep)) {
            val local = Endpoints.renderJson(SparkEntry.queries(ep)(spark, sf), RowLimit).body
            report.check(local == body, s"$ep: HTTP rows differ from SparkEntry.queries")
          } else report.check(body.contains("\"rows\":") && !body.contains("\"rows\":0,"),
            s"$ep: pushed pipe returned no rows")
        }
      }
      clock.mark("warmup")
      report.put("setup_s", clock.total, "s")

      val rng = new scala.util.Random(a.seed)
      val done = new ConcurrentLinkedQueue[Req]()
      val refreshes = new ConcurrentLinkedQueue[java.lang.Double]()
      val ids = new AtomicLong()
      val sessions = Seq.fill(2)(spark.newSession())
      val plans = sessions.map { s => val p = new PlanTracer; s.listenerManager.register(p); p }

      /** Both clients until `deadline`; `traced` adds the in-process repeat. */
      def window(lengthNs: Long, traced: Boolean): (Long, Long) = {
        val start = System.nanoTime()
        val deadline = start + lengthNs
        val order = Iterator.continually(rng.shuffle(Api)).flatten
        par(2) { client =>
          val c = new Client(port)
          val s = sessions(client)
          def one(ep: String): Unit = {
            val t0 = System.nanoTime()
            val (code, body) =
              try c.get(ep) catch { case e: Exception => (-1, e.toString) }
            val t1 = System.nanoTime()
            // the in-process repeat, through the calls the handler makes
            val ip =
              if (traced && SparkEntry.queries.contains(ep))
                Some(Trace.call(s, ids.incrementAndGet())(SparkEntry.queries(ep)(s, sf))(
                  df => Endpoints.renderJson(df, RowLimit)))
              else None
            done.add(Req(client, ep, t0, t1, code, body, ip))
          }
          while (System.nanoTime() < deadline) {
            if (client == 0) {
              val r0 = System.nanoTime()
              Refresh.foreach(one)
              refreshes.add(Stats.ms(System.nanoTime() - r0))
            } else one(order.synchronized(order.next()))
          }
        }
        (start, System.nanoTime())
      }

      var base = Seq.empty[Req]
      if (!a.trace) {
        val (s, e) = window(a.windowNs, traced = false)
        val reqs = done.asScala.toSeq
        report.put("request_p50_ms", Stats.median(reqs.map(_.ms)), "ms")
        report.put("request_p75_ms", Stats.pct(reqs.map(_.ms), 75), "ms")
        report.put("request_p90_ms", Stats.pct(reqs.map(_.ms), 90), "ms")
        report.put("request_count", reqs.size.toDouble, "count")
        // every request started in the window, over the time they took
        report.put("requests_per_s", reqs.size / ((e - s) / 1e9), "1/s")
        report.put("refresh_p50_ms", Stats.median(refreshes.asScala.map(_.doubleValue)), "ms")
        report.put("refresh_p90_ms", Stats.pct(refreshes.asScala.map(_.doubleValue), 90), "ms")
        report.put("refresh_count", refreshes.size.toDouble, "count")
      } else {
        val baseLen = a.windowNs / 3
        window(baseLen, traced = false)
        base = done.asScala.toSeq
        done.clear()
        val tracer = new JobTracer
        spark.sparkContext.addSparkListener(tracer)
        val cg0 = Trace.codegen
        window(a.windowNs - baseLen, traced = true)
        val cg1 = Trace.codegen
        tracer.drain()
        spark.sparkContext.removeSparkListener(tracer)
        layers(report, done.asScala.toSeq, base, tracer, plans, cg0, cg1)
      }

      // outputs: every response must equal its warm-up capture
      for (r <- base ++ done.asScala) report.op(
        if (r.status != 200) Some(s"${r.endpoint}: HTTP ${r.status}")
        else if (r.body != baseline.get(r.endpoint)) Some(s"${r.endpoint}: body differs from warm-up")
        else None)
    } finally server.stop()
  }

  private def layers(report: Report, traced: Seq[Req], base: Seq[Req], tracer: JobTracer,
                     plans: Seq[PlanTracer], cg0: (Long, Double), cg1: (Long, Double)): Unit = {
    val calls = traced.flatMap(r => r.inProc.map(r -> _))
    for ((r, c) <- calls) {
      val req = s"request-${c.id}"
      Spans.add("request", Spans.wallMs(r.startNs), c.t2Ms, "", req)
      Spans.add("http", Spans.wallMs(r.startNs), Spans.wallMs(r.endNs), "request", req)
    }
    Trace.callLayers(report, calls.map { case (r, c) =>
      (c, plans(r.client), s"request-${c.id}", "request") }, tracer, traced.size, cg0, cg1)
    report.put("http.self_ms", Stats.median(calls.map { case (r, c) => r.ms - c.wallMs }), "ms")
    report.put("http.status_non200", traced.count(_.status != 200).toDouble, "count")
    val b50 = Stats.median(base.map(_.ms))
    report.put("trace.overhead_pct", 100 * (Stats.median(traced.map(_.ms)) - b50) / b50, "%")
  }
}
