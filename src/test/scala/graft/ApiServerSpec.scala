package graft

import graft.sources.ApiServer
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The served read-API surface: Bearer auth, pipe listing, payload
  * fetch, parameter passing, and the reference's status semantics
  * (tb_functions.py raise_for_status contract: 401/403/404/400). */
class ApiServerSpec extends SparkSpec {

  private lazy val tokens = Map(
    "admin_token" -> Set("*"),
    "events_read" -> Set("events_by_type_status"),
    "dedup_read" -> Set("docs_near_dup_pairs"))
  private lazy val api = new ApiServer(spark, sf, tokens)
  private lazy val port = api.start()
  private val http = HttpClient.newHttpClient()

  private def get(path: String, token: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  test("endpoint fetch returns the payload document (meta, data, rows)") {
    val r = get("/v0/pipes/events_by_type_status.json", Some("events_read"))
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"meta\":[") && r.body().contains("\"data\":["))
    assert("\"rows\":(\\d+)".r.findFirstMatchIn(r.body())
      .exists(_.group(1).toInt > 0))
  }

  test("pipe listing is scoped to the token's grants") {
    val admin = get("/v0/pipes", Some("admin_token"))
    assert(admin.statusCode() == 200)
    assert("\"name\"".r.findAllIn(admin.body()).size ==
      SparkEntry.queries.size)
    val scoped = get("/v0/pipes", Some("events_read"))
    assert("\"name\"".r.findAllIn(scoped.body()).size == 1)
    assert(scoped.body().contains("events_by_type_status"))
  }

  test("query params reach the parameterized endpoints") {
    val loose = get("/v0/pipes/docs_near_dup_pairs.json?min_jaccard=0.5",
      Some("dedup_read"))
    val tight = get("/v0/pipes/docs_near_dup_pairs.json?min_jaccard=0.99",
      Some("dedup_read"))
    assert(loose.statusCode() == 200 && tight.statusCode() == 200)
    def rows(b: String) =
      "\"rows\":(\\d+)".r.findFirstMatchIn(b).get.group(1).toInt
    assert(rows(tight.body()) <= rows(loose.body()))
  }

  test("BM25 search endpoint: q/k params, 400 on bad k and empty q") {
    val r = get("/v0/pipes/docs_bm25_search.json?q=vector&k=3", Some("admin_token"))
    assert(r.statusCode() == 200, r.body())
    assert("\"rows\":(\\d+)".r.findFirstMatchIn(r.body())
      .exists(m => m.group(1).toInt > 0 && m.group(1).toInt <= 3))
    assert(r.body().contains("score_micros"))
    assert(get("/v0/pipes/docs_bm25_search.json?k=three",
      Some("admin_token")).statusCode() == 400)
    assert(get("/v0/pipes/docs_bm25_search.json?q=%20",
      Some("admin_token")).statusCode() == 400)
  }

  test("format suffixes: .csv and .ndjson render the same rows as .json") {
    val json = get("/v0/pipes/events_by_type_status.json", Some("events_read"))
    val csv = get("/v0/pipes/events_by_type_status.csv", Some("events_read"))
    val nd = get("/v0/pipes/events_by_type_status.ndjson", Some("events_read"))
    assert(csv.statusCode() == 200 && nd.statusCode() == 200)
    assert(csv.headers().firstValue("Content-Type").orElse("") == "text/csv")
    val rows = "\"rows\":(\\d+)".r.findFirstMatchIn(json.body()).get.group(1).toInt
    assert(csv.body().trim.split("\n").length == rows + 1, "header + one line per row")
    assert(nd.body().trim.split("\n").length == rows)
    assert(nd.body().linesIterator.forall(_.startsWith("{")))
  }

  test("non-GET methods are 405: the read API never executes on a write verb") {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/v0/pipes/events_by_type_status.json"))
        .header("Authorization", "Bearer events_read")
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 405, r.body())
  }

  test("status semantics: 401 unknown token, 403 out of scope, 404 no pipe, 400 bad param") {
    assert(get("/v0/pipes/events_by_type_status.json", None).statusCode() == 401)
    assert(get("/v0/pipes/events_by_type_status.json", Some("wrong")).statusCode() == 401)
    assert(get("/v0/pipes/docs_near_dup_pairs.json", Some("events_read")).statusCode() == 403)
    assert(get("/v0/pipes/no_such_pipe.json", Some("admin_token")).statusCode() == 404)
    assert(get("/v0/pipes/docs_near_dup_pairs.json?min_jacard=0.6",
      Some("dedup_read")).statusCode() == 400)
    assert(get("/v0/pipes/events_by_type_status.json?foo=1",
      Some("events_read")).statusCode() == 400)
  }

  test("404 bodies escape the client's name: they parse as JSON and echo it") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    for (name <- Seq("a\"b", "a\\b", "a\u0001b")) {
      val enc = java.net.URLEncoder.encode(name, "UTF-8")
      for ((method, path) <- Seq("GET" -> s"/v0/pipes/$enc.json",
          "DELETE" -> s"/v0/datafiles/$enc", "DELETE" -> s"/v0/tokens/$enc",
          "GET" -> s"/v0/datasources/$enc",
          "POST" -> s"/v0/datasources/$enc/truncate")) {
        val r = http.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
            .header("Authorization", "Bearer admin_token")
            .method(method, HttpRequest.BodyPublishers.noBody()).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 404, s"$method $path: ${r.body()}")
        val error = json.readTree(r.body()).get("error").asText()
        assert(error.endsWith(name), s"$method $path: ${r.body()}")
      }
    }
  }

  test("concurrent requests are served in parallel, all successfully") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val codes = Await.result(
      Future.sequence(Seq.fill(6)(Future(
        get("/v0/pipes/events_by_type_status.json", Some("events_read"))
          .statusCode()))),
      2.minutes)
    assert(codes.forall(_ == 200), codes.toString)
  }

  test("stop() drains an in-flight request before tearing the server down") {
    val srv = new ApiServer(spark, sf, Map("boss" -> Set("*")))
    val p = srv.start()
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    // a pipe whose one task sleeps 3 s: the request is still executing
    // when stop() is called below
    val pipe =
      """NODE endpoint
        |SQL >
        |    SELECT reflect('java.lang.Thread', 'sleep', 3000L) AS slept
        |    FROM range(0, 1, 1, 1)
        |""".stripMargin
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.countDown()
    }
    try {
      val pushed = http.send(HttpRequest.newBuilder(u("/v0/datafiles?name=slow_pipe.pipe"))
        .header("Authorization", "Bearer boss")
        .POST(HttpRequest.BodyPublishers.ofString(pipe)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pushed.statusCode() == 200, pushed.body())
      spark.sparkContext.addSparkListener(listener)
      val inFlight = http.sendAsync(HttpRequest.newBuilder(u("/v0/pipes/slow_pipe.json"))
        .header("Authorization", "Bearer boss").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the slow pipe never reached Spark")
      srv.stop()
      val r = inFlight.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"slept\"") && r.body().trim.endsWith("}"), r.body())
      assert(srv.pool.isTerminated, "stop() returned with handlers still running")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      if (!srv.pool.isShutdown) srv.stop()
    }
  }

  test("the reference's parameterized pipe takes DateTime start/end over HTTP") {
    // flights_missed_pct_minute.pipe:22,31-32 — {% if defined(start) %}
    val default = get("/v0/pipes/ref_flights_missed_pct_minute.json",
      Some("admin_token"))
    assert(default.statusCode() == 200, default.body())
    assert(default.body().contains("flights_missed_pct"))
    // bounding the aggregation to a window before any fixture data
    // zeroes every minute of the gap-filled series (same 61-row shape)
    val bounded = get(
      "/v0/pipes/ref_flights_missed_pct_minute.json" +
        "?start=2000-01-01T00:00:00&end=2000-01-01T01:00:00",
      Some("admin_token"))
    assert(bounded.statusCode() == 200, bounded.body())
    def rows(b: String) =
      "\"rows\":(\\d+)".r.findFirstMatchIn(b).get.group(1).toInt
    assert(rows(bounded.body()) == rows(default.body()))
    assert(!bounded.body().replace("\"flights_missed_pct\":0.0", "")
      .contains("\"flights_missed_pct\":"),
      "a pre-data window must zero every minute's pct")
    // malformed DateTime → 400, not a silently-defaulted window
    assert(get(
      "/v0/pipes/ref_flights_missed_pct_minute.json?start=not-a-time",
      Some("admin_token")).statusCode() == 400)
  }

  test("clipped results are flagged: envelope field and truncation header") {
    val tiny = new ApiServer(spark, sf, tokens, rowLimit = 3)
    val p = tiny.start()
    try {
      def fetch(suffix: String) = http.send(
        HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$p/v0/pipes/events_by_type_status$suffix"))
          .header("Authorization", "Bearer events_read").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val json = fetch(".json") // 5 source rows > limit 3
      assert(json.body().contains("\"rows\":3"))
      assert(json.body().contains("\"rows_before_limit_at_least\":4"),
        json.body())
      val csv = fetch(".csv")
      assert(csv.headers().firstValue("X-Rows-Before-Limit-At-Least")
        .orElse("") == "4", "envelope-less formats must signal the clip")
      assert(csv.body().trim.split("\n").length == 4) // header + 3
      // a COMPLETE result carries rows_before_limit_at_least == rows
      // and no truncation header
      val full = get("/v0/pipes/events_by_type_status.json", Some("events_read"))
      val n = "\"rows\":(\\d+)".r.findFirstMatchIn(full.body()).get.group(1)
      assert(full.body().contains(s""""rows_before_limit_at_least":$n"""))
      val fullCsv = get("/v0/pipes/events_by_type_status.csv", Some("events_read"))
      assert(fullCsv.headers().firstValue("X-Rows-Before-Limit-At-Least").isEmpty)
    } finally tiny.stop()
  }

  test("CSV renders array columns as JSON lists, not JVM toString") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5f, -1.0f), "plain"), (2L, Seq(2.0f), "b"))
      .toDF("id", "embedding", "note")
    val r = sources.Endpoints.renderCsv(df, limit = 10)
    assert(!r.body.contains("WrappedArray"), r.body)
    assert(r.body.contains("\"[0.5,-1.0]\""),
      s"array cells must be the same JSON encoding .json uses, quoted for CSV:\n${r.body}")
    assert(!r.overflow && r.rows == 2)
  }

  private def post(path: String, token: Option[String], body: String): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    http.send(b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("control plane: POST a pipe datafile, fetch its endpoint, DELETE it") {
    // the tb_functions.py loop: push a datafile, read its endpoint
    val pipe =
      """TOKEN "orders_dash_read" READ
        |
        |NODE count_by_status
        |SQL >
        |    SELECT o_orderstatus, count() AS n FROM orders GROUP BY o_orderstatus
        |
        |NODE endpoint
        |SQL >
        |    SELECT * FROM count_by_status ORDER BY o_orderstatus
        |""".stripMargin
    // write verbs demand the workspace admin token
    assert(post("/v0/datafiles?name=orders_by_status.pipe", Some("events_read"), pipe)
      .statusCode() == 403)
    assert(post("/v0/datafiles?name=orders_by_status.pipe", None, pipe)
      .statusCode() == 401)
    val created = post("/v0/datafiles?name=orders_by_status.pipe", Some("admin_token"), pipe)
    assert(created.statusCode() == 200, created.body())
    assert(created.body().contains("\"nodes\":2"))
    assert(created.body().contains("orders_dash_read"))
    // listed, and served like any built-in pipe — including under the
    // token the pipe itself declared
    assert(get("/v0/pipes", Some("admin_token")).body().contains("orders_by_status"))
    val fetched = get("/v0/pipes/orders_by_status.json", Some("orders_dash_read"))
    assert(fetched.statusCode() == 200, fetched.body())
    assert("\"rows\":(\\d+)".r.findFirstMatchIn(fetched.body())
      .exists(_.group(1).toInt > 0))
    // DELETE retires it
    val del = http.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/v0/datafiles/orders_by_status.pipe"))
        .header("Authorization", "Bearer admin_token").DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 200, del.body())
    assert(get("/v0/pipes/orders_by_status.json", Some("admin_token")).statusCode() == 404)
  }

  test("control plane: a REFERENCE kit pipe posts verbatim and serves") {
    val text = Kits.text("airport/mysql/pipes/latest_flight_info.pipe")
    val r = post("/v0/datafiles?name=latest_flight_info_posted.pipe",
      Some("admin_token"), text)
    assert(r.statusCode() == 200, r.body())
    val fetched = get("/v0/pipes/latest_flight_info_posted.json", Some("admin_token"))
    assert(fetched.statusCode() == 200, fetched.body())
    assert("\"rows\":(\\d+)".r.findFirstMatchIn(fetched.body())
      .exists(_.group(1).toInt > 0), fetched.body())
  }

  test("pushed pipes whose nodes share names stay isolated under concurrent " +
      "fetches, and a last node's ORDER BY … DESC order is kept") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def pipe(n0: String, endpoint: String) =
      s"""NODE n0
         |SQL >
         |    $n0
         |
         |NODE endpoint
         |SQL >
         |    $endpoint
         |""".stripMargin
    val pipes = Seq(
      "iso_by_status" -> pipe(
        "SELECT o_orderstatus AS k, count() AS n FROM orders GROUP BY o_orderstatus",
        "SELECT * FROM n0 ORDER BY k"),
      "iso_by_region" -> pipe(
        "SELECT n_regionkey AS k, count() AS n FROM nation GROUP BY n_regionkey",
        "SELECT k, n FROM n0 ORDER BY k DESC"))
    for ((name, text) <- pipes) {
      val r = post(s"/v0/datafiles?name=$name.pipe", Some("admin_token"), text)
      assert(r.statusCode() == 200, r.body())
    }
    def fetch(name: String) = {
      val r = get(s"/v0/pipes/$name.json", Some("admin_token"))
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    val sequential = pipes.map { case (name, _) => name -> fetch(name) }.toMap
    assert(sequential("iso_by_status") != sequential("iso_by_region"))
    val names = Seq.tabulate(16)(i => pipes(i % 2)._1)
    val bodies = Await.result(
      Future.sequence(names.map(n => Future(n -> fetch(n)))), 2.minutes)
    for ((name, body) <- bodies) assert(body == sequential(name), name)
    import scala.jdk.CollectionConverters._
    val ks = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sequential("iso_by_region")).get("data").elements().asScala
      .map(_.get("k").asInt()).toSeq
    assert(ks.length > 1 && ks == ks.sorted.reverse, ks)
    for ((name, _) <- pipes) http.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/v0/datafiles/$name.pipe"))
        .header("Authorization", "Bearer admin_token").DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("control plane: re-POSTing a pipe ROTATES its token grants — a TOKEN " +
      "line removed in v2 cannot keep reading v2 via v1's grant") {
    val v1 =
      """TOKEN "contractor_read" READ
        |
        |NODE endpoint
        |SQL >
        |    SELECT count() AS n FROM orders
        |""".stripMargin
    val v2 =
      """NODE endpoint
        |SQL >
        |    SELECT count() AS n FROM orders WHERE o_orderstatus = 'F'
        |""".stripMargin
    assert(post("/v0/datafiles?name=rotation_pipe.pipe", Some("admin_token"), v1)
      .statusCode() == 200)
    assert(get("/v0/pipes/rotation_pipe.json", Some("contractor_read"))
      .statusCode() == 200)
    // credential rotation: v2 drops the TOKEN line
    assert(post("/v0/datafiles?name=rotation_pipe.pipe", Some("admin_token"), v2)
      .statusCode() == 200)
    val after = get("/v0/pipes/rotation_pipe.json", Some("contractor_read"))
    assert(after.statusCode() == 401, s"${after.statusCode()} ${after.body()}")
  }

  test("a datafile push cannot resurrect a revoked token name — the NAME is " +
      "the secret locally; re-issue takes an explicit POST /v0/tokens") {
    val srv = new ApiServer(spark, sf, Map("boss" -> Set("*")))
    val p = srv.start()
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    val pipe =
      """TOKEN "leaked_read" READ
        |
        |NODE endpoint
        |SQL >
        |    SELECT count() AS n FROM orders
        |""".stripMargin
    def push() = req(HttpRequest.newBuilder(
      u("/v0/datafiles?name=resurrect_pipe.pipe"))
      .POST(HttpRequest.BodyPublishers.ofString(pipe)), "boss")
    try {
      assert(push().statusCode() == 200)
      assert(req(HttpRequest.newBuilder(u("/v0/pipes/resurrect_pipe.json"))
        .GET(), "leaked_read").statusCode() == 200)
      // the credential leaks; the operator revokes it
      assert(req(HttpRequest.newBuilder(u("/v0/tokens/leaked_read"))
        .DELETE(), "boss").statusCode() == 200)
      // re-pushing the SAME pipe (same TOKEN line) must NOT re-enable
      // the exact revoked string as a side effect — and the response
      // names what it skipped
      val r2 = push()
      assert(r2.statusCode() == 200, r2.body())
      assert(r2.body().contains("\"skipped_revoked_tokens\":[\"leaked_read\"]"),
        r2.body())
      assert(req(HttpRequest.newBuilder(u("/v0/pipes/resurrect_pipe.json"))
        .GET(), "leaked_read").statusCode() == 401,
        "revoked name must stay dead across a datafile push")
      // deliberate re-issue through the token lifecycle works, scoped
      val mk = req(HttpRequest.newBuilder(
        u("/v0/tokens?name=leaked_read&pipes=resurrect_pipe"))
        .POST(HttpRequest.BodyPublishers.noBody()), "boss")
      assert(mk.statusCode() == 200, mk.body())
      assert(req(HttpRequest.newBuilder(u("/v0/pipes/resurrect_pipe.json"))
        .GET(), "leaked_read").statusCode() == 200)
    } finally srv.stop()
  }

  test("a server-side defect on the read path is a logged 500, not a 400 " +
      "blaming the client") {
    // a registry query over a missing data dir is OUR defect (no
    // client-supplied SQL or params anywhere in the request): the
    // blanket AnalysisException→400 mapping used to report it as a
    // client error and never log it
    val srv = new ApiServer(spark, "/nonexistent_graft_sfdir",
      Map("boss" -> Set("*")))
    val p = srv.start()
    try {
      val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/v0/pipes/q1_pricing_summary.json"))
        .header("Authorization", "Bearer boss").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 500, s"${r.statusCode()} ${r.body()}")
      assert(r.body() == """{"error":"internal error"}""", r.body())
    } finally srv.stop()
  }

  test("dynamic pipes reject unknown params (typo must not silently take " +
      "the default branch) and honor in-template defaults") {
    val pipe =
      """NODE endpoint
        |SQL >
        |    SELECT o_orderstatus, count() AS n FROM orders
        |    WHERE o_totalprice >= {{Float32(min_price, 0.0)}}
        |    GROUP BY o_orderstatus ORDER BY o_orderstatus
        |    LIMIT {{Int32(lim, 2)}}
        |""".stripMargin
    assert(post("/v0/datafiles?name=defaulted_pipe.pipe", Some("admin_token"), pipe)
      .statusCode() == 200)
    // no params: both defaults bind
    val dflt = get("/v0/pipes/defaulted_pipe.json", Some("admin_token"))
    assert(dflt.statusCode() == 200, dflt.body())
    assert(dflt.body().contains("\"rows\":2"), dflt.body())
    // an explicit param overrides its default
    val lim1 = get("/v0/pipes/defaulted_pipe.json?lim=1", Some("admin_token"))
    assert(lim1.body().contains("\"rows\":1"), lim1.body())
    // a typo'd name is a 400 naming the declared params, never a silent 200
    val typo = get("/v0/pipes/defaulted_pipe.json?limm=1", Some("admin_token"))
    assert(typo.statusCode() == 400, s"${typo.statusCode()} ${typo.body()}")
    assert(typo.body().contains("limm") && typo.body().contains("lim"),
      typo.body())
  }

  test("client input that only fails at Spark analysis is 400, not 500") {
    val r = get("/v0/pipes/docs_bm25_search.json?q=foo&k=-1", Some("admin_token"))
    assert(r.statusCode() == 400, s"${r.statusCode()} ${r.body()}")
  }

  test("JSON rows carry every meta column, null cells as JSON null") {
    import org.apache.spark.sql.functions.lit
    val df = spark.range(2).toDF("id")
      .withColumn("maybe",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("id") === 0, lit("x")))
    val body = graft.sources.Endpoints.renderJson(df, 10).body
    assert(body.contains("""{"id":0,"maybe":"x"}"""), body)
    assert(body.contains("""{"id":1,"maybe":null}"""), body)
  }

  private def deletePipe(name: String): Unit = {
    val r = http.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/v0/datafiles/$name.pipe"))
      .header("Authorization", "Bearer admin_token").DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
  }

  test("serving profile: small-input fetches of every ref_* endpoint and two " +
      "pushed pipes are byte-identical to the compiled render, in every format") {
    import graft.sources.Endpoints
    val pushed = Seq(
      "profile_users_by_lang" ->
        """NODE users_by_lang
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
      "profile_flight_changes" ->
        """NODE changes
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
    for ((name, text) <- pushed) {
      val r = post(s"/v0/datafiles?name=$name.pipe", Some("admin_token"), text)
      assert(r.statusCode() == 200, r.body())
    }
    try {
      val names = SparkEntry.queries.keys.filter(_.startsWith("ref_")).toSeq.sorted ++
        pushed.map(_._1)
      for (name <- names) {
        // the pipe's frame in the session that built it: compiled
        val df = api.pipe(name).get.run(Map.empty)
        assert(ApiServer.leafBytes(df.queryExecution.analyzed) <= ApiServer.SmallInputBytes,
          s"$name is not a small input, so this test would not reach the profile")
        for ((format, compiled) <- Seq(
            "json" -> Endpoints.renderJson(df).body,
            "csv" -> Endpoints.renderCsv(df).body,
            "ndjson" -> Endpoints.renderNdjson(df).body)) {
          val r = get(s"/v0/pipes/$name.$format", Some("admin_token"))
          assert(r.statusCode() == 200, s"$name.$format: ${r.body()}")
          assert(r.body() == compiled, s"$name.$format differs from the compiled render")
        }
      }
    } finally pushed.foreach(p => deletePipe(p._1))
  }

  test("serving profile: after one warm round, a second round of the " +
      "dashboard's refresh endpoints compiles no class") {
    // the four endpoints one dashboard refresh fetches (dash_airport.py)
    val refresh = Seq("ref_active_vs_missed_flights", "ref_passengers_by_flight_status",
      "ref_baggage_by_flight_status", "ref_passenger_activity")
    def round(): Unit = for (name <- refresh) {
      val r = get(s"/v0/pipes/$name.json", Some("admin_token"))
      assert(r.statusCode() == 200, s"$name: ${r.body()}")
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    round()
    val before = compiles.getCount
    round()
    // fails if Spark stops honouring the internal factoryMode conf
    assert(compiles.getCount == before,
      s"${compiles.getCount - before} classes compiled in the second round")
  }

  test("serving profile: a pipe over a leaf larger than SmallInputBytes runs " +
      "compiled, a small one interpreted") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
          case _ =>
        }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    // the executed plan of the fetch whose Range ends at `end`; the
    // listener bus delivers events asynchronously
    def executed(end: Long): Seq[SparkPlanInfo] = {
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var found = Option.empty[Seq[SparkPlanInfo]]
      while (found.isEmpty && System.nanoTime() < deadline) {
        found = plans.asScala.map(nodes)
          .find(_.exists(_.simpleString.contains(s"Range (0, $end,")))
        if (found.isEmpty) Thread.sleep(50)
      }
      assert(found.nonEmpty, s"no executed plan over range(0, $end)")
      found.get
    }
    val big = 1L << 40 // 8 TiB of leaf bytes by Range's size estimate
    val small = 4242L
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((name, end) <- Seq("profile_big" -> big, "profile_small" -> small)) {
        val pushed = post(s"/v0/datafiles?name=$name.pipe", Some("admin_token"),
          s"""NODE endpoint
             |SQL >
             |    SELECT id FROM range(0, $end, 1, 2) LIMIT 3
             |""".stripMargin)
        assert(pushed.statusCode() == 200, pushed.body())
        val r = get(s"/v0/pipes/$name.json", Some("admin_token"))
        assert(r.statusCode() == 200 && r.body().contains("\"rows\":3"), r.body())
        deletePipe(name)
      }
      def compiled(plan: Seq[SparkPlanInfo]) =
        plan.exists(_.nodeName.startsWith("WholeStageCodegen"))
      assert(compiled(executed(big)), "the large input was not whole-stage compiled")
      assert(!compiled(executed(small)), "the small input was whole-stage compiled")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("control plane: bad pushes 400 at POST time, not first fetch") {
    // unresolvable table
    val bad = "NODE n0\nSQL >\n    SELECT * FROM no_such_table\n"
    val r = post("/v0/datafiles?name=bad.pipe", Some("admin_token"), bad)
    assert(r.statusCode() == 400, r.body())
    assert(get("/v0/pipes/bad.json", Some("admin_token")).statusCode() == 404)
    // no SQL nodes at all
    assert(post("/v0/datafiles?name=empty.pipe", Some("admin_token"),
      "DESCRIPTION nothing here\n").statusCode() == 400)
    // shadowing a built-in pipe name
    assert(post("/v0/datafiles?name=q1_pricing_summary.pipe", Some("admin_token"),
      "NODE n0\nSQL >\n    SELECT 1 AS x\n").statusCode() == 400)
    // unsupported extension
    assert(post("/v0/datafiles?name=foo.txt", Some("admin_token"), "x")
      .statusCode() == 400)
  }

  test("control plane: template params are typed literals, not SQL text") {
    // a REQUIRED param (no {% if defined %} guard) must provision fine —
    // the value arrives with each fetch
    val pipe = "TOKEN \"inj_read\" READ\n\nNODE n0\nSQL >\n" +
      "    SELECT count(*) AS n FROM events WHERE event_type = {{String(t)}}\n"
    val r = post("/v0/datafiles?name=by_type.pipe", Some("admin_token"), pipe)
    assert(r.statusCode() == 200, r.body())
    val ok = get("/v0/pipes/by_type.json?t=click", Some("inj_read"))
    assert(ok.statusCode() == 200, ok.body())
    // a quote-breakout payload stays INSIDE the string literal: one row
    // with n=0, never a second SELECT's data riding the scoped grant
    val inj = "click' UNION ALL SELECT count(*) FROM users_latest__final--"
    val attacked = get("/v0/pipes/by_type.json?t=" +
      java.net.URLEncoder.encode(inj, "UTF-8"), Some("inj_read"))
    assert(attacked.statusCode() == 200, attacked.body())
    assert(attacked.body().contains("\"rows\":1"), attacked.body())
    assert(attacked.body().contains("\"n\":0"), attacked.body())
    // fetching a required-param pipe without the param is the client's 400
    assert(get("/v0/pipes/by_type.json", Some("inj_read")).statusCode() == 400)
    // DateTime params parse-or-400 instead of reaching SQL
    val dt = "NODE n0\nSQL >\n" +
      "    SELECT count(*) AS n FROM events WHERE ts > {{DateTime(start)}}\n"
    assert(post("/v0/datafiles?name=after.pipe", Some("admin_token"), dt)
      .statusCode() == 200)
    assert(get("/v0/pipes/after.json?start=2024-01-01%2000:00:00",
      Some("admin_token")).statusCode() == 200)
    assert(get("/v0/pipes/after.json?start=" +
      java.net.URLEncoder.encode("bogus'--", "UTF-8"),
      Some("admin_token")).statusCode() == 400)
  }

  test("control plane: DELETE revokes the tokens the pipe minted") {
    val pipe = "TOKEN \"ephemeral_read\" READ\n\nNODE n0\nSQL >\n    SELECT 1 AS x\n"
    assert(post("/v0/datafiles?name=ephem.pipe", Some("admin_token"), pipe)
      .statusCode() == 200)
    assert(get("/v0/pipes/ephem.json", Some("ephemeral_read")).statusCode() == 200)
    val del = http.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/v0/datafiles/ephem.pipe"))
        .header("Authorization", "Bearer admin_token").DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 200, del.body())
    // the minted credential dies with the pipe: a LATER pipe provisioned
    // under the same name must not honor it
    val pipe2 = "TOKEN \"other_read\" READ\n\nNODE n0\nSQL >\n    SELECT 2 AS y\n"
    assert(post("/v0/datafiles?name=ephem.pipe", Some("admin_token"), pipe2)
      .statusCode() == 200)
    assert(get("/v0/pipes/ephem.json", Some("ephemeral_read")).statusCode() == 401)
    assert(get("/v0/pipes/ephem.json", Some("other_read")).statusCode() == 200)
  }

  test("control plane: datafile names are validated") {
    val body = "TOKEN \"star_read\" READ\n\nNODE n0\nSQL >\n    SELECT 1 AS x\n"
    // '*' would turn the declared token into a workspace-admin grant
    assert(post("/v0/datafiles?name=" +
      java.net.URLEncoder.encode("*.pipe", "UTF-8"),
      Some("admin_token"), body).statusCode() == 400)
    // dots collide with the format-suffix parser
    assert(post("/v0/datafiles?name=a.b.pipe", Some("admin_token"), body)
      .statusCode() == 400)
    assert(post("/v0/datafiles?name=" +
      java.net.URLEncoder.encode("x y.datasource", "UTF-8"),
      Some("admin_token"), "SCHEMA >\n    `a` Int64\n").statusCode() == 400)
  }

  test("control plane: datasource datafiles parse to their schema") {
    val text = Kits.text("users/pg/datasources/users_raw.datasource")
    val r = post("/v0/datafiles?name=users_raw_posted.datasource",
      Some("admin_token"), text)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"type\":\"datasource\""))
    assert(r.body().contains("\"columns\":["), r.body())
    val listing = get("/v0/datafiles", Some("admin_token"))
    assert(listing.body().contains("users_raw_posted.datasource"))
  }

  test("token lifecycle: list, create, use, revoke (tb_functions.py:321-354)") {
    // dedicated server: revocation must not bleed into the shared api's
    // constructor tokens that other tests depend on
    val srv = new ApiServer(spark, sf, Map(
      "boss" -> Set("*"), "victim" -> Set("events_by_type_status")))
    val p = srv.start()
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    try {
      // list is admin-gated, names constructor tokens with their grants
      val ls = req(HttpRequest.newBuilder(u("/v0/tokens")).GET(), "boss")
      assert(ls.statusCode() == 200, ls.body())
      assert(ls.body().contains("\"boss\"") && ls.body().contains("\"victim\""))
      assert(ls.body().contains("\"grants\":[\"events_by_type_status\"]"))
      assert(req(HttpRequest.newBuilder(u("/v0/tokens")).GET(), "victim")
        .statusCode() == 403)
      // create → immediately usable as a bearer credential
      val mk = req(HttpRequest.newBuilder(
        u("/v0/tokens?name=temp_read&pipes=events_by_type_status"))
        .POST(HttpRequest.BodyPublishers.noBody()), "boss")
      assert(mk.statusCode() == 200, mk.body())
      assert(req(HttpRequest.newBuilder(
        u("/v0/pipes/events_by_type_status.json")).GET(), "temp_read")
        .statusCode() == 200)
      // invalid creates 400: duplicate, unknown pipe, bad name, no scope
      for (bad <- Seq("/v0/tokens?name=temp_read&pipes=events_by_type_status",
          "/v0/tokens?name=t2&pipes=no_such_pipe",
          "/v0/tokens?name=bad.name&pipes=*",
          "/v0/tokens?name=t3"))
        assert(req(HttpRequest.newBuilder(u(bad))
          .POST(HttpRequest.BodyPublishers.noBody()), "boss").statusCode() == 400, bad)
      // revoke the created token AND a constructor token: both die
      for (t <- Seq("temp_read", "victim"))
        assert(req(HttpRequest.newBuilder(u(s"/v0/tokens/$t")).DELETE(), "boss")
          .statusCode() == 200)
      assert(req(HttpRequest.newBuilder(
        u("/v0/pipes/events_by_type_status.json")).GET(), "temp_read")
        .statusCode() == 401, "revoked token must be unauthorized")
      assert(req(HttpRequest.newBuilder(
        u("/v0/pipes/events_by_type_status.json")).GET(), "victim")
        .statusCode() == 401, "revoked constructor token must be unauthorized")
      assert(req(HttpRequest.newBuilder(u("/v0/tokens/temp_read")).DELETE(), "boss")
        .statusCode() == 404, "double delete")
    } finally srv.stop()
  }

  test("token lifecycle: re-creating a revoked constructor name is a NEW credential " +
      "with exactly the POSTed scope (no grant resurrection)") {
    // the attack: revoke the workspace-admin token `ops`, later re-issue
    // the same NAME scoped to one pipe — the union bug would silently
    // hand the narrow credential its old `*` grant back
    val srv = new ApiServer(spark, sf, Map(
      "boss" -> Set("*"), "ops" -> Set("*")))
    val p = srv.start()
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    try {
      assert(req(HttpRequest.newBuilder(u("/v0/tokens/ops")).DELETE(), "boss")
        .statusCode() == 200)
      val mk = req(HttpRequest.newBuilder(
        u("/v0/tokens?name=ops&pipes=events_by_type_status"))
        .POST(HttpRequest.BodyPublishers.noBody()), "boss")
      assert(mk.statusCode() == 200, mk.body())
      // the listing reports EXACTLY the POSTed scope...
      val ls = req(HttpRequest.newBuilder(u("/v0/tokens")).GET(), "boss")
      assert(ls.body().contains(
        """{"name":"ops","grants":["events_by_type_status"]}"""), ls.body())
      // ...and the credential behaves as scoped: pipe read works, but
      // admin surfaces and out-of-scope pipes are forbidden
      assert(req(HttpRequest.newBuilder(
        u("/v0/pipes/events_by_type_status.json")).GET(), "ops")
        .statusCode() == 200)
      assert(req(HttpRequest.newBuilder(u("/v0/tokens")).GET(), "ops")
        .statusCode() == 403, "re-created ops must NOT regain admin")
      assert(req(HttpRequest.newBuilder(
        u("/v0/pipes/active_users_per_hour.json")).GET(), "ops")
        .statusCode() == 403)
    } finally srv.stop()
  }

  test("token lifecycle: the last workspace admin token cannot be deleted") {
    val srv = new ApiServer(spark, sf, Map(
      "boss" -> Set("*"), "second_admin" -> Set("*")))
    val p = srv.start()
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    try {
      // while two admins live, either may go...
      assert(req(HttpRequest.newBuilder(u("/v0/tokens/second_admin")).DELETE(), "boss")
        .statusCode() == 200)
      // ...but deleting the final `*` token (even by itself) would lock
      // the control plane for the server's lifetime: refused
      val last = req(HttpRequest.newBuilder(u("/v0/tokens/boss")).DELETE(), "boss")
      assert(last.statusCode() == 400, last.body())
      assert(last.body().contains("last workspace admin"), last.body())
      assert(req(HttpRequest.newBuilder(u("/v0/tokens")).GET(), "boss")
        .statusCode() == 200, "boss must remain live after the refused delete")
    } finally srv.stop()
  }

  test("datasource listing tags dir-backed vs definition-only; definition-only " +
      "reads say so instead of a bare 404") {
    import spark.implicits._
    val qDir = tempDir("api_ds_tags")
    Seq((1L, "x")).toDF("event_id", "note")
      .coalesce(1).write.mode("overwrite").parquet(qDir)
    val srv = new ApiServer(spark, sf, Map("boss" -> Set("*")),
      datasourceDirs = Map("events_quarantine" -> qDir))
    val p = srv.start()
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    try {
      // POST a schema-only datasource definition
      val ddl = "SCHEMA >\n    `id` Int64,\n    `name` String\n"
      val mk = req(HttpRequest.newBuilder(u("/v0/datafiles?name=defs_only.datasource"))
        .POST(HttpRequest.BodyPublishers.ofString(ddl)), "boss")
      assert(mk.statusCode() == 200, mk.body())
      val ls = req(HttpRequest.newBuilder(u("/v0/datasources")).GET(), "boss")
      assert(ls.body().contains(
        """{"name":"defs_only","readable":false,"kind":"definition"}"""), ls.body())
      assert(ls.body().contains(
        """{"name":"events_quarantine","readable":true,"kind":"data"}"""), ls.body())
      // a listed-but-definition-only name explains itself on read/truncate
      val rd = req(HttpRequest.newBuilder(u("/v0/datasources/defs_only")).GET(), "boss")
      assert(rd.statusCode() == 404 && rd.body().contains("no data backing"), rd.body())
      val tr = req(HttpRequest.newBuilder(u("/v0/datasources/defs_only/truncate"))
        .POST(HttpRequest.BodyPublishers.noBody()), "boss")
      assert(tr.statusCode() == 404 && tr.body().contains("no data backing"), tr.body())
    } finally srv.stop()
  }

  test("quarantine datasource: read and truncate over HTTP (tb_functions.py:141-142)") {
    import spark.implicits._
    val qDir = tempDir("api_quarantine")
    Seq((3L, "bad row"), (4L, "worse row")).toDF("event_id", "note")
      .coalesce(1).write.mode("overwrite").parquet(qDir)
    val srv = new ApiServer(spark, sf, Map("boss" -> Set("*"),
      "peon" -> Set("events_by_type_status")),
      datasourceDirs = Map("events_quarantine" -> qDir))
    val p = srv.start()
    def req(b: HttpRequest.Builder, tok: String) =
      http.send(b.header("Authorization", s"Bearer $tok").build(),
        HttpResponse.BodyHandlers.ofString())
    def u(path: String) = URI.create(s"http://127.0.0.1:$p$path")
    try {
      val ls = req(HttpRequest.newBuilder(u("/v0/datasources")).GET(), "boss")
      assert(ls.statusCode() == 200 && ls.body().contains("events_quarantine"))
      val rd = req(HttpRequest.newBuilder(u("/v0/datasources/events_quarantine")).GET(), "boss")
      assert(rd.statusCode() == 200, rd.body())
      assert(rd.body().contains("\"rows\":2") && rd.body().contains("bad row"))
      // ops surface is admin-gated
      assert(req(HttpRequest.newBuilder(u("/v0/datasources/events_quarantine")).GET(), "peon")
        .statusCode() == 403)
      assert(req(HttpRequest.newBuilder(u("/v0/datasources/nope")).GET(), "boss")
        .statusCode() == 404)
      // truncate empties but keeps the datasource readable at 0 rows
      val tr = req(HttpRequest.newBuilder(u("/v0/datasources/events_quarantine/truncate"))
        .POST(HttpRequest.BodyPublishers.noBody()), "boss")
      assert(tr.statusCode() == 200, tr.body())
      val rd2 = req(HttpRequest.newBuilder(u("/v0/datasources/events_quarantine")).GET(), "boss")
      assert(rd2.statusCode() == 200 && rd2.body().contains("\"rows\":0"), rd2.body())
    } finally srv.stop()
  }

  test("TOKEN declarations parse from the reference kit pipes") {
    // the vendored kit files carry no TOKEN lines (nothing in the repo
    // records their placement), so the reference's token layout is
    // checked only against the upstream checkout (its location in
    // SURVEY.md), and the test is canceled where that is absent
    val kit = new java.io.File("/root/reference/kits/airport/mysql/pipes")
    assume(kit.isDirectory)
    val pipes = kit.listFiles().filter(_.getName.endsWith(".pipe")).toSeq
      .map(f => f.getName.stripSuffix(".pipe") ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    val toks = ApiServer.tokensFromPipes(pipes)
    // the shared dashboard token covers several pipes; per-endpoint
    // tokens cover exactly one
    assert(toks("Dashboard_Read").size >= 2)
    assert(toks.exists { case (name, grants) =>
      name.contains("endpoint_read") && grants.size == 1 })
  }

  test("tokensFromPipes: a shared token grants every pipe that declares it") {
    def pipe(tokens: String*) =
      tokens.map(t => s"""TOKEN "$t" READ\n""").mkString +
        "\nNODE n0\nSQL >\n    SELECT 1 AS x\n"
    val toks = ApiServer.tokensFromPipes(Seq(
      "a" -> pipe("shared_read"),
      "b" -> pipe("shared_read", "b_endpoint_read"),
      "c" -> pipe()))
    assert(toks == Map(
      "shared_read" -> Set("a", "b"), "b_endpoint_read" -> Set("b")))
  }

  test("dedup-artifact status endpoint: current flips to stale across an " +
      "input append and back after update(), with the increment stats") {
    import spark.implicits._
    // a private data dir this test owns (the shared sf dir's artifact
    // status depends on sibling tests' builds)
    val data = tempDir("api_dm_data")
    Tables.documents(spark, sf).filter("doc_id < 300")
      .write.parquet(s"$data/documents.parquet")
    Tables.embeddings(spark, sf).filter("vec_id < 300")
      .write.parquet(s"$data/embeddings.parquet")
    // the event pipes below read it; artifact currency does not
    spark.read.parquet(s"$sf/events.parquet")
      .write.parquet(s"$data/events.parquet")
    val srv = new ApiServer(spark, data, Map("boss" -> Set("*")))
    val p = srv.start()
    def status(tok: Option[String]) = {
      val b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/v0/dedup_artifacts"))
      tok.foreach(t => b.header("Authorization", s"Bearer $t"))
      http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      assert(status(None).statusCode() == 401)
      // nothing staged yet → stale
      assert(status(Some("boss")).body().contains("\"current\":false"))
      graft.operators.DedupMaintenance.update(spark, data,
        SparkEntry.dedupArtifactsDir(data))
      val built = status(Some("boss")).body()
      assert(built.contains("\"current\":true") &&
        built.contains("\"generation\":0") &&
        built.contains("\"mode\":\"full\""), built)
      // with no params, every parameterized pipe the server holds reads
      // exactly what its registry entry reads: the staged artifacts
      // once they are current
      for (name <- Seq("docs_near_dup_pairs", "docs_minhash_lsh_pairs",
          "emb_near_dup_pairs", "emb_knn_ivf", "events_in_window",
          "docs_bm25_search", "ref_flights_missed_pct_minute",
          "user_window_features", "docs_bm25_rerank")) {
        val served = srv.pipe(name).get.run(Map.empty).inputFiles.sorted.toSeq
        val registered = SparkEntry.queries(name)(spark, data).inputFiles.sorted.toSeq
        assert(served == registered, name)
      }
      // an input append flips the status stale without any server poke
      Tables.documents(spark, sf).filter("doc_id >= 300")
        .write.mode("append").parquet(s"$data/documents.parquet")
      assert(status(Some("boss")).body().contains("\"current\":false"))
      graft.operators.DedupMaintenance.update(spark, data,
        SparkEntry.dedupArtifactsDir(data))
      val inc = status(Some("boss")).body()
      assert(inc.contains("\"current\":true") &&
        inc.contains("\"generation\":1") &&
        inc.contains("\"mode\":\"incremental\"") &&
        inc.contains("\"docs_upserted\""), inc)
    } finally srv.stop()
  }

  test("dedup-artifact maintenance actuators: stale → POST update → current " +
      "and POST compact bounds the generation, all over HTTP; admin-gated; " +
      "status honors the artifact's own staging params") {
    import spark.implicits._
    val data = tempDir("api_dmx_data")
    Tables.documents(spark, sf).filter("doc_id < 300")
      .write.parquet(s"$data/documents.parquet")
    Tables.embeddings(spark, sf).filter("vec_id < 300")
      .write.parquet(s"$data/embeddings.parquet")
    val art = SparkEntry.dedupArtifactsDir(data)
    val srv = new ApiServer(spark, data,
      Map("boss" -> Set("*"), "reader" -> Set("docs_dup_clusters")))
    val p = srv.start()
    def call(method: String, path: String, tok: Option[String]) = {
      val b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/v0/dedup_artifacts$path"))
      tok.foreach(t => b.header("Authorization", s"Bearer $t"))
      val req = if (method == "POST")
        b.POST(HttpRequest.BodyPublishers.noBody()).build() else b.GET().build()
      http.send(req, HttpResponse.BodyHandlers.ofString())
    }
    try {
      // NON-DEFAULT staging params, built JVM-side: status must judge
      // currency under the STORED params, not the defaults
      assert(graft.operators.DedupMaintenance.update(
        spark, data, art, minJaccard = 0.4, maxDf = 50) == "full")
      val s0 = call("GET", "", Some("reader")).body()
      assert(s0.contains("\"current\":true") &&
        s0.contains("\"min_jaccard\":0.4") && s0.contains("\"max_df\":50"), s0)
      // an input append flips it stale; bringing it current is one POST
      // — no JVM access — and the update keeps the stored params
      Tables.documents(spark, sf).filter("doc_id >= 300")
        .write.mode("append").parquet(s"$data/documents.parquet")
      assert(call("GET", "", Some("reader")).body().contains("\"current\":false"))
      // mutating actions are admin-only
      assert(call("POST", "/update", Some("reader")).statusCode() == 403)
      assert(call("POST", "/update", None).statusCode() == 401)
      val upd = call("POST", "/update", Some("boss"))
      assert(upd.statusCode() == 200 &&
        upd.body().contains("\"mode\":\"incremental\"") &&
        upd.body().contains("\"current\":true"), upd.body())
      assert(manifest(art).params == (0.4, 50))
      // compact folds the increment chain back to generation 0
      assert(call("GET", "", Some("reader")).body().contains("\"generation\":1"))
      val cmp = call("POST", "/compact", Some("reader"))
      assert(cmp.statusCode() == 403)
      val cmpOk = call("POST", "/compact", Some("boss"))
      assert(cmpOk.statusCode() == 200 &&
        cmpOk.body().contains("\"generation\":0") &&
        cmpOk.body().contains("\"current\":true"), cmpOk.body())
      // unknown action → 405 contract line
      assert(call("POST", "/frobnicate", Some("boss")).statusCode() == 405)
    } finally srv.stop()
  }


  test("auto-compaction soak: a 10-increment CDC chain through the HTTP " +
      "actuators keeps the generation bounded (compaction fires inside " +
      "update), stays current, and ends identical to a fresh rebuild") {
    import spark.implicits._
    val data = tempDir("api_soak_data")
    Tables.documents(spark, sf).filter("doc_id < 200")
      .write.parquet(s"$data/documents.parquet")
    Tables.embeddings(spark, sf).filter("vec_id < 200")
      .write.parquet(s"$data/embeddings.parquet")
    val art = SparkEntry.dedupArtifactsDir(data)
    val srv = new ApiServer(spark, data, Map("boss" -> Set("*")))
    val p = srv.start()
    def call(method: String, path: String) = {
      val b = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$p/v0/dedup_artifacts$path"))
        .header("Authorization", "Bearer boss")
      val req = if (method == "POST")
        b.POST(HttpRequest.BodyPublishers.noBody()).build() else b.GET().build()
      http.send(req, HttpResponse.BodyHandlers.ofString())
    }
    def gen(body: String): Int =
      """"generation":(\d+)""".r.findFirstMatchIn(body).get.group(1).toInt
    try {
      assert(call("POST", "/update").body().contains("\"mode\":\"full\""))
      var maxGen = 0
      var compactions = 0
      for (i <- 1 to 10) {
        // a realistic CDC batch: append a fresh slice of the corpus
        Tables.documents(spark, sf)
          .filter(s"doc_id >= ${200 + i * 20} and doc_id < ${220 + i * 20}")
          .write.mode("append").parquet(s"$data/documents.parquet")
        val r = call("POST", "/update")
        assert(r.statusCode() == 200 &&
          r.body().contains("\"mode\":\"incremental\"") &&
          r.body().contains("\"current\":true"), r.body())
        val g = gen(r.body())
        maxGen = math.max(maxGen, g)
        if (graft.operators.ArtifactManifest.read(art).flatMap(_.lastUpdate)
            .exists(_.contains("\"compacted\":true"))) compactions += 1
      }
      // the policy (autoCompactMaxGen = 8) bounds the chain: the
      // generation observed over 10 increments never exceeds the
      // threshold, because update() compacts back to 0 when it hits it
      assert(maxGen <= 8, s"generation unbounded: $maxGen")
      assert(compactions >= 1, "the chain must have auto-compacted")
      assert(gen(call("GET", "").body()) < 8)
      // end-state identity: the maintained artifacts equal a fresh
      // rebuild of the final corpus (the soak's correctness gate)
      val art2 = tempDir("api_soak_fresh")
      val l = graft.operators.VectorOps
        .readLayoutGeometry(s"$art/emb_probe_layout").get._1
      graft.operators.TextDedup.writeDedupArtifacts(spark, data, art2,
        embNLists = l.toInt)
      def rws(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rws(graft.operators.TextDedup.stagedPairs(spark, art)) ==
        rws(graft.operators.TextDedup.stagedPairs(spark, art2)))
      assert(rws(graft.operators.TextDedup.stagedClusters(spark, art)) ==
        rws(graft.operators.TextDedup.stagedClusters(spark, art2)))
      assert(rws(graft.operators.TextDedup.stagedSpans(spark, art)) ==
        rws(graft.operators.TextDedup.stagedSpans(spark, art2)))
      assert(rws(graft.operators.TextDedup.readDocDigests(spark, art)) ==
        rws(graft.operators.TextDedup.readDocDigests(spark, art2)))
    } finally srv.stop()
  }
}
