package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.CdcFixtures
import graft.pipes.{AirportPipes, UsersPipes}
import graft.sql.{ChSqlTranslator, PipeRunner}

/** Execute the reference's `.pipe` files through the CH-SQL→Spark-SQL
  * translator against fixture CDC logs, and require identical results
  * to the hand-built DataFrame pipes for every endpoint. The files are
  * reconstructions vendored under `src/test/resources/kits` ([[Kits]]),
  * rebuilt in part from those hand-built pipes. So these tests check
  * that the translator handles each ClickHouse construct the files use;
  * they do not check that the hand-built pipes are faithful to the
  * reference. That needs the upstream files: beside an upstream
  * checkout, KitParserSpec names each reconstruction that differs. */
class TranslatorSpec extends SparkSpec {

  private val kits = Kits.root.getPath
  private lazy val gen = CdcFixtures.generate()
  private lazy val dir: String = {
    val d = tempDir("graftsql")
    CdcFixtures.writeAll(spark, gen, d)
    // register raw CDC logs as the datasource tables
    for (t <- Seq("flights_raw", "passengers_raw", "baggage_raw", "users_raw"))
      spark.read.parquet(s"$d/$t").createOrReplaceTempView(t)
    // users_latest FINAL view (ReplacingMergeTree read path)
    UsersPipes.usersLatestFinal(spark, d).createOrReplaceTempView("users_latest__final")
    // users_batch from the copy job
    UsersPipes.usersBatchCopy(spark, d, s"$d/users_batch")
    spark.read.parquet(s"$d/users_batch").createOrReplaceTempView("users_batch")
    d
  }
  private lazy val asOf = gen.endTime.toString.replace("T", " ")

  private def runPipe(kit: String, name: String,
                      params: Map[String, String] = Map.empty): DataFrame =
    PipeRunner.run(spark, new File(s"$kits/$kit/pipes/$name.pipe"),
      params, Some(asOf))

  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
  }

  private def assertSame(translated: DataFrame, handBuilt: DataFrame): Unit = {
    assert(translated.columns.sorted.toSeq == handBuilt.columns.sorted.toSeq,
      s"columns: ${translated.columns.toSeq} vs ${handBuilt.columns.toSeq}")
    assert(rows(translated) == rows(handBuilt))
  }

  test("latest_*_info pipes translate and match the hand-built endpoints") {
    dir // force setup
    assertSame(runPipe("airport/mysql", "latest_flight_info"),
      AirportPipes.latestFlightInfo(spark, dir))
    // note: latest_passenger_info.pipe has CH's tolerated trailing comma
    assertSame(runPipe("airport/mysql", "latest_passenger_info"),
      AirportPipes.latestPassengerInfo(spark, dir))
    assertSame(runPipe("airport/mysql", "latest_baggage_info"),
      AirportPipes.latestBaggageInfo(spark, dir))
  }

  test("active_flights_past_hour translates (now() → asOf literal)") {
    dir
    assertSame(runPipe("airport/mysql", "active_flights_past_hour"),
      AirportPipes.activeFlightsPastHour(spark, dir, Some(gen.endTime)))
  }

  test("flights_missed_pct_minute: 3-node chain with cross-pipe refs and gap-fill") {
    dir
    runPipe("airport/mysql", "latest_flight_info")
      .createOrReplaceTempView("latest_flight_info")
    runPipe("airport/mysql", "latest_passenger_info")
      .createOrReplaceTempView("latest_passenger_info")
    assertSame(runPipe("airport/mysql", "flights_missed_pct_minute"),
      AirportPipes.flightsMissedPctMinute(spark, dir, Some(gen.endTime)))
  }

  test("template parameters: defined(start)/defined(end) branch") {
    dir
    runPipe("airport/mysql", "latest_flight_info")
      .createOrReplaceTempView("latest_flight_info")
    runPipe("airport/mysql", "latest_passenger_info")
      .createOrReplaceTempView("latest_passenger_info")
    val start = gen.endTime.minusMinutes(30).toString.replace("T", " ")
    val translated = runPipe("airport/mysql", "flights_missed_pct_minute",
      Map("start" -> start, "end" -> asOf))
    val handBuilt = AirportPipes.flightsMissedPctMinute(spark, dir,
      Some(gen.endTime), start = Some(gen.endTime.minusMinutes(30)),
      end = Some(gen.endTime))
    assertSame(translated, handBuilt)
  }

  test("passengers_by_flight_status and baggage_by_flight_status translate") {
    dir
    runPipe("airport/mysql", "latest_flight_info")
      .createOrReplaceTempView("latest_flight_info")
    runPipe("airport/mysql", "latest_passenger_info")
      .createOrReplaceTempView("latest_passenger_info")
    runPipe("airport/mysql", "latest_baggage_info")
      .createOrReplaceTempView("latest_baggage_info")
    assertSame(runPipe("airport/mysql", "passengers_by_flight_status"),
      AirportPipes.passengersByFlightStatus(spark, dir, Some(gen.endTime)))
    assertSame(runPipe("airport/mysql", "baggage_by_flight_status"),
      AirportPipes.baggageByFlightStatus(spark, dir, Some(gen.endTime)))
  }

  test("passenger_activity and active_vs_missed_flights translate") {
    dir
    assertSame(runPipe("airport/mysql", "passenger_activity"),
      AirportPipes.passengerActivity(spark, dir, Some(gen.endTime)))
    runPipe("airport/mysql", "active_flights_past_hour")
      .createOrReplaceTempView("active_flights_past_hour")
    runPipe("airport/mysql", "latest_flight_info")
      .createOrReplaceTempView("latest_flight_info")
    runPipe("airport/mysql", "latest_passenger_info")
      .createOrReplaceTempView("latest_passenger_info")
    runPipe("airport/mysql", "flights_missed_pct_minute")
      .createOrReplaceTempView("flights_missed_pct_minute")
    assertSame(runPipe("airport/mysql", "active_vs_missed_flights"),
      AirportPipes.activeVsMissedFlights(spark, dir, Some(gen.endTime)))
  }

  test("users_mv and users_api_rmt (FINAL) translate") {
    dir
    assertSame(runPipe("users/pg", "users_mv"),
      UsersPipes.usersMv(UsersPipes.usersRaw(spark, dir)))
    assertSame(runPipe("users/pg", "users_api_rmt"),
      UsersPipes.usersApiRmt(spark, dir))
  }

  test("users_api_batch (scalar WITH + NOT IN + * EXCEPT + UNION ALL) translates") {
    dir
    assertSame(runPipe("users/pg", "users_api_batch"),
      UsersPipes.usersApiBatch(spark, dir, s"$dir/users_batch"))
  }

  test("users_batch_copy (the copy pipe) translates; output equals the hand-built job") {
    dir
    // build a mid-stream batch state: copy job over a 60% prefix of the
    // log, so the next copy genuinely has new events + backfill
    val all = UsersPipes.usersRaw(spark, dir)
    val cut = all.agg(expr("percentile_approx(updated_at, 0.6)")).first().getLong(0)
    val prefixDir = tempDir("graftpfx")
    all.filter(col("updated_at") <= cut).write.parquet(s"$prefixDir/users_raw")
    val batchMid = tempDir("graftbm") + "/users_batch"
    UsersPipes.usersBatchCopy(spark, prefixDir, batchMid)
    // translated pipe sees the mid-stream batch + the full raw log
    spark.read.parquet(batchMid).createOrReplaceTempView("users_batch")
    val translated = runPipe("users/pg", "users_batch_copy")
    // hand-built job appends its generation to a copy of the same state
    val batch2 = tempDir("graftb2") + "/users_batch"
    spark.read.parquet(batchMid).write.parquet(batch2)
    UsersPipes.usersBatchCopy(spark, dir, batch2)
    val appended = spark.read.parquet(batch2)
    val hw = appended.agg(max(col("batch_max_updated"))).first().getLong(0)
    assertSame(translated, appended.filter(col("batch_max_updated") === hw))
    // restore the full-log batch view for any later test
    spark.read.parquet(s"$dir/users_batch").createOrReplaceTempView("users_batch")
  }

  test("users_batch_copy over an empty users_batch fills it like the hand-built job") {
    dir
    // ClickHouse's max over no rows is the column default 0, so the
    // first copy takes every event; a NULL watermark would take none
    val full = spark.read.parquet(s"$dir/users_batch")
    full.where("false").createOrReplaceTempView("users_batch")
    try {
      val translated = runPipe("users/pg", "users_batch_copy")
      val fresh = tempDir("graftb0") + "/users_batch"
      UsersPipes.usersBatchCopy(spark, dir, fresh)
      val handBuilt = spark.read.parquet(fresh)
      assert(handBuilt.count() > 0)
      assertSame(translated, handBuilt)
    } finally full.createOrReplaceTempView("users_batch")
  }

  // keep last: rebinds the users_raw / users_latest__final views to the
  // MySQL-dialect log (DateTime timestamps, __value, no __deleted)
  test("mysql dialect: users_mv and users_api translate and match") {
    dir
    spark.read.parquet(s"$dir/users_raw_mysql").createOrReplaceTempView("users_raw")
    val mv = UsersPipes.usersMvMysql(spark.read.parquet(s"$dir/users_raw_mysql"))
    operators.Dedup.latestByKey(mv, Seq("id"), col("updated_at"),
        mv.columns.filter(_ != "id").toSeq)
      .select("id", "name", "email", "address", "phone_number",
        "email_verified", "onboarded", "deleted", "created_at", "updated_at",
        "event_timestamp", "lang")
      .createOrReplaceTempView("users_latest__final")
    assertSame(runPipe("users/mysql", "users_mv"),
      UsersPipes.usersMvMysql(spark.read.parquet(s"$dir/users_raw_mysql")))
    assertSame(runPipe("users/mysql", "users_api"),
      UsersPipes.usersApiMysql(spark, dir))
    // both dialects must reconstruct the same source state
    val pg = UsersPipes.usersApiRmt(spark, dir)
      .select("id", "email", "deleted").collect().map(_.toString).toSeq
    val my = UsersPipes.usersApiMysql(spark, dir)
      .select("id", "email", "deleted").collect().map(_.toString).toSeq
    assert(pg == my)
    // restore the pg-dialect views: the session (and its temp views) is
    // shared across suites, and these names must not leak mysql schemas
    spark.read.parquet(s"$dir/users_raw").createOrReplaceTempView("users_raw")
    UsersPipes.usersLatestFinal(spark, dir).createOrReplaceTempView("users_latest__final")
  }

  test("CH dialect runs through spark.sql directly via the injected parser") {
    dir // force view setup
    // LIMIT 1 BY — not Spark syntax at all; the parser front door
    // routes it through the translator
    val direct = spark.sql(
      """SELECT id, flight_number, status, passenger_count, departed_at, closed_at
        |FROM flights_raw
        |ORDER BY id, __timestamp desc
        |LIMIT 1 BY id""".stripMargin)
    assertSame(direct, AirportPipes.latestFlightInfo(spark, dir))
    // FROM t FINAL — VALID Spark syntax (alias!), so only marker-based
    // detection catches it; users_api_rmt.pipe:6 verbatim
    val fin = spark.sql("SELECT * FROM users_latest FINAL ORDER BY id")
    assertSame(fin, UsersPipes.usersApiRmt(spark, dir))
    // CH scalar signatures route through the function maps
    assert(spark.sql("SELECT toStartOfMinute(TIMESTAMP_NTZ '2024-05-01 10:30:45') AS m")
      .first().get(0).toString == "2024-05-01T10:30")
    // plain Spark SQL must be untouched: Spark's own round survives
    assert(spark.sql("SELECT round(2.345, 2) AS r").first().get(0).toString == "2.35")
  }

  test("LIMIT n BY generalizes: n>1 and multi-key partitions") {
    dir
    import org.apache.spark.sql.expressions.Window
    val raw = spark.read.parquet(s"$dir/flights_raw")
    // n = 2, single key
    val two = spark.sql(
      """SELECT id, flight_number, status FROM flights_raw
        |ORDER BY id, __timestamp desc
        |LIMIT 2 BY id""".stripMargin)
    val w2 = Window.partitionBy("id").orderBy(col("__timestamp").desc)
    val want2 = raw.withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= 2)
      .orderBy(col("id"), col("__timestamp").desc)
      .select("id", "flight_number", "status")
    assert(two.collect().map(_.toString).toSeq ==
      want2.collect().map(_.toString).toSeq)
    // n = 1, two keys
    val multi = spark.sql(
      """SELECT flight_number, status, id FROM flights_raw
        |ORDER BY flight_number, status, __timestamp desc
        |LIMIT 1 BY flight_number, status""".stripMargin)
    val wm = Window.partitionBy("flight_number", "status")
      .orderBy(col("__timestamp").desc)
    val wantM = raw.withColumn("__rn", row_number().over(wm))
      .filter(col("__rn") === 1)
      .orderBy(col("flight_number"), col("status"), col("__timestamp").desc)
      .select("flight_number", "status", "id")
    assert(multi.collect().map(_.toString).toSeq ==
      wantM.collect().map(_.toString).toSeq)
  }

  test("FINAL keyword is case-insensitive; qualified alias usage still wins") {
    dir // force view setup
    // CH keywords are case-insensitive: a lowercase `final` from a
    // ported dashboard must collapse to latest rows, not silently parse
    // as a Spark table alias over the full CDC log
    assertSame(spark.sql("SELECT * FROM users_latest final ORDER BY id"),
      UsersPipes.usersApiRmt(spark, dir))
    // markers are masked inside string literals: a phantom FINAL in a
    // literal must not reroute a plain statement (the dialect round()
    // rewrite would change Spark semantics)
    val r = spark.sql("SELECT round(2.345, 2) AS r, 'FROM t FINAL' AS tag").first()
    assert(r.get(0).toString == "2.35")
    assert(r.getString(1) == "FROM t FINAL")
  }

  test("translate regex passes are string-literal aware") {
    val sql = "SELECT 'deleted = false' AS a, 'now()' AS b, 'numbers(3)' AS c, " +
      "' , FROM phantom' AS d FROM users_latest FINAL WHERE deleted = false"
    val t = ChSqlTranslator.translate(sql, asOf = Some("2024-05-01 00:00:00"))
    assert(t.contains("'deleted = false'"), t)
    assert(t.contains("'now()'"), t)
    assert(t.contains("'numbers(3)'"), t)
    assert(t.contains("' , FROM phantom'"), t)
    assert(t.contains("users_latest__final"), t)
    assert(t.endsWith("deleted = 0"), t)
  }

  test("aggregate combinators and date casts: countIf/sumIf/avgIf/uniqExact/toDate") {
    dir // force view setup
    // real execution through the spark.sql front door over the CDC log
    val r = spark.sql(
      """SELECT countIf(status = 'departed') AS departed,
        |       sumIf(passenger_count, status = 'departed') AS pax,
        |       avgIf(passenger_count, status = 'departed') AS avg_pax,
        |       uniqExact(flight_number) AS flights,
        |       toDate(min(__timestamp)) AS first_day,
        |       toYYYYMMDD(min(__timestamp)) AS first_ymd
        |FROM flights_raw""".stripMargin).first()
    val raw = spark.read.parquet(s"$dir/flights_raw")
    val want = raw.filter(col("status") === "departed")
    assert(r.getLong(0) == want.count())
    assert(r.getLong(1) == want.agg(sum("passenger_count")).first().getLong(0))
    assert(r.getDouble(2) == want.agg(avg("passenger_count")).first().getDouble(0))
    assert(r.getLong(3) == raw.select("flight_number").distinct().count())
    val minTs = raw.agg(min("__timestamp")).first()
      .getAs[java.time.LocalDateTime](0)
    assert(r.getDate(4).toString == minTs.toLocalDate.toString)
    assert(r.getInt(5) == minTs.toLocalDate.toString.replace("-", "").toInt)
  }

  test("parameterized aggregates: quantile(p)(x) double-arg-list syntax") {
    dir // force view setup
    val r = spark.sql(
      """SELECT quantileExact(0.25)(passenger_count) AS q25,
        |       quantile(0.9)(passenger_count) AS q90,
        |       quantile(passenger_count) AS med,
        |       quantileExact(0.5)(coalesce(passenger_count, 0)) AS med2
        |FROM flights_raw""".stripMargin).first()
    val raw = spark.read.parquet(s"$dir/flights_raw")
    def pct(p: Double) = raw
      .agg(expr(s"percentile(passenger_count, $p)")).first().getDouble(0)
    assert(r.getDouble(0) == pct(0.25))
    assert(r.getDouble(1) == pct(0.9))
    assert(r.getDouble(2) == pct(0.5))
    // a single-list call BEFORE a double-list one must not shadow it
    val t = graft.sql.ChSqlTranslator.translate(
      "SELECT quantile(x) AS a, quantile(0.75)(y) AS b FROM t")
    assert(t.contains("percentile(x, 0.5)") && t.contains("percentile(y, 0.75)"), t)
  }

  test("uniq maps to the HLL sketch, within 5% of exact") {
    dir // force view setup
    val r = spark.sql(
      "SELECT uniq(flight_number) AS u, uniqExact(flight_number) AS x FROM flights_raw")
      .first()
    val (u, x) = (r.getLong(0), r.getLong(1))
    assert(math.abs(u - x).toDouble / x <= 0.05, s"uniq $u vs exact $x")
  }

  test("review hardening: quote escapes, comment apostrophes, LIMIT BY tail") {
    // '' and \' escapes must not desynchronize the literal mask and
    // silently disable rewrites after the literal
    val t1 = ChSqlTranslator.translate(
      "SELECT 'it''s' AS a, 'it\\'s' AS b FROM users_latest FINAL WHERE deleted = false")
    assert(t1.contains("users_latest__final"), t1)
    assert(t1.endsWith("deleted = 0"), t1)
    // an apostrophe inside a -- comment must not open a phantom string
    // that blanks genuine markers after it
    assert(graft.sql.ChDialectParser.looksChDialect(
      "-- user's latest\nSELECT * FROM users_latest FINAL ORDER BY id"))
    // a trailing LIMIT clause is NOT part of the key list: the rewrite
    // must fall through untouched rather than emit garbage window SQL
    val t3 = ChSqlTranslator.translate("SELECT a FROM t ORDER BY a, b desc LIMIT 2 BY a LIMIT 5")
    assert(t3.contains("LIMIT 2 BY a LIMIT 5"), t3)
  }

  test("dialect front door: no false positives, literals safe, errors preserved") {
    // `final` used as a REAL alias: the qualifier reference final.x
    // proves it, so the case-insensitive FINAL marker stands down
    spark.range(3).toDF("x").createOrReplaceTempView("results")
    assert(spark.sql("SELECT final.x FROM results final").count() == 3)
    // a genuine marker routes the statement, but a string literal that
    // LOOKS like a CH call is data and must survive verbatim
    val row = spark.sql(
      "SELECT toStartOfMinute(TIMESTAMP_NTZ '2024-05-01 10:30:45') AS m, 'argMax(a,b)' AS tag")
      .first()
    assert(row.get(0).toString == "2024-05-01T10:30")
    assert(row.getString(1) == "argMax(a,b)")
    // malformed SQL containing a mapped function name keeps Spark's own
    // ParseException (the translator retry must not mask it)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("SELECT round(x FROM t")
    }
    // CH negative precision: round(x, -2) rounds to hundreds
    val neg = ChSqlTranslator.translate("SELECT round(v, -2) AS r FROM x")
    assert(neg.contains("floor((v) / cast(100 as double) + 0.5) * 100"), neg)
    // ad-hoc path maps now()/now64() to the wall clock instead of
    // leaving an unresolvable function
    val nowT = ChSqlTranslator.translate("SELECT now64() AS ts",
      nowFallbackToWallClock = true)
    assert(nowT.contains("current_timestamp"), nowT)
  }
  test("multiIf maps to a CASE chain; arrayJoin explodes in the select list") {
    dir // force view setup
    val r = spark.sql(
      """SELECT multiIf(passenger_count > 150, 'heavy',
        |               passenger_count > 50, 'medium',
        |               'light') AS band, count() AS n
        |FROM flights_raw GROUP BY band ORDER BY band""".stripMargin)
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    val raw = spark.read.parquet(s"$dir/flights_raw")
    val want = raw.select(
        when(col("passenger_count") > 150, "heavy")
          .when(col("passenger_count") > 50, "medium")
          .otherwise("light").as("band"))
      .groupBy("band").count()
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r == want && r.nonEmpty)
    val exploded = spark.sql(
      "SELECT arrayJoin(array(1, 2, 3)) AS v FROM flights_raw LIMIT 100")
      .collect().map(_.getInt(0)).toSet
    assert(exploded == Set(1, 2, 3))
  }
  test("plain Spark SQL with dialect-looking content is NOT rerouted") {
    dir // force view setup
    // a column whose NAME embeds a marker word and a literal containing
    // marker calls: neither may trigger translation (the round()
    // rewrite inside the translator would change semantics)
    val r = spark.sql(
      """SELECT flight_number AS final_total,
        |       'use multiIf(a, b) or argMax(x, y)' AS note,
        |       round(cast(passenger_count as double) / 7, 2) AS spark_round
        |FROM flights_raw ORDER BY final_total LIMIT 3""".stripMargin)
      .collect()
    assert(r.length == 3)
    assert(r.head.getString(1).contains("multiIf(a, b)"))
    // Spark's own round (half-even on doubles) must be untouched: the
    // dialect maps round() to floor-rounding, so a reroute would show
    // up on a .xx5 boundary
    val v = spark.sql("SELECT round(2.675, 2) AS x").first()
    assert(v.get(0) != null)
  }

  test("a template default the grammar cannot represent fails as an " +
      "explicit unparseable-template error, not a leftover {{…}} in SQL") {
    // ')' inside a default cannot match TemplateRe; without the
    // leftover check the literal `{{String(q, 'a)b')}}` text would
    // reach Spark and surface as an unrelated-looking analysis error
    val e = intercept[IllegalArgumentException] {
      ChSqlTranslator.translate("SELECT {{String(q, 'a)b')}} AS v FROM t")
    }
    assert(e.getMessage.contains("unparseable template fragment"), e.getMessage)
    // same for a malformed {% if %} block (no {% end %})
    val e2 = intercept[IllegalArgumentException] {
      ChSqlTranslator.translate("SELECT 1 {% if defined(x) %} , 2")
    }
    assert(e2.getMessage.contains("unparseable template fragment"), e2.getMessage)
  }

  test("the leftover-template check runs on the TEMPLATE, not the expanded " +
      "SQL: brace-bearing param values and '{%' string literals pass") {
    // a client param VALUE containing template-looking text is data,
    // not syntax — it must substitute as a quoted literal, not 400
    // (round-11 advisory: the check used to scan post-substitution)
    val t = ChSqlTranslator.translate(
      "SELECT {{String(q)}} AS v FROM t", Map("q" -> "see {{docs}} and {%"))
    assert(t.contains("see {{docs}} and {%"), t)
    // a LIKE pattern literal '{%' in the pipe's own SQL is inside a
    // string — masked out of the check
    val t2 = ChSqlTranslator.translate("SELECT a FROM t WHERE a LIKE '{%'")
    assert(t2.contains("'{%'"), t2)
    // and a default VALUE carrying braces-in-quotes still expands
    val t3 = ChSqlTranslator.translate("SELECT {{String(q, '{{x')}} AS v FROM t")
    assert(t3.contains("{{x"), t3)
  }
}
