package graft

import org.apache.spark.sql.functions._
import graft.fixtures.CdcFixtures
import graft.pipes.{AirportPipes, UsersPipes}

/** Differential tests of the pipe-for-pipe reference surface: generate a
  * deterministic CDC workload, run the engine's endpoints, and compare
  * against the generator's in-memory source-of-truth — the reference's
  * own oracle (compare_source_to_dest, demo_users.py:167-204). */
class ReferencePipesSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graftcdc")
    CdcFixtures.writeAll(spark, gen, d)
    d
  }
  private lazy val gen = CdcFixtures.generate()

  test("users_api_rmt reconstructs the exact source table state") {
    val got = UsersPipes.usersApiRmt(spark, dir)
      .select("id", "email", "onboarded", "deleted", "lang")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getString(4))).toSeq
    val want = gen.usersTruth.values.toSeq.sortBy(_.id)
      .map(u => (u.id, u.email, u.onboarded, u.deleted,
        // CHAR(2) normalization truncates the 2-letter lang (no-op) —
        // FixedString(2) semantics from users_mv.pipe:14
        u.lang.take(2)))
    assert(got == want)
  }

  test("snapshot diff replays the generator history exactly") {
    val cutoff = java.time.LocalDateTime.parse("2024-05-01T00:15:00")
    val cutUs = java.time.Duration.between(
      java.time.LocalDateTime.parse("1970-01-01T00:00:00"), cutoff).toNanos / 1000
    // truth from the event history: last version per id at the cutoff
    // vs at the end, classified the same way a sync consumer would
    val byId = gen.userEvents.map(_._1).groupBy(_.id)
    val want = byId.toSeq.sortBy(_._1).flatMap { case (id, versions) =>
      val old = versions.filter(_.updatedUs <= cutUs).lastOption
      val nw = versions.last
      old match {
        case None => Some((id, "insert", None, nw.email, nw.deleted))
        case Some(o) if o.updatedUs < nw.updatedUs =>
          Some((id, "update", Some(o.email), nw.email, nw.deleted))
        case _ => None
      }
    }
    val got = UsersPipes.usersSnapshotDiff(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(4)) None else Some(r.getString(4)),
        r.getString(5), r.getInt(6))).toSeq
    assert(got.nonEmpty && got.exists(_._2 == "insert") && got.exists(_._2 == "update"))
    assert(got == want)
  }

  test("users batch copy + users_api_batch equals non-deleted source state") {
    val batchDir = tempDir("graftbatch") + "/users_batch"
    // two copy generations: first over a prefix (simulate the hourly
    // cron mid-stream), then over everything
    val all = UsersPipes.usersRaw(spark, dir)
    val cut = all.agg(expr("percentile_approx(updated_at, 0.6)")).first().getLong(0)
    val prefixDir = tempDir("graftpref")
    all.filter(col("updated_at") <= cut).write.parquet(s"$prefixDir/users_raw")
    UsersPipes.usersBatchCopy(spark, prefixDir, batchDir)
    UsersPipes.usersBatchCopy(spark, dir, batchDir)
    val got = UsersPipes.usersApiBatch(spark, dir, batchDir)
      .select("id", "email", "deleted").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    val want = gen.usersTruth.values.filter(_.deleted == 0).toSeq.sortBy(_.id)
      .map(u => (u.id, u.email, 0))
    assert(got == want)
  }

  test("latest_*_info endpoints reconstruct airport source tables") {
    val f = AirportPipes.latestFlightInfo(spark, dir)
      .select("id", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(f == gen.flightsTruth.map { case (id, fl) => (id, fl.status) })

    val p = AirportPipes.latestPassengerInfo(spark, dir)
      .select("id", "status").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(p == gen.passengersTruth.map { case (id, px) => (id, px.status) })

    val b = AirportPipes.latestBaggageInfo(spark, dir)
      .select("id", "status", "weight").collect()
      .map(r => (r.getInt(0), (r.getString(1), r.getDouble(2)))).toMap
    assert(b == gen.baggageTruth.map { case (id, bg) => (id, (bg.status, bg.weight)) })
  }

  test("passengers_by_flight_status matches truth recomputation") {
    val asOf = gen.endTime
    val got = AirportPipes.passengersByFlightStatus(spark, dir, Some(asOf))
      .select("flight_number", "flight_status", "booked", "checkedin",
        "boarding", "onboarded", "notboarded", "notcheckedin")
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val byFlight = gen.passengersTruth.values.groupBy(_.flightId)
    val want = gen.flightsTruth.values
      .filter(f => f.status != "departed" ||
        f.departedAt.exists(_.isAfter(asOf.minusSeconds(20))))
      .map { f =>
        val ps = byFlight.getOrElse(f.id, Nil)
        val checkedin = ps.count(p => p.status == "checkedin" &&
          Set("open", "closed")(f.status)).toLong
        val boarding = ps.count(p => p.status == "checkedin" &&
          f.status == "boarding").toLong
        val onboarded = ps.count(p => p.status == "onboarded" &&
          Set("boarding", "boarded", "departed")(f.status)).toLong
        val notboarded = ps.count(p => p.status == "notboarded" &&
          Set("boarded", "departed")(f.status)).toLong
        (f.flightNumber, (f.status, f.passengerCount, checkedin, boarding,
          onboarded, notboarded,
          f.passengerCount - (checkedin + boarding + onboarded + notboarded)))
      }.toMap
    assert(got == want)
  }

  test("flights_missed_pct_minute: 61-minute gap-filled series, sane values") {
    val asOf = gen.endTime
    val rows = AirportPipes.flightsMissedPctMinute(spark, dir, Some(asOf)).collect()
    assert(rows.length == 61)
    val ts = rows.map(_.getAs[java.time.LocalDateTime]("time_interval"))
    assert(ts.toSeq == ts.sorted.toSeq)
    rows.map(_.getAs[Number]("flights_missed_pct").doubleValue())
      .foreach(v => assert(v >= 0 && v <= 100))
  }

  test("active_vs_missed_flights joins consistently with its two inputs") {
    val asOf = gen.endTime
    val joined = AirportPipes.activeVsMissedFlights(spark, dir, Some(asOf)).count()
    val act = AirportPipes.activeFlightsPastHour(spark, dir, Some(asOf)).count()
    assert(joined <= act)
    assert(joined > 0)
  }

  test("baggage_by_flight_status weights match truth recomputation") {
    val asOf = gen.endTime
    val got = AirportPipes.baggageByFlightStatus(spark, dir, Some(asOf))
      .select("flight_number", "baggage_loaded").collect()
      .map(r => (r.getString(0), r.getAs[Number](1).doubleValue())).toMap
    val bags = gen.baggageTruth.values.groupBy(_.flightId)
    val want = gen.flightsTruth.values
      .filter(f => f.departedAt.isEmpty ||
        f.departedAt.exists(_.isAfter(asOf.minusSeconds(30))))
      .map { f =>
        val loaded = bags.getOrElse(f.id, Nil)
          .filter(_.status == "loaded").map(_.weight).sum
        (f.flightNumber, math.floor(loaded * 100 + 0.5) / 100)
      }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 0.01, s"$k: $v vs ${want(k)}") }
  }

  test("passenger_activity intervals are consistent") {
    val asOf = gen.endTime
    val rows = AirportPipes.passengerActivity(spark, dir, Some(asOf)).collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(2) >= 0)
    }
  }

  test("generator invariant: (id, __timestamp) unique in every CDC log") {
    // This is what makes every latest-by / LIMIT 1 BY query over the
    // logs single-winner deterministic in ANY engine (and lets the
    // DuckDB oracle use a plain row_number window): no entity changes
    // twice at the same clock value.
    for (t <- Seq("users_raw", "users_raw_mysql", "flights_raw",
        "passengers_raw", "baggage_raw")) {
      val dupes = spark.read.parquet(s"$dir/$t")
        .groupBy("id", "__timestamp").count()
        .filter(col("count") > 1).count()
      assert(dupes == 0, s"$t has $dupes (id, __timestamp) tie groups")
    }
  }
}
