package graft.pipes

import java.time.LocalDateTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._
import graft.fixtures.CdcFixtures
import graft.operators.Dedup

/** The reference's airport kit (MySQL dialect), pipe-for-pipe, over CDC
  * log directories from [[graft.fixtures.CdcFixtures]]. `now()` is an
  * injected `asOf` (defaulting to the max __timestamp in the flight
  * log) — the deterministic generalization of the reference's template
  * defaults (flights_missed_pct_minute.pipe:31-32).
  *
  * No driver-side data: the `now()` anchor is a 1-row broadcast frame
  * cross-joined into the plan (same pattern as CdcPipes), and the logs
  * are read with their declared schemas ([[CdcFixtures.read]]), so
  * building an endpoint starts no Spark job — no `.first()`/`.collect()`
  * round-trip and no footer inference; at 100 TB an eager scalar
  * collect would serialize an extra full-scan job per call. Rendering
  * runs one job per query stage: 2-12 per endpoint, 12 for
  * [[activeVsMissedFlights]] (7 shuffle stages, 4 broadcasts, 1
  * result).
  *
  * Rounding: the reference pipes use ClickHouse `round()`; the engine
  * canonicalizes every fractional metric to deterministic half-up
  * floor-rounding (ChFunctions.floorRound / exactSum) so results are
  * bit-identical across engines and partition layouts (see SparkEntry
  * determinism contract). ChSqlTranslator maps `round` the same way.
  */
object AirportPipes {

  private def raw(spark: SparkSession, dir: String, t: String): DataFrame =
    CdcFixtures.read(spark, t, s"$dir/$t")

  /** The `now()` anchor as a 1-row broadcast frame (column `__now`):
    * either the injected asOf literal or max(__timestamp) of the flight
    * log — evaluated inside the query's own plan. */
  private def nowFrame(spark: SparkSession, dir: String,
                       asOf: Option[LocalDateTime]): DataFrame =
    broadcast(asOf match {
      case Some(t) => spark.range(1).select(lit(t).as("__now"))
      case None => raw(spark, dir, "flights_raw").agg(max(col("__timestamp")).as("__now"))
    })

  /** latest_flight_info.pipe:6-9 — `ORDER BY id, __timestamp desc LIMIT 1 BY id`.
    * Deterministic: the fixture generator guarantees (id, __timestamp)
    * unique, so the window has a single winner in any engine. */
  def latestFlightInfo(spark: SparkSession, dir: String): DataFrame =
    Dedup.latestByWindow(raw(spark, dir, "flights_raw"),
        Seq(col("id")), Seq(col("__timestamp")))
      .select("id", "flight_number", "status", "passenger_count",
        "departed_at", "closed_at")

  /** latest_passenger_info.pipe:6-9 (trailing comma in the reference
    * SELECT tolerated by CH; columns id, flight_id, status). */
  def latestPassengerInfo(spark: SparkSession, dir: String): DataFrame =
    Dedup.latestByWindow(raw(spark, dir, "passengers_raw"),
        Seq(col("id")), Seq(col("__timestamp")))
      .select("id", "flight_id", "status")

  /** latest_baggage_info.pipe:6-9. */
  def latestBaggageInfo(spark: SparkSession, dir: String): DataFrame =
    Dedup.latestByWindow(raw(spark, dir, "baggage_raw"),
        Seq(col("id")), Seq(col("__timestamp")))
      .select("id", "flight_id", "status", "weight")

  /** active_flights_past_hour.pipe:6-13 — per-minute distinct active
    * flights over the raw log, trailing hour, undeparted only. */
  def activeFlightsPastHour(spark: SparkSession, dir: String,
                            asOf: Option[LocalDateTime] = None): DataFrame =
    raw(spark, dir, "flights_raw")
      .crossJoin(nowFrame(spark, dir, asOf))
      .filter(col("created_at") > col("__now") - interval(hours = lit(1)))
      .filter(col("departed_at").isNull)
      .groupBy(toStartOfMinute(col("updated_at")).as("time_interval"))
      .agg(countDistinct(col("id")).as("active_flights"))
      .orderBy("time_interval")

  /** flights_missed_pct_minute.pipe:3-60 — the full 3-node chain. */
  def flightsMissedPctMinute(spark: SparkSession, dir: String,
                             asOf: Option[LocalDateTime] = None,
                             start: Option[LocalDateTime] = None,
                             end: Option[LocalDateTime] = None): DataFrame = {
    val nowF = nowFrame(spark, dir, asOf)
    // node 0: per-closed-flight booked vs missed (inner join J1)
    val f = latestFlightInfo(spark, dir).as("f")
    val p = latestPassengerInfo(spark, dir).as("p")
    val node0 = f.join(p, col("p.flight_id") === col("f.id"), "inner")
      .filter(col("f.closed_at").isNotNull && col("p.status") === "notboarded")
      .groupBy(col("f.id"), col("f.closed_at"), col("f.passenger_count"))
      .agg(count(col("p.id")).as("missed_passengers"))
      .select(col("closed_at"), col("passenger_count").as("booked_passengers"),
        col("missed_passengers"))
    // node 1: per-minute pct with template-param bounds
    val startTs = start.map(t => lit(t)).getOrElse(col("__now") - interval(hours = lit(1)))
    val endTs = end.map(t => lit(t)).getOrElse(col("__now"))
    val node1 = node0.crossJoin(nowF)
      .filter(col("closed_at") >= startTs && col("closed_at") <= endTs)
      .groupBy(toStartOfMinute(col("closed_at")).as("window"))
      .agg(floorRound(ifNull(
          sum(col("missed_passengers")) * 100 /
            nullIf(sum(col("booked_passengers")), lit(0)), lit(0)), 2)
        .as("flights_missed_pct"))
    // node 2: numbers(61) minute series from start-of-minute(now)-1h,
    // gap-filled (G1 + J7: range generator, bounded by cur_ts)
    val series = spark.range(61).crossJoin(nowF)
      .select(addMinutes(toStartOfMinute(col("__now")) - interval(hours = lit(1)),
          col("id").cast("int")).as("series_time"),
        col("__now"))
      .filter(col("series_time") <= col("__now"))
      .drop("__now")
    series.join(node1, col("series_time") === col("window"), "left")
      .select(col("series_time").as("time_interval"),
        ifNull(col("flights_missed_pct"), lit(0)).as("flights_missed_pct"))
      .orderBy("time_interval")
  }

  /** active_vs_missed_flights.pipe:6-12 — join of the two pipes above. */
  def activeVsMissedFlights(spark: SparkSession, dir: String,
                            asOf: Option[LocalDateTime] = None): DataFrame =
    flightsMissedPctMinute(spark, dir, asOf)
      .join(activeFlightsPastHour(spark, dir, asOf), Seq("time_interval"))
      .select("time_interval", "flights_missed_pct", "active_flights")

  /** passenger_activity.pipe:3-47 — the 4-node chain over passengers_raw. */
  def passengerActivity(spark: SparkSession, dir: String,
                        asOf: Option[LocalDateTime] = None): DataFrame = {
    val node0 = raw(spark, dir, "passengers_raw")
      .crossJoin(nowFrame(spark, dir, asOf))
      .filter(col("updated_at") > col("__now") - interval(hours = lit(1)))
      .select(col("id"),
        toStartOfMinute(col("checkedin_at")).as("started_at"),
        toStartOfMinute(coalesce(col("onboarded_at"), col("notboarded_at"),
          lit(null))).as("completed_at"))
    val node1 = node0.groupBy(col("started_at").as("interval"))
      .agg(countDistinct(col("id")).as("passengers_checkedin"))
    val node2 = node0.groupBy(col("completed_at").as("interval"))
      .agg(countDistinct(col("id")).as("passengers_completed"))
    node1.join(node2, Seq("interval"))
      .select("interval", "passengers_checkedin", "passengers_completed")
      .orderBy("interval")
  }

  private def flightStatusRank(c: Column): Column =
    when(c === "departed", 5).when(c === "boarded", 4)
      .when(c === "boarding", 3).when(c === "closed", 2)
      .when(c === "open", 1).otherwise(6)

  /** passengers_by_flight_status.pipe:3-38 — state-conditional counts per
    * flight with derived notcheckedin and CASE-ranked ordering. */
  def passengersByFlightStatus(spark: SparkSession, dir: String,
                               asOf: Option[LocalDateTime] = None): DataFrame = {
    val f = latestFlightInfo(spark, dir).as("f")
    val p = latestPassengerInfo(spark, dir).as("p")
    def cnt(cond: Column) = count(when(cond, 1))
    val checkedin = cnt(col("p.status") === "checkedin" &&
      col("f.status").isin("open", "closed"))
    val boarding = cnt(col("p.status") === "checkedin" && col("f.status") === "boarding")
    val onboarded = cnt(col("p.status") === "onboarded" &&
      col("f.status").isin("boarding", "boarded", "departed"))
    val notboarded = cnt(col("p.status") === "notboarded" &&
      col("f.status").isin("boarded", "departed"))
    f.join(p, col("p.flight_id") === col("f.id"), "left")
      .crossJoin(nowFrame(spark, dir, asOf))
      .filter(col("f.status") =!= "departed" ||
        (col("f.status") === "departed" &&
          col("f.departed_at") > col("__now") - expr("INTERVAL 20 SECONDS")))
      .groupBy(col("f.flight_number"), col("f.passenger_count"), col("f.status"))
      .agg(checkedin.as("checkedin"), boarding.as("boarding"),
        onboarded.as("onboarded"), notboarded.as("notboarded"))
      .select(col("flight_number"), col("status").as("flight_status"),
        col("passenger_count").as("booked"),
        col("checkedin"), col("boarding"), col("onboarded"), col("notboarded"),
        (col("passenger_count") - (col("checkedin") + col("boarding") +
          col("onboarded") + col("notboarded"))).as("notcheckedin"))
      .orderBy(flightStatusRank(col("flight_status")), col("flight_number"))
  }

  /** baggage_by_flight_status.pipe:3-26 — conditional weight sums per
    * flight, 30-second departure recency filter, CASE-ranked ordering.
    * Weight sums use exactSum (integer-cent summation): the result is
    * partition-order-invariant, which `round(sum(double))` is not. */
  def baggageByFlightStatus(spark: SparkSession, dir: String,
                            asOf: Option[LocalDateTime] = None): DataFrame = {
    val f = latestFlightInfo(spark, dir).as("fl")
    val b = latestBaggageInfo(spark, dir).as("bl")
    def wsum(status: String) =
      exactSum(when(col("bl.status") === status, col("bl.weight")).otherwise(0.0), 2)
    f.join(b, col("fl.id") === col("bl.flight_id"), "left")
      .crossJoin(nowFrame(spark, dir, asOf))
      .filter(col("fl.departed_at").isNull ||
        col("fl.departed_at") > col("__now") - expr("INTERVAL 30 SECONDS"))
      .groupBy(col("fl.flight_number"), col("fl.departed_at"), col("fl.status"))
      .agg(wsum("checkedin").as("baggage_checkedin"),
        wsum("loaded").as("baggage_loaded"),
        wsum("offloaded").as("baggage_offloaded"))
      .select(col("flight_number"), col("status").as("flight_status"),
        col("baggage_checkedin"), col("baggage_loaded"), col("baggage_offloaded"))
      .orderBy(flightStatusRank(col("flight_status")), col("flight_number"))
  }
}
