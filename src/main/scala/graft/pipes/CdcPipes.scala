package graft.pipes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ChFunctions._
import graft.operators.Dedup

/** The reference's CDC/latest-state pipe family (SURVEY.md §2.4, §2.10),
  * re-expressed over the harness `events` table, which plays the role of
  * the Debezium change log: `user_id` = entity key, `ts` = version
  * (updated_at), `event_type`/`value`/`props` = the row payload.
  *
  * Each public method is one endpoint: a pure (SparkSession, dir) =>
  * DataFrame function, the Spark equivalent of a published `.pipe`.
  * Cross-pipe references (active_vs_missed_flights.pipe:10-12) are plain
  * function calls.
  *
  * All time-relative predicates ("past hour", now()) are anchored to
  * max(ts) of the data instead of the wall clock — the deterministic
  * analogue of the reference's `{% if defined(start) %}` template
  * parameter defaults (flights_missed_pct_minute.pipe:31-32) — so the
  * DuckDB oracle evaluates the same instant.
  */
object CdcPipes {

  /** latest_*_info.pipe:6-9 — `ORDER BY id, __timestamp DESC LIMIT 1 BY id`
    * (D1). Newest event per user by (ts, event_id). */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    Dedup.latestByWindow(e, Seq(col("user_id")), Seq(col("ts"), col("event_id")))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** users_api_rmt.pipe:6 — `SELECT * FROM users_latest FINAL ORDER BY id`
    * (D2). argMax-per-key aggregation form: one shuffle, map-side partials. */
  def usersLatestRmt(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    Dedup.latestByKey(e, Seq("user_id"),
        version = struct(col("ts"), col("event_id")),
        payload = Seq("event_id", "ts", "event_type", "value"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** users_api_batch.pipe:3-53 / users_batch_copy.pipe:8-70 (D3):
    * incremental snapshot = argMax over events newer than the watermark,
    * UNION ALL prior-snapshot rows not superseded (anti-join). The
    * watermark here is max(ts) - 30 days; the "prior snapshot" is the
    * collapsed state of everything at or before it — so the result must
    * equal D2 on the full log (property-tested), while exercising the
    * watermark + anti-join + union plan shape.
    */
  def usersApiBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // scalar watermark as a 1-row broadcast frame — no driver-side collect
    val wm = e.agg((max(col("ts")) - interval(days = lit(30))).as("__wm"))
    val withWm = e.crossJoin(broadcast(wm))
    val payload = Seq("event_id", "ts", "event_type", "value")
    val prior = Dedup.latestByKey(
      withWm.filter(col("ts") <= col("__wm")), Seq("user_id"),
      struct(col("ts"), col("event_id")), payload)
    val snapshot = Dedup.incrementalSnapshot(
      prior = prior,
      log = withWm.filter(col("ts") > col("__wm")).drop("__wm"),
      keys = Seq("user_id"),
      version = struct(col("ts"), col("event_id")), versionCol = "ts",
      payload = payload,
      watermark = lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00")))
    snapshot.select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** active_flights_past_hour.pipe:6-13 — count(DISTINCT id) per time
    * bucket over a trailing window (A2+A10+P8). Bucket = hour, trailing
    * window = 30 days before max(ts). */
  def activeUsersPerHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val asOf = e.agg(max(col("ts")).as("__asof"))
    e.crossJoin(broadcast(asOf))
      .filter(col("ts") > col("__asof") - interval(days = lit(30)))
      .groupBy(toStartOfHour(col("ts")).as("time_interval"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy("time_interval")
  }

  /** The skew-safe variant of [[activeUsersPerHour]]: same result, but
    * the distinct-user state per bucket is spread over value-hash salts
    * (operators.Skew) — the form that survives a hot key at 100 TB.
    * Registered under the SAME oracle as the plain variant: salting is a
    * plan rewrite, not a semantics change. */
  def activeUsersPerHourSalted(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val asOf = e.agg(max(col("ts")).as("__asof"))
    val windowed = e.crossJoin(broadcast(asOf))
      .filter(col("ts") > col("__asof") - interval(days = lit(30)))
      .withColumn("time_interval", toStartOfHour(col("ts")))
    graft.operators.Skew.saltedCountDistinct(windowed,
        Seq(col("time_interval")), col("user_id"), buckets = 8, as = "active_users")
      .orderBy("time_interval")
  }

  /** flights_missed_pct_minute.pipe:3-60 — the 3-node chain: per-bucket
    * ratio with null-guard (A8), gap-filled over a generated time series
    * (G1/J6/J7). Analog: % of events that are errors per hour, zero-filled
    * for hours with no events between min(ts) and max(ts). */
  def errorPctPerHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    // node 1: per-hour counts
    val agg = e.groupBy(toStartOfHour(col("ts")).as("h"))
      .agg(
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"),
        count(lit(1)).as("total"))
    // node 2: bounded hour series (CTE scalars cross-joined, G1+J7)
    val bounds = e.agg(
      toStartOfHour(min(col("ts"))).as("__start"),
      toStartOfHour(max(col("ts"))).as("__end"))
    val series = bounds.select(
      explode(sequence(col("__start"), col("__end"), expr("INTERVAL 1 HOUR"))).as("time_interval"))
    // node 3: gap-fill left join + zero-fill (J6)
    series.join(agg, series("time_interval") === agg("h"), "left")
      .select(
        col("time_interval"),
        ifNull(col("errors"), lit(0)).cast("long").as("errors"),
        ifNull(col("total"), lit(0)).cast("long").as("total"),
        ifNull(floorRound(col("errors") * 100.0 / nullIf(col("total"), lit(0)), 2), lit(0.0))
          .as("error_pct"))
      .orderBy("time_interval")
  }

  /** active_vs_missed_flights.pipe:6-12 — inner join of two *pipe results*
    * on the time bucket (J2). */
  def activeVsErrors(spark: SparkSession, dir: String): DataFrame = {
    val act = activeUsersPerHour(spark, dir)
    val err = errorPctPerHour(spark, dir)
    act.join(err, Seq("time_interval"), "inner")
      .select("time_interval", "active_users", "errors", "error_pct")
      .orderBy("time_interval")
  }

  /** passenger_activity.pipe:3-47 — two aggregations over the same source
    * with different predicates, joined on the bucket (J3). Analog:
    * distinct purchasers vs distinct clickers per day. */
  def userActivity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def byDay(t: String, as: String) =
      e.filter(col("event_type") === t)
        .groupBy(toStartOfDay(col("ts")).as("interval"))
        .agg(countDistinct(col("user_id")).as(as))
    byDay("purchase", "purchasers")
      .join(byDay("click", "clickers"), Seq("interval"), "inner")
      .orderBy("interval")
  }

  /** passengers_by_flight_status.pipe:3-38 — conditional counts (A6),
    * derived-difference metric (A8), custom CASE ranking order (O3).
    * Analog over events: per event_type, count of value bands; ordered by
    * a hand-ranked event_type CASE then name. */
  def eventsByTypeStatus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("value") < 50, 1).otherwise(0)).as("low"),
        sum(when(col("value") >= 50 && col("value") < 150, 1).otherwise(0)).as("mid"),
        sum(when(col("value") >= 150, 1).otherwise(0)).as("high"))
      .withColumn("unbanded", col("total") - col("low") - col("mid") - col("high"))
      .orderBy(
        when(col("event_type") === "purchase", 1)
          .when(col("event_type") === "signup", 2)
          .when(col("event_type") === "click", 3)
          .when(col("event_type") === "view", 4)
          .when(col("event_type") === "error", 5)
          .otherwise(6),
        col("event_type"))
  }

  /** S1/P4 — the Kafka-ingest projection (users_mv.pipe:4-17 +
    * users_raw.datasource:3-14): per-column JSONPath extraction from the
    * raw message, coalesce defaults, fixed-string normalization. The µs
    * decode (fromUnixTimestamp64Micro) happens at scan in Tables.events.
    * get_json_object is a codegen'd Catalyst expression — the JSON parse
    * stays inside whole-stage codegen, no UDF. */
  def eventsIngestNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("user_id"), col("ts"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        coalesce(col("value"), lit(0.0)).as("value_filled"),
        toFixedString(col("event_type"), 10).as("event_type_fixed"))
      .orderBy("event_id")

  /** S8 — quarantine side-sink (tb_functions.py:141-142): rows whose raw
    * payload fails schema extraction are routed aside instead of
    * poisoning the table. Here: events whose props is not parseable JSON
    * with an integer `k`. */
  def eventsQuarantine(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(get_json_object(col("props"), "$.k").cast("int").isNull)
      .select("event_id", "user_id", "props")
      .orderBy("event_id")

  /** §2.10 template parameters (flights_missed_pct_minute.pipe:22,31-32):
    * `{% if defined(start) %} {{DateTime(start)}} {% else %} subtractHours(now(),1) {% end %}`
    * becomes Option-typed Scala params with anchored defaults. The
    * registered endpoint uses the defaults (last 7 days before max ts). */
  def eventsInWindow(spark: SparkSession, dir: String,
                     start: Option[java.time.LocalDateTime] = None,
                     end: Option[java.time.LocalDateTime] = None): DataFrame = {
    // LocalDateTime, not java.sql.Timestamp: a Timestamp is an epoch
    // instant read back through the driver JVM's DEFAULT timezone, so
    // lit(ts).cast("timestamp_ntz") shifts the wall clock by the TZ
    // offset on any non-UTC deployment. lit(LocalDateTime) maps
    // directly to TimestampNTZType — no epoch round-trip, parameter
    // meaning independent of driver/session timezones.
    val e = Tables.events(spark, dir)
    val bounds = e.agg(max(col("ts")).as("__maxts"))
      .select(
        start.map(s => lit(s)).getOrElse(col("__maxts") - interval(days = lit(7))).as("__start"),
        end.map(s => lit(s)).getOrElse(col("__maxts")).as("__end"))
    e.crossJoin(broadcast(bounds))
      .filter(col("ts") >= col("__start") && col("ts") <= col("__end"))
      .groupBy(toStartOfDay(col("ts")).as("day"))
      .agg(count(lit(1)).as("events"), countDistinct(col("user_id")).as("users"))
      .orderBy("day")
  }

  /** Sessionization — the classic event-stream analytic a training-data
    * pipeline needs (and the full OVER() window surface the reference
    * never exercises): lag() to detect gaps > 30 min, a running sum to
    * assign session ids, then per-session aggregates. One shuffle on
    * user_id; both windows share the same partitioning. */
  def eventsSessionization(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = e
      .withColumn("prev_us", lag(ntzMicros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          ntzMicros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        exactSum(col("value"), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Approximate per-hour active users over the KMV sketch at k=256
    * (SE ≈ 1/√(k−2) ≈ 6%) — the accuracy tier above the k=64 family,
    * and the registered face of "approximate distinct" now that the
    * deterministic sketch is fully DuckDB-oracled: every step (md5
    * hash, ranking, double normalization) reproduces bit-for-bit in
    * the oracle, so the APPROXIMATE estimate is hash-match verified.
    * The HLL++ variant ([[activeUsersPerHourHll]]) survives as the
    * spec-only alternate (engine-specific registers, error-bounded
    * against the exact count in OperatorsSpec). */
  def activeUsersPerHourApprox(spark: SparkSession, dir: String,
                               k: Int = 256): DataFrame =
    kmvEstimate(kmvHourlyKept(spark, dir, k), col("time_interval"), k)
      .withColumnRenamed("active_users_est", "active_users_approx")
      .orderBy("time_interval")

  /** approx_count_distinct / HLL++ per hour — spec-only alternate
    * (estimates are engine-specific; OperatorsSpec bounds the error
    * against the exact query). */
  def activeUsersPerHourHll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val asOf = e.agg(max(col("ts")).as("__asof"))
    e.crossJoin(broadcast(asOf))
      .filter(col("ts") > col("__asof") - interval(days = lit(30)))
      .groupBy(toStartOfHour(col("ts")).as("time_interval"))
      .agg(approx_count_distinct(col("user_id")).as("active_users_approx"))
      .orderBy("time_interval")
  }

  /** Mergeable pre-aggregation — the Spark analogue of ClickHouse's
    * AggregatingMergeTree + `-State`/`-Merge` combinators: store ONE
    * DataSketches HLL binary per (day) once, then answer any coarser
    * distinct-count rollup (week, month, whole range) by MERGING
    * sketches — never re-scanning the event log. At 100 TB this is the
    * difference between a daily incremental job over yesterday's
    * partition and a 30-day full scan per dashboard refresh; sketches
    * are a few KB per group and merge associatively, so the rollup is
    * a tiny shuffle regardless of event volume.
    *
    * Registered face: the week-level rollup computed ONLY from the
    * stored hour-level KMV partials (k=256) — the k smallest of a
    * union of per-hour k-minima ARE the week's k minima, so the merged
    * estimate equals the directly-computed week estimate EXACTLY, and
    * the whole thing (hash, ranking, normalization, the events count)
    * is reproduced bit-for-bit by the DuckDB oracle. The HLL version
    * ([[activeUsersSketchRollupHll]]) survives as the spec-only
    * alternate with the same -State/-Merge shape. */
  def activeUsersSketchRollup(spark: SparkSession, dir: String,
                              k: Int = 256): DataFrame = {
    val weekly = kmvHourlyKept(spark, dir, k)
      .select(date_trunc("week", col("time_interval")).cast("timestamp_ntz").as("week"),
        col("h"))
      .distinct()
    val e = Tables.events(spark, dir)
    val asOf = e.agg(max(col("ts")).as("__asof"))
    val events = e.crossJoin(broadcast(asOf))
      .filter(col("ts") > col("__asof") - interval(days = lit(30)))
      .groupBy(date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
      .agg(count(lit(1)).as("events"))
    kmvEstimate(weekly, col("week"), k)
      .join(events, "week")
      .orderBy("week")
  }

  /** Week-level rollup by MERGING day-level DataSketches HLL binaries
    * — spec-only alternate (engine-specific registers): OperatorsSpec
    * asserts merge-invariance and the ≤5% error bound. */
  def activeUsersSketchRollupHll(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyUserSketches(spark, dir)
    daily
      .groupBy(date_trunc("week", col("day")).cast("timestamp_ntz").as("week"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("user_sketch"))).as("active_users_est"),
        sum(col("events")).as("events"))
      .orderBy("week")
  }

  /** The stored day-level sketch table (one write per day in
    * production; here derived on the fly). */
  def dailyUserSketches(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(toStartOfDay(col("ts")).as("day"))
      .agg(
        hll_sketch_agg(col("user_id")).as("user_sketch"),
        count(lit(1)).as("events"))
  }

  /** KMV (k-minimum-values) distinct sketch — the DETERMINISTIC member
    * of the sketch family: per hour, the k smallest md5-low64 hashes
    * of user_id; estimate = the exact count when fewer than k distinct
    * hashes exist, else (k−1)/u_k with u_k the kth-smallest hash
    * normalized to [0,1). Unlike HLL (engine-specific register
    * layouts → rows-only at the gate), every step here — the hash,
    * the ranking, the double normalization — is reproduced bit-for-bit
    * by the DuckDB oracle, so this APPROXIMATE count is hash-match
    * verified. Standard error ≈ 1/√(k−2) (~13% at k=64); deployments
    * trade k for accuracy.
    *
    * Scale: one distinct + one ranking shuffle on (hour, hash); the
    * kept state is ≤ k longs per group — the same mergeable-partials
    * story as the HLL table, with determinism as the extra property
    * ([[activeUsersKmvDailyMerge]] proves merge == direct exactly). */
  def activeUsersKmvPerHour(spark: SparkSession, dir: String,
                            k: Int = 64): DataFrame =
    kmvEstimate(kmvHourlyKept(spark, dir, k), col("time_interval"), k)
      .orderBy("time_interval")

  /** The day-level rollup computed ONLY from the hour-level kept
    * hashes (the stored partials), never the event log: the k smallest
    * of a union of per-hour k-minima ARE the day's k minima, so the
    * merged estimate equals the directly-computed day estimate
    * EXACTLY — mergeability as a deterministic identity, not a
    * property within error bars (asserted in OperatorsSpec and by the
    * DuckDB oracle). */
  def activeUsersKmvDailyMerge(spark: SparkSession, dir: String,
                               k: Int = 64): DataFrame =
    kmvEstimate(
      kmvHourlyKept(spark, dir, k)
        .select(toStartOfDay(col("time_interval")).as("day"), col("h"))
        .distinct(),
      col("day"), k)
      .orderBy("day")

  /** Per-hour kept hash set: the ≤ k smallest distinct md5-low64
    * hashes per hour over the 30-day window — the stored partial. */
  private def kmvHourlyKept(spark: SparkSession, dir: String,
                            k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val asOf = e.agg(max(col("ts")).as("__asof"))
    e.crossJoin(broadcast(asOf))
      .filter(col("ts") > col("__asof") - interval(days = lit(30)))
      .select(toStartOfHour(col("ts")).as("time_interval"),
        graft.functions.OracleHash.low64(col("user_id").cast("string")).as("h"))
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy("time_interval").orderBy("h")))
      .filter(col("__rn") <= k)
      .select("time_interval", "h")
  }

  /** Merge a (time_interval, h) partial log into per-hour estimates:
    * distinct absorbs redelivered partials (KMV partials are
    * duplicate-idempotent — the k smallest of a union are unchanged by
    * repeated elements), then the estimator re-ranks. The read view of
    * the streaming KMV MV ([[graft.streaming.Mergeable.kmv]]),
    * and the batch half of its replay==batch spec. */
  private[graft] def kmvMergeEstimate(kept: DataFrame, k: Int = 64): DataFrame =
    kmvEstimate(kept.distinct(), col("time_interval"), k)
      .orderBy("time_interval")

  /** The KMV estimator over a kept-hash frame: group → (n, kth hash) →
    * estimate. Both engines round double(h) identically and 2^63/2^64
    * are exact doubles, so the normalization is bit-reproducible. */
  private def kmvEstimate(kept: DataFrame,
                          group: org.apache.spark.sql.Column,
                          k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    kept
      .withColumn("__rn", row_number().over(
        Window.partitionBy(group).orderBy("h")))
      .groupBy(group)
      .agg(count(lit(1)).as("__n"),
        max(when(col("__rn") === k, col("h"))).as("__hk"))
      .select(group,
        floorRound(
          when(col("__n") < k, col("__n").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              ((col("__hk").cast("double") + lit(9.223372036854776e18)) /
                lit(1.8446744073709552e19))), 2)
          .as("active_users_est"))
  }

  /** Cohort retention — users bucketed by first-seen week, tracked by
    * weeks-since-cohort activity. Two aggregations over the same scan
    * (first-seen per user, distinct user-weeks) joined on user: both
    * shuffle on user_id, so AQE co-locates them; the retention matrix
    * itself is tiny. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstSeen = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("timestamp_ntz").as("cohort_week"))
    val activity = e.select(col("user_id"),
        date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
      .distinct()
    val cohortSizes = firstSeen.groupBy(col("cohort_week"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    activity.join(firstSeen, "user_id")
      .withColumn("weeks_since",
        (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(broadcast(cohortSizes), "cohort_week")
      .withColumn("retention_pct",
        floorRound(col("active_users") * 100.0 / col("cohort_size"), 2))
      .select("cohort_week", "weeks_since", "active_users", "cohort_size", "retention_pct")
      .orderBy("cohort_week", "weeks_since")
  }

  /** Exact interpolated quantiles of the value distribution per event
    * type (p50/p95): the percentile() exact aggregate, not the sketch —
    * DuckDB's quantile_cont shares the interpolation definition. */
  def eventsValueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"))
      .agg(
        floorRound(expr("percentile(value, 0.5)"), 4).as("p50"),
        floorRound(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** Funnel analysis — the windowFunnel shape: per user, the deepest
    * step of signup → click → purchase reached by the GREEDY EARLIEST
    * chain (each step the first matching event strictly after the
    * previous step), bounded to `windowDays` after the signup. The
    * funnel level and each step's timestamp come out per user — the
    * conversion query every event-analytics stack ships.
    *
    * Scale: one aggregation per step, every one on the SAME user_id
    * key (the signup frame re-joins each step's candidates
    * co-partitioned, no second fact shuffle), and each step's frame is
    * one row per surviving user — monotonically shrinking. No arrays
    * collected, no per-user state. */
  def eventsFunnel(spark: SparkSession, dir: String,
                   windowDays: Int = 7): DataFrame = {
    val e = Tables.events(spark, dir)
    def stepMin(typ: String, prev: DataFrame, prevTs: String, outTs: String) =
      e.filter(col("event_type") === typ)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs) &&
          col("ts") <= col("t1") + expr(s"INTERVAL $windowDays DAYS"))
        .groupBy("user_id").agg(min(col("ts")).as(outTs))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = stepMin("click", s1, "t1", "t2")
    val s3 = stepMin("purchase", s1.join(s2, "user_id"), "t2", "t3")
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("funnel_level"))
      .orderBy("user_id")
  }

  /** GROUPING SETS — the generalization of rollup/cube: three
    * independent groupings (by type, by day-of-week, grand total) in
    * ONE pass over the facts with map-side partials per set, instead
    * of three scans. grouping() flags distinguish "NULL because
    * aggregated" from data nulls — the standard OLAP disambiguator. */
  def eventsGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"),
        floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long").as("cents"))
    e.groupingSets(
        Seq(Seq(col("event_type")), Seq(col("dow")), Seq()),
        col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        (sum(col("cents")) / lit(100.0)).as("total_value"),
        grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("dow")).cast("int").as("g_dow"))
      .orderBy(col("g_type"), col("g_dow"), col("event_type"), col("dow"))
  }

  /** Trailing range-frame window: each event's same-user value sum
    * over the PRECEDING HOUR — a true RANGE frame on event time (all
    * peers within the interval, not a row count), the rolling-feature
    * shape. Ordering key is integer microseconds so the frame bounds
    * are exact on both engines. One shuffle on user_id. */
  def eventsRollingValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        ntzMicros(col("ts")).as("ts_us"),
        floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long").as("cents"))
      .withColumn("rolling_value", sum(col("cents")).over(w) / lit(100.0))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select("event_id", "user_id", "ts", "rolling_value", "n_in_window")
      .orderBy("event_id")
  }

  /** Per-user value deciles: ntile(10) over deterministic total-value
    * ordering (total desc, user_id tiebreak) — the feature-bucketing
    * step (spend deciles, engagement tiers). The heavy aggregation is
    * map-side combined; the ntile runs on one row per user. */
  def userValueDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg((sum(floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long"))
        / lit(100.0)).as("total_value"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("total_value").desc, col("user_id"))))
      .orderBy("user_id")
  }

  /** RFM user segmentation — recency/frequency/monetary quintile
    * scoring, the classic behavioral-segmentation endpoint: per user,
    * days since last event (vs the corpus max — a 1-row broadcast
    * scalar, the reference's watermark pattern), event count, and
    * integer-unit value total, each ntile(5)-scored over a
    * DETERMINISTIC total order (metric + user_id tiebreak; monetary
    * coalesced to 0 so null orderings can't diverge between engines —
    * Spark and DuckDB default NULL placement differs). Scores fold
    * into the standard segment labels (champion / loyal / at_risk /
    * hibernating / regular).
    *
    * Scale: the heavy aggregation is one map-side-combined shuffle of
    * the events table; every window runs on the PER-USER frame (≪
    * events). The unpartitioned ntile windows are a deliberate bound:
    * quintile cuts need a global order of users — fine for an
    * endpoint-sized user dimension; a 100 TB user table would swap
    * ntile for approx-percentile cut points and a broadcast bucket
    * join (the histogram-quantile path below). */
  def userRfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val ref = ev.agg(max(col("ts")).as("ref_ts"))
    val per = ev.groupBy("user_id").agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("frequency"),
      coalesce(sum(units(coalesce(col("value"), lit(0.0)), 2)), lit(0L))
        .as("m_units"))
    val scored = per.crossJoin(broadcast(ref))
      .select(col("user_id"),
        datediff(to_date(col("ref_ts")), to_date(col("last_ts"))).as("recency_days"),
        col("frequency"), col("m_units"))
      .withColumn("r_score", lit(6) - ntile(5).over(
        Window.orderBy(col("recency_days").asc, col("user_id"))))
      .withColumn("f_score", lit(6) - ntile(5).over(
        Window.orderBy(col("frequency").desc, col("user_id"))))
      .withColumn("m_score", lit(6) - ntile(5).over(
        Window.orderBy(col("m_units").desc, col("user_id"))))
    scored
      .select(col("user_id"), col("recency_days"), col("frequency"),
        (col("m_units") / 100.0).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy("user_id")
  }

  /** First/last-touch attribution — per converting user, the marketing
    * touches (click/view) preceding their FIRST purchase, reduced to
    * the classic first-touch / last-touch credit assignment plus the
    * touch count. "Preceding" is the total (ts, event_id) event order,
    * so simultaneous-timestamp edges resolve identically in any
    * engine; users whose first purchase has no prior touch are
    * excluded (no journey to attribute).
    *
    * Scale: first-purchase is the D1 LIMIT-1-BY window on the purchase
    * subset; touch reduction is ONE aggregation using struct min/max —
    * (ts, event_id) is unique, so the lexicographic struct extremum IS
    * the first/last touch, with map-side partials instead of a second
    * window pass. Both shuffles key on user_id; AQE co-partitions. */
  def userAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val wP = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .withColumn("__rn", row_number().over(wP)).filter(col("__rn") === 1)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("p_eid"), col("value").as("attributed_value"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("t_type"),
        col("ts").as("t_ts"), col("event_id").as("t_eid"))
    touches.join(firstPurchase, "user_id")
      .filter(col("t_ts") < col("purchase_ts") ||
        (col("t_ts") === col("purchase_ts") && col("t_eid") < col("p_eid")))
      .groupBy("user_id")
      .agg(
        min(struct(col("t_ts"), col("t_eid"), col("t_type"))).as("f"),
        max(struct(col("t_ts"), col("t_eid"), col("t_type"))).as("l"),
        max(col("purchase_ts")).as("purchase_ts"),
        max(col("attributed_value")).as("attributed_value"),
        count(lit(1)).as("n_touches"))
      .select(col("user_id"),
        col("f.t_type").as("first_touch_type"), col("f.t_ts").as("first_touch_ts"),
        col("l.t_type").as("last_touch_type"), col("l.t_ts").as("last_touch_ts"),
        col("purchase_ts"), col("attributed_value"), col("n_touches"))
      .orderBy("user_id")
  }

  /** Top user journey prefixes — each user's first `k` events collapsed
    * to an ordered `a>b>c` path string, ranked by how many users share
    * the prefix. The LIMIT-1-BY window machinery generalized to
    * LIMIT-k-BY, then a path aggregate: collect_list gives no order
    * guarantee, so the (rn, event_type) structs are array_sorted before
    * joining — the sort is per-user over ≤ k elements, not a shuffle.
    *
    * Scale: one user_id window pass + two map-side-combined aggregates;
    * path cardinality is bounded by kᵏ over the event-type alphabet,
    * and the final global top-N sorts that bounded frame only. */
  def userEventPaths(spark: SparkSession, dir: String,
                     k: Int = 5, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wP = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= k)
      .groupBy("user_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topN)
  }

  /** Mergeable histogram quantiles: the value distribution per event
    * type as fixed-width integer bins (1 dollar), with p50/p95
    * estimated from the cumulative histogram — the MERGEABLE quantile
    * path. Exact percentile() needs each group's full value multiset
    * in one place; bin counts are associative longs, so at 100 TB the
    * histogram is a map-side-combined aggregation (and a storable
    * partial, like the HLL sketch rollup — but unlike HLL, every
    * number here is deterministic and DuckDB-verifiable). Resolution
    * is the bin width: the answer is the exact type-1 (discrete)
    * quantile of the BINNED values — the spec recomputes it from a
    * driver-side sort and proves the merge property on a
    * split-and-recombine corpus.
    *
    * The quantile rule is integer-exact: the p-quantile bin is the
    * first whose cumulative count reaches ceil(p·total). */
  def eventsValueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("floor(coalesce(value, 0.0) * 100 + 0.5) div 100").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
    val wCum = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    hist
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("total")).as("n_total"),
        count(lit(1)).as("n_bins"),
        min(when(col("cum") >= ceil(col("total") * 0.5), col("bin"))).as("p50_bin"),
        min(when(col("cum") >= ceil(col("total") * 0.95), col("bin"))).as("p95_bin"),
        max(col("bin")).as("max_bin"))
      .orderBy("event_type")
  }

  /** Trailing-window anomaly detection over the hourly value series —
    * the monitoring query every event pipeline runs ("did this hour's
    * volume deviate from the recent baseline"), with the z-score made
    * engine-exact: hourly totals are integer cents, the trailing
    * mean/variance come from integer sums over a 24-row window, and
    * z = (x·m − S)/√(m·Q − S²) — algebraically (x − mean)/σ but
    * computed from three integers, one exact-rounded sqrt, and one
    * division, so any engine reproduces it bit-for-bit. The anomaly
    * verdict uses the PURE-INTEGER inequality (x·m − S)² > 9·(m·Q − S²)
    * (|z| > 3), immune even to the final rounding.
    *
    * Scale: one map-side-combined groupBy to hours (the series is
    * ~8760 rows/type/year no matter how many events), then a tiny
    * per-type window — the heavy lift never leaves the first
    * aggregation. Integer headroom: the binding term is m·Q ≥
    * 24·cents², which stays under 2⁶³ only while an hour's total is
    * ≤ ~6.2×10⁸ cents ($6M/hour/type). Beyond that Spark's non-ANSI
    * Long arithmetic would WRAP SILENTLY (where DuckDB errors), so the
    * operator raises on any hour past the bound instead of emitting
    * garbage verdicts — at larger monetary scale, aggregate in whole
    * dollars or units upstream. */
  def eventsHourlyAnomalies(spark: SparkSession, dir: String,
                            trailing: Int = 24, minTrailing: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 2^63 / 24 / cents² headroom: fail loudly past the documented
    // bound rather than let non-ANSI Long arithmetic wrap silently
    val maxSafeCents = math.sqrt(Long.MaxValue.toDouble / trailing).toLong // ~6.2e8 at 24
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("cents",
        when(col("cents") > maxSafeCents, expr(
          s"raise_error(concat('eventsHourlyAnomalies: hourly total exceeds the " +
            s"integer z-score headroom ($maxSafeCents cents) — aggregate in " +
            s"coarser units upstream: ', cents))"))
          .otherwise(col("cents")))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-trailing, -1)
    val dev = col("cents") * col("m") - col("s")
    val varm = col("m") * col("q") - col("s") * col("s")
    hourly
      .withColumn("m", count(lit(1)).over(w))
      .withColumn("s", sum(col("cents")).over(w))
      .withColumn("q", sum(col("cents") * col("cents")).over(w))
      .filter(col("m") >= minTrailing)
      .select(col("event_type"), col("hour"), col("n_events"),
        (col("cents") / lit(100.0)).as("total_value"),
        col("m").as("trailing_n"),
        when(varm > 0,
          floorRound(dev.cast("double") / sqrt(varm.cast("double")), 4)).as("z_score"),
        (dev * dev > lit(9L) * varm).as("is_anomaly"))
      .orderBy("event_type", "hour")
  }

  /** baggage_by_flight_status.pipe:3-26 — conditional rounded sums (A7)
    * with CASE ordering (O3). Analog: value mass by event_type per day-of-week. */
  def valueByTypeStatus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(dayofweek(col("ts")).as("dow"))
      .agg(
        exactSum(when(col("event_type") === "purchase", col("value")).otherwise(0.0), 2).as("purchase_value"),
        exactSum(when(col("event_type") === "click", col("value")).otherwise(0.0), 2).as("click_value"),
        exactSum(when(col("event_type") === "error", col("value")).otherwise(0.0), 2).as("error_value"))
      .orderBy("dow")
  }
  /** Trailing 7-day distinct users per day — the sliding-window
    * COUNT(DISTINCT) that no mergeable aggregate answers exactly. The
    * scale trick is cover-day expansion: reduce to distinct (day, user)
    * first (the only pass over the raw events), then each pair votes
    * for the 7 cover days it falls inside, and a distinct count per
    * cover day finishes the job. Cost is a constant 7× of the DISTINCT
    * pair table (already ≪ events), not a re-scan of the window per
    * day — the standard linear rewrite of a sliding distinct. Days
    * beyond the observed maximum are cut by a 1-row broadcast bound
    * (no driver-side collect); early days keep their shorter, partial
    * lookback like any trailing window. */
  def activeUsers7dSliding(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dayUser = ev.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val bound = ev.agg(max(to_date(col("ts"))).as("max_day"))
    dayUser
      .select(col("user_id"), explode(expr(
        "sequence(day, date_add(day, 6), interval 1 day)")).as("cover_day"))
      .join(broadcast(bound), col("cover_day") <= col("max_day"))
      // timestamp_ntz, not DATE: the dump/oracle comparison is
      // type-sensitive and every date-bucketed endpoint ships ntz
      .groupBy(col("cover_day").cast("timestamp_ntz").as("cover_day"))
      .agg(countDistinct(col("user_id")).as("active_users_7d"))
      .orderBy("cover_day")
  }
  /** Week-over-week retention classes via the relational set operators
    * (INTERSECT / EXCEPT — Catalyst lowers both to distinct + left-semi
    * / left-anti joins, so each class is one co-partitioned join of two
    * already-distinct user sets): retained = active both weeks,
    * churned = week 1 only, new = week 2 only. */
  def usersWeeklyChurn(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def activeIn(lo: String, hi: String) = ev
      .filter(col("ts") >= expr(s"TIMESTAMP_NTZ '$lo'") &&
        col("ts") < expr(s"TIMESTAMP_NTZ '$hi'"))
      .select("user_id").distinct()
    val w1 = activeIn("2024-01-01 00:00:00", "2024-01-08 00:00:00")
    val w2 = activeIn("2024-01-08 00:00:00", "2024-01-15 00:00:00")
    w1.intersect(w2).withColumn("status", lit("retained"))
      .unionByName(w1.except(w2).withColumn("status", lit("churned")))
      .unionByName(w2.except(w1).withColumn("status", lit("new")))
      .orderBy("user_id", "status")
  }

  /** FULL OUTER reconciliation of two derived per-customer aggregates
    * (high-value revenue vs recent activity): the outer join keeps
    * customers present on either side, a CASE classifies the
    * provenance, and coalesced metrics make the row self-contained.
    * Both inputs aggregate to one row per key before the join, so the
    * full outer is a join of two small frames on their shared key —
    * never a fact-table outer join. */
  def customerReconcile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val high = o.filter(col("o_totalprice") > 400000)
      .groupBy(col("o_custkey").as("hk"))
      .agg(count(lit(1)).as("n_high"))
    val recent = o.filter(col("o_orderdate") >= expr("TIMESTAMP '2001-01-01 00:00:00'"))
      .groupBy(col("o_custkey").as("rk"))
      .agg(count(lit(1)).as("n_recent"))
    high.join(recent, col("hk") === col("rk"), "full_outer")
      .select(
        coalesce(col("hk"), col("rk")).as("custkey"),
        when(col("hk").isNotNull && col("rk").isNotNull, "both")
          .when(col("hk").isNotNull, "high_only")
          .otherwise("recent_only").as("status"),
        coalesce(col("n_high"), lit(0L)).as("n_high"),
        coalesce(col("n_recent"), lit(0L)).as("n_recent"))
      .orderBy("custkey")
  }
  /** Event-type transition matrix — the "user journey" rollup product
    * analytics builds on any event log: for consecutive events of the
    * same user, count (from_type → to_type) transitions and each
    * from-type's transition share. One shuffle on user_id for the lag
    * window (ties broken by event_id — deterministic ordering), then a
    * tiny groupBy; the share is a post-agg window over the from-type
    * totals (a frame of |types|² rows, nothing corpus-sized). */
  def eventsTypeTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("share", floorRound(col("n") * 1.0 /
        sum(col("n")).over(Window.partitionBy("from_type")), 4))
      .orderBy("from_type", "to_type")
  }

  /** Weekly cohort retention matrix — the classic product-analytics
    * triangle: users grouped by first-seen week, each cell the share
    * of that cohort still active k weeks later. Weeks are
    * date_trunc'd, so the day difference is an exact multiple of 7
    * and `div 7` is pure integer — no float near a boundary.
    *
    * Scale: distinct (user, week) pairs are one map-side-combinable
    * shuffle over the log; first-seen is a per-user min on that pair
    * table (shuffle on user_id); the matrix groupBy and the
    * |cohorts|-row size join are sketch-scale. Nothing holds per-user
    * state beyond the aggregation — 10⁹ users is just a wider
    * shuffle. */
  def eventsCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
      .distinct()
    val first = uw.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = first.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    uw.join(first, "user_id")
      .withColumn("weeks_since",
        expr("CAST(datediff(week, cohort_week) div 7 AS INT)"))
      .groupBy("cohort_week", "weeks_since")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("weeks_since"), col("n_active"),
        col("cohort_size"),
        floorRound(col("n_active").cast("double") * 100.0 / col("cohort_size"), 2)
          .as("retention_pct"))
      .orderBy("cohort_week", "weeks_since")
  }

  /** Feature-store assembly — per-user trailing-window features over
    * 1/7/28 days, all from ONE scan of the event log: the multi-window
    * shape every ML feature pipeline needs ("activity last day / week
    * / month" as model inputs). Each window is a conditional aggregate
    * against the corpus-max anchor (broadcast 1-row scalar), NOT three
    * separate filtered scans — at 100 TB the log is read once and the
    * per-user shuffle carries one row per user regardless of how many
    * windows ride along. Value sums are integer-unit (2dp); the
    * last-event column is max_by over (ts, event_id) — event_id
    * uniqueness makes the argmax deterministic. */
  def userWindowFeatures(spark: SparkSession, dir: String,
                         asOf: Option[java.time.LocalDateTime] = None): DataFrame = {
    val ev = Tables.events(spark, dir)
    // serving contract: features "as of" a training snapshot instant
    // (point-in-time correctness — no post-snapshot leakage); default
    // anchors to the corpus max like every other endpoint
    val asOfDf = asOf match {
      case Some(t) => spark.range(1).select(lit(t).as("__asof"))
      case None    => ev.agg(max(col("ts")).as("__asof"))
    }
    def inWin(days: Int) =
      col("ts") > col("__asof") - interval(days = lit(days))
    def cntW(days: Int) =
      sum(when(inWin(days), 1L).otherwise(0L)).as(s"n_${days}d")
    def valW(days: Int) =
      (coalesce(sum(when(inWin(days),
        units(coalesce(col("value"), lit(0.0)), 2))), lit(0L)) / 100.0)
        .as(s"value_${days}d")
    ev.crossJoin(broadcast(asOfDf))
      // point-in-time cut: an explicit snapshot must not see events
      // after it (with the default max-ts anchor this drops nothing)
      .filter(col("ts") <= col("__asof"))
      .groupBy("user_id")
      .agg(cntW(1), cntW(7), cntW(28),
        valW(1), valW(7), valW(28),
        countDistinct(when(inWin(28), col("event_type"))).as("n_types_28d"),
        max(col("ts")).as("last_ts"),
        max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("last_type"))
      .orderBy("user_id")
  }
}
