package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Named shims for the ClickHouse scalar/aggregate surface the reference
  * uses (SURVEY.md §2.8), so pipe code reads like the reference queries
  * and each mapping is testable in one place.
  *
  * Every shim resolves to a built-in, codegen'd Catalyst expression — no
  * UDFs — so whole-stage codegen and pushdown are preserved.
  *
  * Reference evidence cited per function (file:line in
  * tinybirdco/demo-cdc-users-airline).
  */
object ChFunctions {

  /** `toStartOfMinute(ts)` — kits/airport/mysql/pipes/active_flights_past_hour.pipe:7.
    * Result cast to timestamp_ntz: Spark's date_trunc promotes to
    * session-zone timestamps, but the engine's canonical time type is
    * naive-µs wall clock (UTC session), matching the stored data. */
  def toStartOfMinute(c: Column): Column = date_trunc("minute", c).cast("timestamp_ntz")

  /** `toStartOfHour(ts)` — same family of time-bucket functions. */
  def toStartOfHour(c: Column): Column = date_trunc("hour", c).cast("timestamp_ntz")

  def toStartOfDay(c: Column): Column = date_trunc("day", c).cast("timestamp_ntz")

  /** Day/hour/minute interval literal builder (the Scala `make_interval`
    * overloads take all 7 fields). */
  def interval(days: Column = lit(0), hours: Column = lit(0), mins: Column = lit(0)): Column =
    make_interval(lit(0), lit(0), lit(0), days, hours, mins, lit(0))

  /** `subtractHours(ts, n)` — kits/airport/mysql/pipes/flights_missed_pct_minute.pipe:31,45 */
  def subtractHours(c: Column, n: Int): Column =
    c - interval(hours = lit(n))

  /** `addMinutes(ts, n)` — kits/airport/mysql/pipes/flights_missed_pct_minute.pipe:52,56 */
  def addMinutes(c: Column, n: Column): Column =
    c + interval(mins = n)

  /** `fromUnixTimestamp64Micro(i)` — kits/users/pg/pipes/users_mv.pipe:15-16 */
  def fromUnixTimestamp64Micro(c: Column): Column = timestamp_micros(c)

  /** Epoch µs of a wall-clock (`timestamp_ntz`) value, timezone-FREE —
    * the inverse of the DuckDB oracle's `epoch_us(ts)` on tz-naive data.
    * `unix_micros(cast(ts as timestamp))` would interpret the ntz value
    * in the session timezone (per-value, so even µs *differences* break
    * across a DST transition); `timestampdiff` on ntz operands never
    * consults the timezone. */
  def ntzMicros(c: Column): Column = {
    val n = c.cast(org.apache.spark.sql.types.TimestampNTZType)
    timestamp_diff("MICROSECOND",
      lit("1970-01-01 00:00:00").cast(org.apache.spark.sql.types.TimestampNTZType), n)
  }

  /** `argMax(value, version)` — kits/users/pg/pipes/users_api_batch.pipe:9-18.
    * `version` may be a `struct(...)` for deterministic tie-breaking. */
  def argMax(value: Column, version: Column): Column = max_by(value, version)

  def argMin(value: Column, version: Column): Column = min_by(value, version)

  /** `ifNull(a, b)` — kits/airport/mysql/pipes/flights_missed_pct_minute.pipe:27,49 */
  def ifNull(a: Column, b: Column): Column = coalesce(a, b)

  /** `nullIf(a, b)` — flights_missed_pct_minute.pipe:27 (div-by-zero guard) */
  def nullIf(a: Column, b: Column): Column = nullif(a, b)

  /** `toFixedString(s, n)` — kits/users/pg/pipes/users_mv.pipe:14. ClickHouse
    * pads with \0 to n bytes; we normalize to exactly-n chars (truncate,
    * right-pad with spaces — the CHAR(n) reading) and document the
    * difference: none of the reference data relies on the \0 padding. */
  def toFixedString(c: Column, n: Int): Column = rpad(c, n, " ")

  /** `toYYYYMM(ts)` — partition expression, users_raw.datasource:17 */
  def toYYYYMM(c: Column): Column = date_format(c, "yyyyMM").cast("int")

  /** `LIMIT n BY keys` over an ordering — kits/airport/mysql/pipes/
    * latest_flight_info.pipe:6-9 (`ORDER BY id, __timestamp DESC LIMIT 1 BY id`).
    *
    * ClickHouse's per-group top-n clause; Spark's canonical mapping is a
    * ranking window. The window shuffles once on `keys` — at scale the
    * same hash partitioning Spark would need for any per-key reduction —
    * and AQE handles skewed keys. For n=1 prefer [[graft.operators.Dedup]]
    * which offers an aggregation-based variant with map-side partials.
    */
  def limitBy(df: DataFrame, n: Int, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Order-insensitive exact sum of a fractional metric: scale to integer
    * units (e.g. cents), round per row (deterministic IEEE double ops),
    * sum as Long (associative — safe under Spark's unordered partial
    * aggregation AND bit-identical to any other engine doing the same),
    * then rescale. This is how every money/metric sum in the query set
    * stays hash-identical to the DuckDB oracle: double summation order
    * differs between engines, integer summation cannot.
    */
  def exactSum(c: Column, decimals: Int): Column =
    sum(units(c, decimals)) / math.pow(10, decimals)

  /** The integer-unit scaling rule itself: round half-up at `decimals`
    * via pure IEEE ops and return the scaled Long. This is the ONE home
    * of the cross-engine rounding discipline — every money/metric sum
    * that must hash-match the DuckDB oracle goes through here (directly
    * or via [[exactSum]]); don't re-inline `floor(x*f+0.5)` at call
    * sites, or the rule drifts. */
  def units(c: Column, decimals: Int): Column = {
    val factor = math.pow(10, decimals)
    floor(c * factor + 0.5).cast("long")
  }

  /** Deterministic half-up rounding of a computed double via pure IEEE
    * ops (`floor(x*f + 0.5)/f`). Spark's `round()` rounds the SHORTEST
    * DECIMAL STRING of the double (BigDecimal.valueOf) while other
    * engines round the exact binary value — they disagree on .xx5
    * boundaries. floor/mult/add are bit-identical everywhere. */
  def floorRound(c: Column, decimals: Int): Column = {
    val factor = math.pow(10, decimals)
    floor(c * factor + 0.5) / factor
  }
}
