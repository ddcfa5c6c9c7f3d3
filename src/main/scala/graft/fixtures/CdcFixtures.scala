package graft.fixtures

import java.time.LocalDateTime
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic CDC fixture generator — the behavioral port of the
  * reference's workload generators (demo_users.py:64-150 weighted
  * insert/update/soft-delete; demo_airport.py:409-446 airport state
  * machine). Produces the flattened Debezium-style after-image logs the
  * engine ingests (users PG dialect: unix-µs timestamps + __deleted;
  * airport MySQL dialect: DATETIME columns), plus the in-memory
  * source-of-truth tables used for differential assertions — the
  * reference's own oracle (compare_source_to_dest,
  * demo_users.py:167-204).
  *
  * Every run with the same seed yields identical logs AND truth: ticks
  * advance a virtual clock; at most one change per entity per tick so
  * (id, updated_at) is unique.
  */
object CdcFixtures {

  case class UserRow(id: Int, name: String, email: String, address: String,
                     phone: String, emailVerified: Int, onboarded: Int,
                     deleted: Int, lang: String,
                     createdUs: Long, updatedUs: Long)

  case class FlightRow(id: Int, flightNumber: String, passengerCount: Int,
                       status: String, closedAt: Option[LocalDateTime],
                       boardingAt: Option[LocalDateTime],
                       boardedAt: Option[LocalDateTime],
                       departedAt: Option[LocalDateTime],
                       createdAt: LocalDateTime, updatedAt: LocalDateTime)

  case class PassengerRow(id: Int, name: String, flightId: Int, status: String,
                          checkedinAt: Option[LocalDateTime],
                          onboardedAt: Option[LocalDateTime],
                          notboardedAt: Option[LocalDateTime],
                          createdAt: LocalDateTime, updatedAt: LocalDateTime)

  case class BaggageRow(id: Int, passengerId: Int, flightId: Int, weight: Double,
                        status: String, createdAt: LocalDateTime,
                        updatedAt: LocalDateTime)

  class Generated(
      val userEvents: Seq[(UserRow, LocalDateTime, String)], // row, __timestamp, __deleted
      val flightEvents: Seq[(FlightRow, LocalDateTime)],
      val passengerEvents: Seq[(PassengerRow, LocalDateTime)],
      val baggageEvents: Seq[(BaggageRow, LocalDateTime)],
      val usersTruth: Map[Int, UserRow],
      val flightsTruth: Map[Int, FlightRow],
      val passengersTruth: Map[Int, PassengerRow],
      val baggageTruth: Map[Int, BaggageRow],
      val endTime: LocalDateTime)

  private val langs = Seq("EN", "ES", "FR", "DE", "IT")

  def generate(seed: Long = 42L, userOps: Int = 600, airportTicks: Int = 400): Generated = {
    val rnd = new Random(seed)
    val t0 = LocalDateTime.parse("2024-05-01T00:00:00")
    var clock = t0

    // ---- users (PG dialect): weighted insert/update/soft-delete 30/60/10
    val users = mutable.LinkedHashMap[Int, UserRow]()
    val userEvents = mutable.ArrayBuffer[(UserRow, LocalDateTime, String)]()
    var nextUserId = 1
    def usNow: Long = java.time.Duration.between(
      LocalDateTime.parse("1970-01-01T00:00:00"), clock).toNanos / 1000
    for (_ <- 1 to userOps) {
      clock = clock.plusSeconds(1 + rnd.nextInt(5))
      val alive = users.values.filter(_.deleted == 0).toIndexedSeq
      val r = rnd.nextDouble()
      val row: Option[UserRow] =
        if (r < 0.3 || alive.isEmpty) { // insert
          val id = nextUserId; nextUserId += 1
          Some(UserRow(id, s"user_$id", s"u$id@example.com",
            s"$id Main St", s"+1-555-${1000 + id}",
            rnd.nextInt(2), rnd.nextInt(2), 0, langs(rnd.nextInt(langs.size)),
            usNow, usNow))
        } else if (r < 0.9) { // update a random live row
          val u = alive(rnd.nextInt(alive.size))
          Some(u.copy(
            email = s"u${u.id}_v${rnd.nextInt(100)}@example.com",
            onboarded = rnd.nextInt(2),
            lang = langs(rnd.nextInt(langs.size)),
            updatedUs = usNow))
        } else { // soft delete (demo_users.py:128-144: UPDATE deleted=TRUE)
          val u = alive(rnd.nextInt(alive.size))
          Some(u.copy(deleted = 1, updatedUs = usNow))
        }
      row.foreach { u =>
        users(u.id) = u
        userEvents += ((u, clock, "false"))
      }
    }

    // ---- airport (MySQL dialect): flight/passenger/baggage state machine
    val flights = mutable.LinkedHashMap[Int, FlightRow]()
    val passengers = mutable.LinkedHashMap[Int, PassengerRow]()
    val baggage = mutable.LinkedHashMap[Int, BaggageRow]()
    val flightEvents = mutable.ArrayBuffer[(FlightRow, LocalDateTime)]()
    val passengerEvents = mutable.ArrayBuffer[(PassengerRow, LocalDateTime)]()
    val baggageEvents = mutable.ArrayBuffer[(BaggageRow, LocalDateTime)]()
    var nextFlight = 1; var nextPax = 1; var nextBag = 1

    def emitF(f: FlightRow): Unit = { flights(f.id) = f; flightEvents += ((f, clock)) }
    def emitP(p: PassengerRow): Unit = { passengers(p.id) = p; passengerEvents += ((p, clock)) }
    def emitB(b: BaggageRow): Unit = { baggage(b.id) = b; baggageEvents += ((b, clock)) }

    for (_ <- 1 to airportTicks) {
      clock = clock.plusSeconds(5)
      val active = flights.values.filter(_.status != "departed").toSeq
      // create a flight (workload envelope: bounded active flights)
      if (active.size < 6 && rnd.nextDouble() < 0.4) {
        val id = nextFlight; nextFlight += 1
        val f = FlightRow(id, f"GR${100 + id}%d", 50 + rnd.nextInt(271),
          "open", None, None, None, None, clock, clock)
        emitF(f)
        // passengers check in for an open flight (a slice of capacity)
        val nPax = 5 + rnd.nextInt(10)
        for (_ <- 1 to nPax) {
          val pid = nextPax; nextPax += 1
          val p = PassengerRow(pid, s"pax_$pid", id, "checkedin",
            Some(clock), None, None, clock, clock)
          emitP(p)
          for (_ <- 0 until rnd.nextInt(3)) {
            val bid = nextBag; nextBag += 1
            val w = math.floor((25 + rnd.nextGaussian() * 5).max(5.0) * 100 + 0.5) / 100
            emitB(BaggageRow(bid, pid, id, w, "checkedin", clock, clock))
          }
        }
      }
      // advance one flight state per tick — excluding any flight already
      // touched at this clock value (i.e. created this tick): the
      // generator's contract is at most one change per entity per tick,
      // so (id, __timestamp) is unique and every LIMIT 1 BY / latest-by
      // query over the log has a single deterministic winner in any
      // engine, independent of sort stability or storage order.
      val advancing = flights.values
        .filter(f => f.status != "departed" && f.updatedAt != clock).toSeq
      if (advancing.nonEmpty) {
        val f = advancing(rnd.nextInt(advancing.size))
        f.status match {
          case "open" if rnd.nextDouble() < 0.5 =>
            emitF(f.copy(status = "closed", closedAt = Some(clock), updatedAt = clock))
          case "closed" if rnd.nextDouble() < 0.5 =>
            emitF(f.copy(status = "boarding", boardingAt = Some(clock), updatedAt = clock))
          case "boarding" if rnd.nextDouble() < 0.5 =>
            // passengers resolve at boarded: 85% onboarded, 15% notboarded
            passengers.values.filter(p => p.flightId == f.id && p.status == "checkedin")
              .toSeq.foreach { p =>
                if (rnd.nextDouble() < 0.85)
                  emitP(p.copy(status = "onboarded", onboardedAt = Some(clock), updatedAt = clock))
                else {
                  emitP(p.copy(status = "notboarded", notboardedAt = Some(clock), updatedAt = clock))
                  baggage.values.filter(b => b.passengerId == p.id &&
                      b.status == "checkedin").toSeq
                    .foreach(b => emitB(b.copy(status = "offloaded", updatedAt = clock)))
                }
              }
            emitF(f.copy(status = "boarded", boardedAt = Some(clock), updatedAt = clock))
          case "boarded" if rnd.nextDouble() < 0.5 =>
            baggage.values.filter(b => b.flightId == f.id && b.status == "checkedin")
              .toSeq.foreach(b => emitB(b.copy(status = "loaded", updatedAt = clock)))
            emitF(f.copy(status = "departed", departedAt = Some(clock), updatedAt = clock))
          case _ => ()
        }
      }
    }

    new Generated(userEvents.toSeq, flightEvents.toSeq, passengerEvents.toSeq,
      baggageEvents.toSeq, users.toMap, flights.toMap, passengers.toMap,
      baggage.toMap, clock)
  }

  private def fields(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  private val ts = TimestampNTZType

  /** The declared schema of every fixture table, by directory name:
    * the five logs [[writeAll]] writes and the `users_batch` snapshot
    * [[graft.pipes.UsersPipes.usersBatchCopy]] appends. Readers go
    * through [[read]], so no read runs a footer-inference job;
    * `DeclaredSchemaSpec` pins each declaration to the footers its
    * writer produces. */
  val schemas: Map[String, StructType] = Map(
    "users_raw" -> fields("id" -> IntegerType, "name" -> StringType,
      "email" -> StringType, "address" -> StringType, "phone_number" -> StringType,
      "email_verified" -> IntegerType, "onboarded" -> IntegerType,
      "deleted" -> IntegerType, "lang" -> StringType, "created_at" -> LongType,
      "updated_at" -> LongType, "__timestamp" -> ts, "__deleted" -> StringType),
    "users_raw_mysql" -> fields("__value" -> StringType, "id" -> IntegerType,
      "name" -> StringType, "email" -> StringType, "address" -> StringType,
      "phone_number" -> StringType, "email_verified" -> IntegerType,
      "onboarded" -> IntegerType, "deleted" -> IntegerType, "lang" -> StringType,
      "created_at" -> ts, "updated_at" -> ts, "__timestamp" -> ts),
    "flights_raw" -> fields("id" -> IntegerType, "flight_number" -> StringType,
      "passenger_count" -> IntegerType, "status" -> StringType, "closed_at" -> ts,
      "boarding_at" -> ts, "boarded_at" -> ts, "departed_at" -> ts,
      "created_at" -> ts, "updated_at" -> ts, "__timestamp" -> ts),
    "passengers_raw" -> fields("id" -> IntegerType, "name" -> StringType,
      "flight_id" -> IntegerType, "status" -> StringType, "checkedin_at" -> ts,
      "onboarded_at" -> ts, "notboarded_at" -> ts, "created_at" -> ts,
      "updated_at" -> ts, "__timestamp" -> ts),
    "baggage_raw" -> fields("id" -> IntegerType, "passenger_id" -> IntegerType,
      "flight_id" -> IntegerType, "weight" -> DoubleType, "status" -> StringType,
      "created_at" -> ts, "updated_at" -> ts, "__timestamp" -> ts),
    "users_batch" -> fields("id" -> IntegerType, "name" -> StringType,
      "email" -> StringType, "address" -> StringType, "phone_number" -> StringType,
      "email_verified" -> IntegerType, "onboarded" -> IntegerType,
      "deleted" -> IntegerType, "event_timestamp" -> ts, "lang" -> StringType,
      "created_at" -> ts, "updated_at_unix" -> LongType,
      "batch_max_updated" -> LongType))

  /** Read fixture table `table` from its directory `path` with its
    * declared schema. */
  def read(spark: SparkSession, table: String, path: String): DataFrame =
    spark.read.schema(schemas(table)).parquet(path)

  /** Write the five CDC logs as parquet under `dir` (users_raw with the
    * PG unix-µs dialect; airport tables with DATETIME columns). */
  def writeAll(spark: SparkSession, g: Generated, dir: String): Unit = {
    import spark.implicits._
    g.userEvents.map { case (u, ts, del) =>
      (u.id, u.name, u.email, u.address, u.phone, u.emailVerified, u.onboarded,
        u.deleted, u.lang, u.createdUs, u.updatedUs, ts, del)
    }.toDF("id", "name", "email", "address", "phone_number", "email_verified",
        "onboarded", "deleted", "lang", "created_at", "updated_at",
        "__timestamp", "__deleted")
      .write.mode("overwrite").parquet(s"$dir/users_raw")

    // MySQL-dialect users log: same change stream, DateTime timestamps
    // (second precision like MySQL DATETIME), __value raw payload, no
    // __deleted (kits/users/mysql/datasources/users_raw.datasource)
    g.userEvents.map { case (u, ts, _) =>
      val created = LocalDateTime.parse("1970-01-01T00:00:00")
        .plusSeconds(u.createdUs / 1000000)
      val updated = LocalDateTime.parse("1970-01-01T00:00:00")
        .plusSeconds(u.updatedUs / 1000000)
      (s"""{"id": ${u.id}}""", u.id, u.name, u.email, u.address, u.phone,
        u.emailVerified, u.onboarded, u.deleted, u.lang, created, updated, ts)
    }.toDF("__value", "id", "name", "email", "address", "phone_number",
        "email_verified", "onboarded", "deleted", "lang", "created_at",
        "updated_at", "__timestamp")
      .write.mode("overwrite").parquet(s"$dir/users_raw_mysql")

    g.flightEvents.map { case (f, ts) =>
      (f.id, f.flightNumber, f.passengerCount, f.status,
        f.closedAt.orNull, f.boardingAt.orNull, f.boardedAt.orNull,
        f.departedAt.orNull, f.createdAt, f.updatedAt, ts)
    }.toDF("id", "flight_number", "passenger_count", "status", "closed_at",
        "boarding_at", "boarded_at", "departed_at", "created_at", "updated_at",
        "__timestamp")
      .write.mode("overwrite").parquet(s"$dir/flights_raw")

    g.passengerEvents.map { case (p, ts) =>
      (p.id, p.name, p.flightId, p.status, p.checkedinAt.orNull,
        p.onboardedAt.orNull, p.notboardedAt.orNull, p.createdAt, p.updatedAt, ts)
    }.toDF("id", "name", "flight_id", "status", "checkedin_at", "onboarded_at",
        "notboarded_at", "created_at", "updated_at", "__timestamp")
      .write.mode("overwrite").parquet(s"$dir/passengers_raw")

    g.baggageEvents.map { case (b, ts) =>
      (b.id, b.passengerId, b.flightId, b.weight, b.status, b.createdAt,
        b.updatedAt, ts)
    }.toDF("id", "passenger_id", "flight_id", "weight", "status", "created_at",
        "updated_at", "__timestamp")
      .write.mode("overwrite").parquet(s"$dir/baggage_raw")
  }
}
