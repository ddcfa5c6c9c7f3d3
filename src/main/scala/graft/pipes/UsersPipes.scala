package graft.pipes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions._
import graft.fixtures.CdcFixtures
import graft.operators.Dedup

/** The reference's `users` kit (PG dialect), pipe-for-pipe, on a CDC log
  * directory produced by [[graft.fixtures.CdcFixtures]] (or a real
  * Kafka→parquet landing). Every method cites the `.pipe` file it
  * re-expresses; endpoint semantics (column names, filters, ordering)
  * are kept verbatim so a reference user can switch engines and keep
  * their dashboards.
  */
object UsersPipes {

  /** users_raw MergeTree scan (kits/users/pg/datasources/users_raw.datasource). */
  def usersRaw(spark: SparkSession, dir: String): DataFrame =
    CdcFixtures.read(spark, "users_raw", s"$dir/users_raw")

  /** users_mv.pipe:4-17 — the materialized projection into users_latest:
    * coalesce defaults, µs decode, CHAR(2) lang, event_timestamp meta. */
  def usersMv(raw: DataFrame): DataFrame =
    raw.select(
      col("id"),
      coalesce(col("name"), lit("")).as("name"),
      coalesce(col("email"), lit("")).as("email"),
      coalesce(col("address"), lit("")).as("address"),
      coalesce(col("phone_number"), lit("")).as("phone_number"),
      coalesce(col("email_verified"), lit(0)).as("email_verified"),
      coalesce(col("onboarded"), lit(0)).as("onboarded"),
      coalesce(col("deleted"), lit(0)).as("deleted"),
      col("__timestamp").as("event_timestamp"),
      toFixedString(coalesce(col("lang"), lit("")), 2).as("lang"),
      fromUnixTimestamp64Micro(coalesce(col("created_at"), lit(0L)))
        .cast("timestamp_ntz").as("created_at"),
      coalesce(fromUnixTimestamp64Micro(col("updated_at")).cast("timestamp_ntz"),
        col("__timestamp")).as("updated_at"))

  /** users_latest FINAL (users_latest.datasource ENGINE_VER updated_at):
    * collapse to max updated_at per id. The HTTP API serves it as the
    * `users_latest__final` view the kit pipes query. */
  def usersLatestFinal(spark: SparkSession, dir: String): DataFrame = {
    val latestLog = usersMv(usersRaw(spark, dir))
    Dedup.latestByKey(latestLog, Seq("id"), col("updated_at"),
        payload = latestLog.columns.filter(_ != "id").toSeq)
      .select("id", "name", "email", "address", "phone_number",
        "email_verified", "onboarded", "deleted", "event_timestamp", "lang",
        "created_at", "updated_at")
  }

  /** users_api_rmt.pipe:6-7: the FINAL view, ordered by id. */
  def usersApiRmt(spark: SparkSession, dir: String): DataFrame =
    usersLatestFinal(spark, dir).orderBy("id")

  /** MySQL-dialect variant (kits/users/mysql): timestamps arrive as
    * DateTime (no µs decode), no __deleted meta, __value raw message
    * stored. users_mv.pipe (mysql) is a plain projection + CHAR(2). */
  def usersMvMysql(raw: DataFrame): DataFrame =
    raw.select(
      col("id"), col("name"), col("email"), col("address"),
      col("phone_number"), col("email_verified"), col("onboarded"),
      col("deleted"), col("created_at"), col("updated_at"),
      col("__timestamp").as("event_timestamp"),
      toFixedString(col("lang"), 2).as("lang"))

  /** users_api.pipe (mysql): SELECT * FROM users_latest FINAL ORDER BY id. */
  def usersApiMysql(spark: SparkSession, dir: String): DataFrame = {
    val mv = usersMvMysql(
      CdcFixtures.read(spark, "users_raw_mysql", s"$dir/users_raw_mysql"))
    Dedup.latestByKey(mv, Seq("id"), col("updated_at"),
        payload = mv.columns.filter(_ != "id").toSeq)
      .select("id", "name", "email", "address", "phone_number",
        "email_verified", "onboarded", "deleted", "created_at", "updated_at",
        "event_timestamp", "lang")
      .orderBy("id")
  }

  /** CDC snapshot diff: what changed between the state of the world at
    * `cutoff` and now — every key that is new ("insert") or carries a
    * newer version ("update"), with old/new values for the audit
    * trail. The consumer-facing answer to "what did this CDC stream do
    * since the last sync", built from the same latest-state collapse
    * as the FINAL views (soft deletes surface as updates with
    * new_deleted = 1, exactly the reference's delete semantics).
    *
    * Scale: both snapshots collapse on the id key (one shuffle each,
    * same partitioning, so the join is co-partitioned); in production
    * the t1 side is the STORED snapshot — the recompute here stands in
    * for reading it, and an append-only log means t1's keys are a
    * subset of t2's, so a left join suffices. */
  def usersSnapshotDiff(spark: SparkSession, dir: String,
                        cutoff: String = "2024-05-01 00:15:00"): DataFrame = {
    val mv = usersMv(usersRaw(spark, dir))
    val pay = mv.columns.filter(_ != "id").toSeq
    val s1 = Dedup.latestByKey(
        mv.filter(col("updated_at") <= expr(s"TIMESTAMP_NTZ '$cutoff'")),
        Seq("id"), col("updated_at"), pay)
      .select(col("id"), col("updated_at").as("old_updated_at"),
        col("email").as("old_email"))
    val s2 = Dedup.latestByKey(mv, Seq("id"), col("updated_at"), pay)
      .select(col("id"), col("updated_at").as("new_updated_at"),
        col("email").as("new_email"), col("deleted").as("new_deleted"))
    s2.join(s1, Seq("id"), "left")
      .withColumn("change_type",
        when(col("old_updated_at").isNull, "insert")
          .when(col("old_updated_at") < col("new_updated_at"), "update")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select("id", "change_type", "old_updated_at", "new_updated_at",
        "old_email", "new_email", "new_deleted")
      .orderBy("id")
  }

  /** users_batch_copy.pipe:8-70 — the hourly copy job: watermark from the
    * target, coalesce-wrapped argMax collapse of newer raw events,
    * backfill of unsuperseded prior rows, restamped batch_max_updated;
    * appended to users_batch. */
  def usersBatchCopy(spark: SparkSession, dir: String, batchDir: String): Unit = {
    val raw = usersRaw(spark, dir)
    val exists = new java.io.File(batchDir).exists() &&
      new java.io.File(batchDir).listFiles().exists(_.getName.endsWith(".parquet"))
    val lastBatchTs: Long =
      if (!exists) 0L
      else CdcFixtures.read(spark, "users_batch", batchDir)
        // coalesce: an empty batch table yields a null max, not an NPE
        .agg(coalesce(max(col("batch_max_updated")), lit(0L))).first().getLong(0)

    // get_new_events (users_batch_copy.pipe:8-27)
    val newEvents = raw.filter(col("updated_at") > lastBatchTs)
      .groupBy(col("id"))
      .agg(
        coalesce(argMax(col("name"), col("updated_at")), lit("")).as("name"),
        coalesce(argMax(col("email"), col("updated_at")), lit("")).as("email"),
        coalesce(argMax(col("address"), col("updated_at")), lit("")).as("address"),
        coalesce(argMax(col("phone_number"), col("updated_at")), lit("")).as("phone_number"),
        coalesce(argMax(col("email_verified"), col("updated_at")), lit(0)).as("email_verified"),
        coalesce(argMax(col("onboarded"), col("updated_at")), lit(0)).as("onboarded"),
        coalesce(argMax(col("deleted"), col("updated_at")), lit(0)).as("deleted"),
        coalesce(argMax(col("__timestamp"), col("updated_at")),
          lit("1970-01-01 00:00:00").cast("timestamp_ntz")).as("event_timestamp"),
        coalesce(argMax(toFixedString(col("lang"), 2), col("updated_at")),
          toFixedString(lit(""), 2)).as("lang"),
        coalesce(argMax(fromUnixTimestamp64Micro(col("created_at"))
            .cast("timestamp_ntz"), col("updated_at")),
          fromUnixTimestamp64Micro(lit(0L)).cast("timestamp_ntz")).as("created_at"),
        coalesce(max(col("updated_at")), lit(0L)).as("updated_at_unix"),
        max(col("updated_at")).as("batch_max_updated"))

    val batch: DataFrame = if (!exists) {
      newEvents
    } else {
      // backfill_last_batch (:36-42) — prior batch rows not superseded
      val prior = CdcFixtures.read(spark, "users_batch", batchDir)
        .filter(col("batch_max_updated") === lastBatchTs)
        .join(newEvents.select("id"), Seq("id"), "left_anti")
      // produce_new_batch (:50-54)
      prior.unionByName(newEvents)
    }
    // update_batch_max_ts (:63-66): restamp with the batch's new high watermark
    val hw = batch.agg(coalesce(max(col("updated_at_unix")), lit(0L))).first().getLong(0)
    batch.withColumn("batch_max_updated", lit(hw))
      .write.mode("append").parquet(batchDir)
  }

  /** users_api_batch.pipe:3-53 — the ad-hoc read variant of the copy
    * shape: fresh events since the batch watermark ∪ unsuperseded batch
    * rows, decoded updated_at, `deleted = false` filter, ordered by id.
    *
    * The watermark is a 1-row broadcast frame cross-joined into both
    * branches — a READ endpoint must not run driver-side `.first()`
    * scalar jobs per call (the copy job above may: it is a scheduled
    * write, not a query). */
  def usersApiBatch(spark: SparkSession, dir: String, batchDir: String): DataFrame = {
    val raw = usersRaw(spark, dir)
    val batchTbl = CdcFixtures.read(spark, "users_batch", batchDir)
    val wmF = broadcast(batchTbl
      .agg(coalesce(max(col("batch_max_updated")), lit(0L)).as("__wm")))

    val newEvents = raw.crossJoin(wmF)
      .filter(col("updated_at") > col("__wm")).drop("__wm")
      .groupBy(col("id"))
      .agg(
        argMax(col("name"), col("updated_at")).as("name"),
        argMax(col("email"), col("updated_at")).as("email"),
        argMax(col("address"), col("updated_at")).as("address"),
        argMax(col("phone_number"), col("updated_at")).as("phone_number"),
        argMax(col("email_verified"), col("updated_at")).as("email_verified"),
        argMax(col("onboarded"), col("updated_at")).as("onboarded"),
        argMax(col("deleted"), col("updated_at")).as("deleted"),
        argMax(col("__timestamp"), col("updated_at")).as("event_timestamp"),
        argMax(toFixedString(col("lang"), 2), col("updated_at")).as("lang"),
        argMax(fromUnixTimestamp64Micro(col("created_at")).cast("timestamp_ntz"),
          col("updated_at")).as("created_at"),
        max(col("updated_at")).as("updated_at_unix"),
        max(col("updated_at")).as("batch_max_updated"))

    val backfill = batchTbl.crossJoin(wmF)
      .filter(col("batch_max_updated") === col("__wm")).drop("__wm")
      .join(newEvents.select("id"), Seq("id"), "left_anti")

    // produce_api (:38-44): * EXCEPT (batch_max_updated, updated_at_unix)
    // + decoded updated_at; api_publish (:50-53): deleted=false, order by id
    def shape(df: DataFrame): DataFrame =
      df.withColumn("updated_at",
          fromUnixTimestamp64Micro(col("updated_at_unix")).cast("timestamp_ntz"))
        .drop("batch_max_updated", "updated_at_unix")
    shape(backfill).unionByName(shape(newEvents))
      .filter(col("deleted") === 0)
      .orderBy("id")
  }
  /** SCD type-2 dimension history from the CDC log — the natural
    * extension of the reference's latest-state endpoints (D1-D3): one
    * row per user VERSION with its validity interval, instead of only
    * the newest row. valid_from = the change's updated_at; valid_to =
    * the next change's (NULL while current). Ordering within a user is
    * (updated_at, event_timestamp) — (id, updated_at) is unique in the
    * generator, the ingest timestamp pins any future tie.
    *
    * Scale: ONE shuffle on id shared by both window functions
    * (row_number + lead over the same frame); the history table a
    * warehouse team would otherwise maintain with MERGE statements
    * falls out of the append log declaratively. */
  def usersScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy(col("updated_at"), col("event_timestamp"))
    usersMv(usersRaw(spark, dir))
      .select(col("id"), col("name"), col("email"), col("deleted"),
        col("updated_at"), col("event_timestamp"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("updated_at"), 1).over(w))
      .select(col("id"), col("version"), col("name"), col("email"),
        col("deleted"), col("updated_at").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("id", "version")
  }
}
