package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ChFunctions

/** The reference's signature capability (SURVEY.md §2.4): reconstruct the
  * latest state of a mutating OLTP table from an append-only CDC log.
  * Three strategies, all semantically equivalent on the same log — the
  * equivalence is property-tested in DedupSpec.
  *
  * Scale design: every strategy reduces per key, so the only shuffle is a
  * hash exchange on the key — the minimum possible. The aggregation forms
  * (D2/D3) do map-side partial aggregation (`max_by` partials), so a
  * 100 TB log with 1 B keys moves ~1 row per key per mapper across the
  * wire, not the whole log. The window form (D1) is kept because it is
  * the literal `LIMIT 1 BY` mapping and supports n>1.
  */
object Dedup {

  /** D1 — query-time dedup, `ORDER BY keys, ver DESC LIMIT 1 BY keys`
    * (latest_flight_info.pipe:6-9). Ranking window, newest first. */
  def latestByWindow(df: DataFrame, keys: Seq[Column], orderDesc: Seq[Column]): DataFrame =
    ChFunctions.limitBy(df, 1, keys, orderDesc.map(_.desc))

  /** D2 — ReplacingMergeTree + FINAL (users_latest.datasource:16-19,
    * users_api_rmt.pipe:6): collapse to the max-`version` row per key.
    *
    * Implemented as one aggregation: `max_by(struct(payload), version)`
    * then unpack — a single shuffle with partial aggregation, the Spark
    * equivalent of ClickHouse's background merge + FINAL read. `version`
    * should include a unique tie-break column (e.g. struct(ts, id)).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], version: Column,
                  payload: Seq[String]): DataFrame = {
    // one select: a withColumn per payload column analyses the plan once
    // per column, and FINAL builds this on every read
    df.groupBy(keys.map(col): _*)
      .agg(ChFunctions.argMax(struct(payload.map(col): _*), version).as("__row"))
      .select(keys.map(col) ++ payload.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** D3 — incremental batch snapshot (users_batch_copy.pipe:8-70):
    * given a prior snapshot and the raw log, produce the new snapshot:
    *   (a) events newer than the watermark, collapsed per key (argMax);
    *   (b) prior snapshot rows not superseded (anti-join);
    *   (c) UNION ALL.
    * At scale this is the incremental-recompute path: only the delta since
    * the high-watermark is scanned (predicate on the version column prunes
    * partitions when the log is laid out by time).
    */
  def incrementalSnapshot(prior: DataFrame, log: DataFrame, keys: Seq[String],
                          version: Column, versionCol: String,
                          payload: Seq[String], watermark: Column,
                          inclusive: Boolean = false): DataFrame = {
    // `inclusive` re-collapses events AT the watermark: required when the
    // version has a tie-break beyond versionCol (e.g. struct(ts, id)) —
    // a late event sharing the prior snapshot's max ts would otherwise
    // be invisible to every future generation
    val freshLog =
      if (inclusive) log.filter(col(versionCol) >= watermark)
      else log.filter(col(versionCol) > watermark)
    val fresh = latestByKey(freshLog, keys, version, payload)
    val backfill = prior.join(fresh.select(keys.map(col): _*), keys, "left_anti")
    fresh.select((keys ++ payload).map(col): _*)
      .unionByName(backfill.select((keys ++ payload).map(col): _*))
  }

  /** Exact duplicate removal over arbitrary grouping columns, keeping the
    * row with the smallest tie-break key and reporting the duplicate
    * count — the first stage of a training-data dedup pipeline.
    * One shuffle on the dedup key (for long text, dedup on a digest
    * instead: see TextDedup.exactByDigest). */
  def exactDedup(df: DataFrame, dupKeys: Seq[String], keep: Column,
                 payload: Seq[String]): DataFrame =
    df.groupBy(dupKeys.map(col): _*)
      .agg(
        ChFunctions.argMin(struct(payload.map(col): _*), keep).as("__row"),
        count(lit(1)).as("dup_count"))
      .select(dupKeys.map(col) ++ payload.map(c => col(s"__row.$c").as(c)) :+ col("dup_count"): _*)
}
