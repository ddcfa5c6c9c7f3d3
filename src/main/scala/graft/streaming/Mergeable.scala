package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Profile, Sketches}

/** A mergeable partial-log spec: the streaming form of the reference's
  * Summing and Aggregating MergeTree engines (Replacing is
  * [[CdcStream.finalView]]). [[CdcStream.startMergeableMv]] appends
  * `partial` of every micro-batch of events to a partial log, and
  * [[CdcStream.mergedView]] applies `merge` to the whole log on read.
  * Merge-on-read works exactly like FINAL: a background compaction
  * can collapse the log at any time without changing results. The
  * stream holds no state — the aggregate lives in storage as mergeable
  * partials, not in a state store — so it scales with source
  * partitions and restarts cold, and the log grows by sketch-sized
  * partials per batch, never by events.
  *
  * One policy decides how a partial survives `foreachBatch`'s
  * AT-LEAST-ONCE delivery (a crash between the write and the
  * checkpoint commit replays the batch id with the same rows):
  *  - `duplicateIdempotent` partials (KMV minima, Bloom OR-words,
  *    bottom-k quantile samples) merge to the same view however often
  *    a row repeats, so they simply append. That survives ANY
  *    redelivery, even the whole stream again on a fresh checkpoint.
  *  - every other partial (sums, CMS counters, profile counts, feature
  *    counts) would double-count a replay, so each batch writes its
  *    own `batch=<id>` directory, overwritten when the id replays: an
  *    idempotent sink turns the at-least-once batch into exactly-once
  *    output (the Structured Streaming paper's recipe). This covers
  *    replays of a batch id under the same checkpoint, not a second
  *    delivery of the same events as new data.
  *
  * @param partial one micro-batch of CDC events → its partial rows
  * @param merge   the whole partial log → the served view
  * @param duplicateIdempotent whether merging a partial twice equals
  *                merging it once */
final case class Mergeable(partial: DataFrame => DataFrame,
                           merge: DataFrame => DataFrame,
                           duplicateIdempotent: Boolean) {

  /** The schema of the partial log: `partial` analysed over an empty
    * event frame, so reading the log needs no footer-inference job. */
  def partialSchema(spark: SparkSession): StructType =
    partial(CdcStream.noEvents(spark)).schema
}

object Mergeable {

  private def trunc(unit: String): Column =
    date_trunc(unit, col("ts")).cast("timestamp_ntz")

  /** KMV distinct sketch, the `-State`/`-Merge` pair of the oracled
    * family (`CdcPipes.activeUsersKmvPerHour`): per hour, the ≤ k
    * smallest distinct md5-low64 user hashes; merge re-ranks the
    * union. */
  def kmv(k: Int = 64): Mergeable = Mergeable(
    _.select(trunc("hour").as("time_interval"),
        graft.functions.OracleHash.low64(col("user_id").cast("string")).as("h"))
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy("time_interval").orderBy("h")))
      .filter(col("__rn") <= k).drop("__rn"),
    graft.pipes.CdcPipes.kmvMergeEstimate(_, k),
    duplicateIdempotent = true)

  /** Count-min sketch of users per hour: ≤ hours × depth × width
    * counter cells per batch; merge adds cells — per-key frequency
    * probes over any time range without re-scanning events. */
  def cms(depth: Int = 4, width: Int = 1024): Mergeable = Mergeable(
    b => Sketches.cmsCounters(b.select(trunc("hour").as("hour"), col("user_id")),
      col("user_id").cast("string"), Seq("hour"), depth, width),
    _.groupBy("hour", "r", "bucket").agg(sum(col("c")).as("c")),
    duplicateIdempotent = false)

  /** Column profile for data-quality monitoring: 5 rows per batch
    * (per-column counts and typed min/max lanes); merge adds counts and
    * re-extremizes — "how many nulls / what range has this column ever
    * seen" without re-scanning events. */
  val profile: Mergeable = Mergeable(
    Profile.eventsProfilePartial, Profile.mergeProfilePartials,
    duplicateIdempotent = false)

  /** Bloom filter over user membership: ≤ mWords words per batch,
    * merged by word-wise OR; probe the view with [[Sketches.bloomProbe]]. */
  def bloom(mWords: Int = 1024, kHashes: Int = 4): Mergeable = Mergeable(
    b => Sketches.bloomWords(b.select(col("user_id").cast("string").as("key")),
      col("key"), mWords, kHashes),
    _.groupBy("word_idx").agg(bit_or(col("bits")).as("bits")),
    duplicateIdempotent = true)

  /** Quantile sketch of `value` per event type: a bottom-k md5-ranked
    * sample per batch ([[Sketches.quantilePartial]]); merge re-ranks
    * the union and answers any quantile from it. */
  def quantile(k: Int = 64): Mergeable = Mergeable(
    b => Sketches.quantilePartial(
      b.select(col("event_type"), col("event_id"), col("value")), k),
    Sketches.quantileMerge(_, k),
    duplicateIdempotent = true)

  /** SummingMergeTree: partial sums per (hour, event_type) in integer
    * cents, so partials merge associatively; merge sums them. */
  val summing: Mergeable = Mergeable(
    _.groupBy(trunc("hour").as("hour"), col("event_type"))
      .agg(sum(CdcStream.valueCents).as("partial_cents"),
        count(lit(1)).as("partial_n")),
    _.groupBy("hour", "event_type")
      .agg((sum(col("partial_cents")) / 100.0).as("total_value"),
        sum(col("partial_n")).as("n")),
    duplicateIdempotent = false)

  /** Streaming feature store. The partial folds events to (user, day,
    * event_type): count, integer cents, and the (ts, event_id,
    * event_type) argmax struct — every lane associative, so a day's
    * partial merges forever and stops changing once its day has
    * passed. The merge serves per-user 1/7/28-day features, the
    * merge-on-read twin of the batch
    * [[graft.pipes.CdcPipes.userWindowFeatures]] at DAY grain: windows
    * are "the last k complete days through the newest day in the log",
    * so the serving cut is reproducible from partials alone (the batch
    * endpoint's exact-instant windows need the raw log). Serving reads
    * ≤ 28 × |types| rows per user instead of the event history, one
    * micro-batch behind. */
  val userDayFeatures: Mergeable = Mergeable(
    _.groupBy(col("user_id"), trunc("day").as("day"), col("event_type"))
      .agg(count(lit(1)).as("partial_n"),
        sum(CdcStream.valueCents).as("partial_cents"),
        max(struct(col("ts"), col("event_id"), col("event_type")))
          .as("partial_last")),
    p => {
      val anchor = p.agg(max(col("day")).as("__d"))
      def inWin(days: Int) = col("day") > col("__d") - expr(s"INTERVAL $days DAYS")
      def total(c: String, days: Int) = sum(when(inWin(days), col(c)).otherwise(0L))
      p.crossJoin(broadcast(anchor))
        .groupBy("user_id")
        .agg(
          total("partial_n", 1).as("n_1d"),
          total("partial_n", 7).as("n_7d"),
          total("partial_n", 28).as("n_28d"),
          (total("partial_cents", 1) / 100.0).as("value_1d"),
          (total("partial_cents", 7) / 100.0).as("value_7d"),
          (total("partial_cents", 28) / 100.0).as("value_28d"),
          countDistinct(when(inWin(28), col("event_type"))).as("n_types_28d"),
          max(col("partial_last")).as("__last"))
        .select(col("user_id"), col("n_1d"), col("n_7d"), col("n_28d"),
          col("value_1d"), col("value_7d"), col("value_28d"), col("n_types_28d"),
          col("__last.ts").as("last_ts"),
          col("__last.event_type").as("last_type"))
    },
    duplicateIdempotent = false)
}
