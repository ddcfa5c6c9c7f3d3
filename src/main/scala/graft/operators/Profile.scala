package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.ChFunctions._

/** Dataset profiling + curation-funnel auditing — the observability
  * operators a training-data platform runs before and after every
  * pipeline stage (the reference's analogue is the per-datasource
  * quarantine/row-count bookkeeping in `modules/tb_functions.py:141-160`;
  * at corpus scale the need generalizes to full column profiles and
  * stage-attrition accounting).
  */
object Profile {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** min/max renderings in [[docsProfile]] are cut to this many chars —
    * the profile is a per-column summary, not a value store. */
  val renderPrefix = 64

  /** Column profile of the `documents` table: per column, null count,
    * exact distinct count, min/max (rendered as strings so one schema
    * covers every column type). ONE scan of the table: all 5×4 aggregates
    * ride a single `agg` (Spark plans the multi-distinct via Expand — 5×
    * row replication, still one pass over storage), then the wide row is
    * unpivoted driver-free with an `explode(array(struct…))`.
    *
    * Scale: exact multi-column distinct is the honest profile at audit
    * time; a monitoring cadence at 100 TB would swap `countDistinct` for
    * the KMV lane (`CdcPipes.activeUsersKmv*`) — the unpivot shape is
    * unchanged. min/max/null-count are pushdown-friendly partial aggs. */
  def docsProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val aggs = docCols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__nd"),
        // truncate the RENDERING (min/max are taken over full values first)
        // so a megabyte `text` extremum doesn't bloat the summary row
        substring(min(col(c)).cast("string"), 1, renderPrefix).as(s"${c}__min"),
        substring(max(col(c)).cast("string"), 1, renderPrefix).as(s"${c}__max"))
    } :+ count(lit(1)).as("__rows")
    val one = d.agg(aggs.head, aggs.tail: _*)
    val packed = docCols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"))
    }
    one.select(explode(array(packed: _*)).as("p"), col("__rows").as("n_rows"))
      .select(col("p.*"), col("n_rows"))
      .orderBy("column_name")
  }

  /** Mergeable profile partials over the events schema — the streaming
    * face of profiling (data-quality monitoring): one row per column
    * with counts (sum-mergeable) and typed min/max lanes (min/max-
    * mergeable). THREE extremum lanes, one per value class, because a
    * cross-type rendering breaks mergeability or exactness:
    *   - LONG lane for integral columns (event_id, user_id, and `ts` as
    *     epoch µs) — a DOUBLE lane would lose exactness above 2^53, so a
    *     merged min/max of large synthetic ids could be silently wrong;
    *   - DOUBLE lane for genuinely floating columns (`value`);
    *   - STRING lane for text columns (a string-rendered numeric min
    *     would merge lexicographically and break).
    * `ts` µs come from `timestampdiff(MICROSECOND, epoch_ntz, ts)` on the
    * ntz value directly — NOT `unix_micros(cast(ts as timestamp))`, whose
    * ntz→ltz cast shifts by the session timezone, making partials from
    * differently-configured writers unmergeable. Used by the streaming
    * profile MV (`Mergeable.profile`) per micro-batch and merged on read
    * by `CdcStream.mergedView`; the partial of the WHOLE table is also
    * the batch truth the replay test compares against. */
  def eventsProfilePartial(frame: DataFrame): DataFrame = {
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val tsMicros =
      expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', cast(ts as timestamp_ntz))")
    val cols: Seq[(String, Column, Column, Column, Column)] = Seq(
      ("event_id", col("event_id"), col("event_id").cast("long"), nullD, nullS),
      ("ts", col("ts"), tsMicros, nullD, nullS),
      ("user_id", col("user_id"), col("user_id").cast("long"), nullD, nullS),
      ("value", col("value"), nullL, col("value").cast("double"), nullS),
      ("event_type", col("event_type"), nullL, nullD, col("event_type")))
    val aggs = cols.flatMap { case (n, raw, lng, num, str) =>
      Seq(
        count(lit(1)).as(s"${n}__rows"),
        (count(lit(1)) - count(raw)).as(s"${n}__nulls"),
        min(lng).as(s"${n}__minl"), max(lng).as(s"${n}__maxl"),
        min(num).as(s"${n}__minn"), max(num).as(s"${n}__maxn"),
        min(str).as(s"${n}__mins"), max(str).as(s"${n}__maxs"))
    }
    val one = frame.agg(aggs.head, aggs.tail: _*)
    val packed = cols.map { case (n, _, _, _, _) =>
      struct(
        lit(n).as("column_name"),
        col(s"${n}__rows").as("n_rows"),
        col(s"${n}__nulls").as("n_nulls"),
        col(s"${n}__minl").as("min_long"), col(s"${n}__maxl").as("max_long"),
        col(s"${n}__minn").as("min_num"), col(s"${n}__maxn").as("max_num"),
        col(s"${n}__mins").as("min_str"), col(s"${n}__maxs").as("max_str"))
    }
    one.select(explode(array(packed: _*)).as("p")).select(col("p.*"))
  }

  /** Merge a log of [[eventsProfilePartial]] outputs: counts add,
    * extrema re-extremize — associative and restart-safe. */
  def mergeProfilePartials(partials: DataFrame): DataFrame =
    partials.groupBy("column_name")
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_long")).as("min_long"), max(col("max_long")).as("max_long"),
        min(col("min_num")).as("min_num"), max(col("max_num")).as("max_num"),
        min(col("min_str")).as("min_str"), max(col("max_str")).as("max_str"))
      .orderBy("column_name")

  /** Curation-funnel audit: per source, document attrition through the
    * standard pipeline stages — raw → language gate (the `langId`
    * heuristic's en/en_maybe) → quality gate (4dp stopword ratio ≥ 0.03,
    * the `mid` band floor) → exact-dedup canonical (min doc_id per md5
    * digest, computed WITHIN the quality-passed set: dedup runs after
    * filtering, as in production) — plus the token count the surviving
    * set contributes.
    *
    * One scan; the only extra exchange over a plain rollup is the
    * digest-partitioned window that marks canonicals (partitioning on
    * (digest, q_ok) keeps failed rows out of the canonical election
    * without a second filtered shuffle). At 100 TB both shuffles key on
    * high-cardinality columns (digest, then source only for the final
    * tiny rollup) — no skew concentration. */
  def pipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nTok = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val enMarkers = expr("size(filter(split(text, ' '), x -> x IN ('the', 'a')))")
    val ngramTh = (length(col("text")) - length(regexp_replace(col("text"), "th", ""))) / 2
    val ngramThe = (length(col("text")) - length(regexp_replace(col("text"), "the", ""))) / 3
    val langOk = (enMarkers * 20 >= nTok && ngramTh > 0) || (enMarkers + ngramThe > 0)
    val staged = d.select(
        col("doc_id"), col("source"),
        nTok.cast("long").as("n_tokens"),
        langOk.as("lang_ok"),
        (langOk && TextAnalysis.stopwordRatio(col("text")) >= 0.03).as("q_ok"),
        md5(col("text")).as("digest"))
      .withColumn("canon",
        (col("q_ok") && row_number().over(
          Window.partitionBy(col("digest"), col("q_ok")).orderBy(col("doc_id"))) === 1)
          .cast("int"))
    staged.groupBy("source")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("q_ok"), 1L).otherwise(0L)).as("n_quality_ok"),
        sum(col("canon").cast("long")).as("n_canonical"),
        sum(when(col("canon") === 1, col("n_tokens")).otherwise(0L)).as("canonical_tokens"))
      .orderBy("source")
  }
}
