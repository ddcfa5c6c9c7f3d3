package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextDedup, VectorOps}

/** The reference's ingestion + materialization path (SURVEY.md §3.2),
  * Spark-native: a raw CDC stream lands in an append-only log, a
  * materialized-view stream normalizes each ingested block into the
  * latest-state table's log, and readers apply the FINAL dedup view.
  *
  *   Kafka/file source → raw append (S1/S2)
  *     → MV transform stream (S4, users_mv.pipe:1-20)
  *       → versioned log (ReplacingMergeTree analogue, S3)
  *         → FINAL view / hourly copy snapshot (D2/D3)
  *
  * Scale: the streaming path is stateless (projection only), so
  * executors scale horizontally with source partitions and there is no
  * state store to grow. Latest-state is resolved at read (dedup view)
  * or by the scheduled compaction job — exactly the reference's
  * ReplacingMergeTree + background-merge split. The optional
  * flatMapGroupsWithState variant keeps per-key state in the stream
  * instead; its memory is bounded by key cardinality, which the
  * reference accepts too (its table IS that state).
  */
object CdcStream {

  /** The CDC event schema (events-table shape; ts = version). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S1 — streaming scan with declared schema (no inference, mirroring
    * the fixed SCHEMA block of `.datasource` files). File source here;
    * swap `.format("kafka")` + from_json for a broker deployment. */
  def readEvents(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)

  /** No CDC events, with the event schema: a transform analysed over
    * it gives the schema of what the transform writes, and analysis
    * starts no job. */
  private[streaming] def noEvents(spark: SparkSession): DataFrame =
    noRows(spark, eventSchema)

  private def noRows(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The schema of the versioned log [[materializedView]] writes (the
    * partitioned layout adds its `yyyymm` directory column): the
    * projection analysed over no events, so the projection stays the
    * one place the log format is defined. Readers of the log and of the
    * copy snapshot read through it, so a read runs no footer-inference
    * job. */
  def logSchema(spark: SparkSession): StructType =
    materializedView(noEvents(spark)).schema

  /** S4 — the materialized-view transform (users_mv.pipe:4-17 semantics):
    * per-column extraction + defaults, applied to every ingested block. */
  def materializedView(raw: DataFrame): DataFrame =
    raw.select(
      col("event_id"), col("user_id"), col("ts"),
      col("event_type"),
      coalesce(col("value"), lit(0.0)).as("value"),
      get_json_object(col("props"), "$.k").cast("int").as("prop_k"))

  /** Money as integer cents: partial sums over it are exact, so they
    * merge in any order and replay across restarts bit-identically. */
  private[streaming] val valueCents: Column =
    floor(coalesce(col("value"), lit(0.0)) * 100 + 0.5).cast("long")

  /** The writer of every MV stream. Its offset, source, sink and commit
    * logs commit through [[LocalCheckpointFileManager]]: the writer sets
    * that manager on the stream's session unless the caller has chosen
    * one there (DESIGN.md, "Streaming commits"). */
  private def streamWriter(df: DataFrame): DataStreamWriter[Row] = {
    val conf = df.sparkSession.conf
    if (conf.getOption(LocalCheckpointFileManager.Key).isEmpty)
      conf.set(LocalCheckpointFileManager.Key, classOf[LocalCheckpointFileManager].getName)
    df.writeStream
  }

  /** The file sink of every projection-only MV: Append output (the log
    * only grows, like MergeTree parts) under an AvailableNow trigger
    * (drain what has arrived, then stop — each start is one incremental
    * run over the checkpointed offsets). Its logs commit through
    * [[streamWriter]]. */
  private def appendParquet(df: DataFrame, path: String, checkpointDir: String,
                            partitionBy: String*): StreamingQuery =
    streamWriter(df)
      .format("parquet")
      .partitionBy(partitionBy: _*)
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The `foreachBatch` sink of every MV whose write is not one append:
    * `f` gets each micro-batch and its id. Delivery is AT-LEAST-ONCE —
    * a crash between `f`'s writes and the checkpoint commit replays the
    * batch id with the same rows — so every `f` says how it absorbs a
    * replay. Its logs commit through [[streamWriter]]. */
  private def eachBatch(df: DataFrame, checkpointDir: String)
                       (f: (DataFrame, Long) => Unit): StreamingQuery =
    streamWriter(df)
      .foreachBatch(f)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start the MV stream appending into the versioned log. With
    * `partitioned`, the sink lays out the log MergeTree-style
    * (ENGINE_PARTITION_KEY "toYYYYMM(...)", users_raw.datasource:17):
    * yyyymm directories that partition-prune incremental readers.
    *
    * Before the stream starts, the log is merged ([[mergeLog]]) when
    * [[MergeThreshold]] or more sink files are not yet in its merged
    * part, so [[finalView]] reads one key-bounded part and a short tail
    * rather than the whole history. The merge runs on the caller's
    * thread, inside whatever serializes the caller's ingest cycles.
    *
    * Ingestion observability rides along, the analogue of the
    * reference's per-run ingest stats: `observe` attaches named
    * aggregates (`ingest_stats`: rows_seen, rows_invalid, value_cents)
    * to the stream itself, so every micro-batch reports them through
    * `StreamingQueryProgress.observedMetrics` — no second pass over the
    * data, no side channel (asserted in StreamingSpec against the batch
    * truth). */
  def startMv(spark: SparkSession, srcDir: String, logDir: String,
              checkpointDir: String, partitioned: Boolean = false): StreamingQuery = {
    merge(spark, logDir, MergeThreshold)
    val mv = materializedView(readEvents(spark, srcDir)
      .observe("ingest_stats",
        count(lit(1)).as("rows_seen"),
        sum(when(isValid, 0L).otherwise(1L)).as("rows_invalid"),
        sum(valueCents).as("value_cents")))
    if (partitioned)
      appendParquet(mv.withColumn("yyyymm", graft.functions.ChFunctions.toYYYYMM(col("ts"))),
        logDir, checkpointDir, "yyyymm")
    else appendParquet(mv, logDir, checkpointDir)
  }

  /** Stream-side exactly-once-per-key dedup MV: at-least-once delivery
    * (Kafka redeliveries, producer retries) re-sends event_ids, and
    * dedup-on-read pays for those duplicates on EVERY query.
    * `dropDuplicatesWithinWatermark` removes them at ingest with
    * bounded state: one entry per event_id seen within the watermark
    * horizon, dropped as event time passes — the state never grows with
    * the stream, which is what makes the operator viable on an
    * unbounded 100 TB-scale log (a plain dropDuplicates would pin every
    * key forever). Redeliveries later than the horizon are the
    * at-least-once tail risk; the downstream RMT dedup-on-read view
    * still collapses those, so the MV is a cost optimization in front
    * of a correctness backstop, exactly like the reference's
    * ReplacingMergeTree posture. */
  def startDedupMv(spark: SparkSession, srcDir: String, outDir: String,
                   checkpointDir: String,
                   watermarkMinutes: Int = 60): StreamingQuery =
    appendParquet(dedupedStream(readEvents(spark, srcDir), watermarkMinutes),
      outDir, checkpointDir)

  /** The `documents` table shape for streaming corpus ingest. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The `embeddings` table shape for streaming vector ingest. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def readDocs(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(srcDir)

  /** Streaming IVF index maintenance — the vector analogue of the
    * minhash-band MV: every arriving embedding is assigned to its
    * nearest anchor list IN ROW
    * ([[graft.operators.VectorOps.perRowListAssign]] — the window-free
    * form of the batch canon) and appended to the layout PARTITIONED
    * BY list_id — the same on-disk shape as
    * [[graft.operators.VectorOps.writeIvfLayout]], so the
    * streaming-maintained index is directly searchable by
    * `knnIvfOverLayout` with probe pruning running as dynamic
    * partition pruning in the scan. (One tie nuance: the per-row form
    * assigns by 6dp-ROUNDED similarity, the batch writer by raw —
    * a vector whose two best anchors agree to six decimals can land
    * in a different list than the batch layout; assignment is still
    * deterministic within each path, and IvfLayoutSpec's
    * search-equality contract is stated for the batch-written
    * layout.) At 100 TB this is how the ANN
    * index stays current: assignment cost is per-vector, the append
    * lands in the probed-list partition, and search reads only its
    * probed lists. */
  def startIvfAssignMv(spark: SparkSession, srcDir: String, outDir: String,
                       checkpointDir: String,
                       anchors: Seq[(Long, Array[Float])]): StreamingQuery = {
    appendParquet(spark.readStream.schema(embSchema).parquet(srcDir)
        .select(col("vec_id"), col("label"), col("embedding"),
          VectorOps.perRowListAssign(col("embedding"), anchors).as("list_id")),
      outDir, checkpointDir, "list_id")
  }

  /** Streaming dedup screening — artifact upkeep AT INGEST: every
    * micro-batch of arriving vectors is screened against the staged
    * near-dup probe layout ([[graft.operators.VectorOps.screenAgainstLayout]])
    * and its verdicts (near_dup/novel + matched vector + exact cosine)
    * append to a verdict log, stamped with the batch id. The
    * reference's MV-at-ingest pattern (users_mv.pipe:19-20: precompute
    * at ingest, serve precomputed) applied to the dedup artifact: the
    * curation decision is made once, on arrival, instead of per
    * downstream consumer.
    *
    * Each vector's verdict depends only on (vector, layout) — no
    * cross-batch state — so N streamed batches equal one batch
    * recompute over the union (asserted in StreamingSpec), and
    * foreachBatch's at-least-once replay can only rewrite identical
    * rows (dedup-on-read by (vec_id) collapses them; the spec's
    * equality uses the distinct verdict set). At 100 TB: the
    * micro-batch probe frame broadcasts and DPP-prunes the layout
    * scan to the probed cells — ingest screening cost is
    * per-arriving-vector, never per-corpus. */
  def startVectorScreenMv(spark: SparkSession, srcDir: String, layout: String,
                          outDir: String, checkpointDir: String,
                          minCosine: Double = 0.4): StreamingQuery =
    screenMv(spark, spark.readStream.schema(embSchema).parquet(srcDir),
      outDir, checkpointDir)(VectorOps.screenAgainstLayout(spark, _, layout, minCosine))

  /** Streaming dedup screening for DOCUMENTS — the text half of the
    * ingest-screen pair (the round-9 ask was "docs/vectors";
    * [[startVectorScreenMv]] covers vectors): every micro-batch of
    * arriving documents is screened against the STAGED dedup
    * artifacts ([[graft.operators.TextDedup.screenDocsAgainstArtifacts]]
    * — candidates from the staged inverted index restricted to the
    * batch's own shingles) and its verdicts (near_dup/novel + matched
    * doc + exact Jaccard) append to a verdict log, stamped with the
    * batch id.
    *
    * Same contracts as the vector screen: a doc's verdict depends
    * only on (doc, staged state) — classification by STORED dfs, so N
    * streamed batches equal one batch screen over the union (asserted
    * in StreamingSpec), and at-least-once replay can only rewrite
    * identical rows. At 100 TB: per-batch cost is bounded by the
    * batch's shingles × maxDf candidate fan-out against the compact
    * staged index — never a corpus re-shingle, never corpus×corpus. */
  def startDocScreenMv(spark: SparkSession, srcDir: String, art: String,
                       outDir: String, checkpointDir: String,
                       minJaccard: Double = 0.5,
                       maxDf: Int = TextDedup.DefaultMaxDf): StreamingQuery =
    screenMv(spark, readDocs(spark, srcDir), outDir, checkpointDir)(
      TextDedup.screenDocsAgainstArtifacts(spark, _, art, minJaccard, maxDf))

  /** The screen MVs' shared body: each micro-batch's verdicts append to
    * the verdict log stamped with the batch id (`__batch`). */
  private def screenMv(spark: SparkSession, arrivals: DataFrame, outDir: String,
                       checkpointDir: String)
                      (screen: DataFrame => DataFrame): StreamingQuery = {
    eachBatch(arrivals, checkpointDir) { (batch, batchId) =>
      screen(batch).withColumn("__batch", lit(batchId))
        .write.mode("append").parquet(outDir)
    }
  }

  /** Streaming PII scrub — the privacy MV: every arriving document is
    * redacted IN ROW ([[graft.operators.Privacy.scrub]], a pure
    * codegen'd projection) and appended with its audit count, so
    * nothing downstream of this sink ever sees raw PII. Stateless —
    * the scrub-at-ingest placement is the point: at 100 TB you scrub
    * each byte exactly once, on arrival, not per consumer. Equality
    * with the batch scrub over any replay is asserted in
    * StreamingSpec. */
  def startScrubMv(spark: SparkSession, srcDir: String, outDir: String,
                   checkpointDir: String): StreamingQuery =
    appendParquet(readDocs(spark, srcDir)
        .select(col("doc_id"),
          graft.operators.Privacy.scrub(col("text")).as("text"),
          graft.operators.Privacy.digitCount(col("text")).as("n_pii_digits"),
          col("lang"), col("source")),
      outDir, checkpointDir)

  /** Streaming near-dup signature maintenance — the dedup MV: each
    * arriving document's MinHash band signature is computed IN ROW
    * (stateless projection, [[graft.operators.TextDedup.minhashBandsPerRow]])
    * and appended to the bands log; dedup-on-read then bucket-joins the
    * log exactly like the batch path. This is how the 100 TB corpus
    * keeps its dedup index current incrementally: signature cost is
    * paid once per document at ingest, never re-paid per dedup query,
    * and the stream holds no state. */
  def startMinhashMv(spark: SparkSession, srcDir: String, bandsDir: String,
                     checkpointDir: String): StreamingQuery =
    appendParquet(bandSignatures(spark, srcDir), bandsDir, checkpointDir)

  /** The arriving documents' (doc_id, band, band_hash) rows — docs of
    * ≥ 3 words, signatures computed in row: the projection both band
    * MVs start from. */
  private def bandSignatures(spark: SparkSession, srcDir: String): DataFrame =
    readDocs(spark, srcDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), explode(TextDedup.minhashBandsPerRow(col("text"))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))

  case class BandRow(doc_id: Long, band: Int, band_hash: Long)
  case class BandPair(band: Int, doc_a: Long, doc_b: Long)

  /** Streaming near-dup CANDIDATE emission — one step past maintaining
    * the band index: a stateful stream keyed by LSH bucket (band,
    * band_hash) whose state is the bucket's member docs; each arriving
    * doc emits a candidate pair with every previously-seen member,
    * exactly once per bucket (the pair carries its band, so downstream
    * verify/cluster stages dedup across bands exactly like the batch
    * path's `.distinct()`). The accumulated pair log equals the batch
    * LSH candidate join over the same corpus AS LONG AS no bucket
    * exceeds `maxBucket` members (StreamingSpec asserts both the
    * equality and that precondition at test SF).
    *
    * Scale: state per bucket is its member list, and emission cost is
    * the collision count — identical to the batch candidate join's
    * output, paid incrementally. `maxBucket` bounds both against hot
    * boilerplate buckets (the streaming analogue of the df cap): docs
    * arriving at a full bucket are dropped from pairing, deterministic
    * by arrival order — a documented recall boundary (a bucket that
    * wide is a boilerplate cluster; the batch comparison has no cap,
    * so past it the streams's pair set is a strict subset). */
  def incrementalCandidatePairs(spark: SparkSession, bands: DataFrame,
                                maxBucket: Int = 64): Dataset[BandPair] = {
    import spark.implicits._
    bands.select(col("doc_id"), col("band").cast("int").as("band"), col("band_hash"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState[Seq[Long], BandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow], state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val seenSet = seen.toSet
          val fresh = rows.map(_.doc_id).toSeq.distinct
            .filterNot(seenSet).sorted
          val out = Seq.newBuilder[BandPair]
          var acc = seen
          for (d <- fresh if acc.size < maxBucket) {
            acc.foreach(o =>
              out += BandPair(key._1, math.min(o, d), math.max(o, d)))
            acc = acc :+ d
          }
          state.update(acc)
          out.result().iterator
      }
  }

  /** The candidate-pair MV end to end: per-row band signatures
    * (stateless) feeding the stateful bucket pairing, appended to a
    * pair log — the dedup index AND its collision pairs both kept
    * current at ingest time. */
  def startCandidatePairsMv(spark: SparkSession, srcDir: String,
                            pairsDir: String, checkpointDir: String): StreamingQuery =
    appendParquet(incrementalCandidatePairs(spark, bandSignatures(spark, srcDir)).toDF(),
      pairsDir, checkpointDir)

  // value is Option: the batch as-of join passes a null purchase value
  // through untouched, and the incremental==batch contract must hold
  // column-for-column, so no coalesce here either
  case class AsOfEvent(user_id: Long, is_left: Boolean, ts: java.time.LocalDateTime,
                       event_id: Long, value: Option[Double])
  case class AsOfState(ts: java.time.LocalDateTime, event_id: Long)
  case class AsOfMatch(event_id: Long, user_id: Long, ts: java.time.LocalDateTime,
                       value: Option[Double], click_event_id: Option[Long],
                       click_ts: Option[java.time.LocalDateTime])

  /** Streaming as-of enrichment — the stateful stream form of
    * [[graft.operators.AsOfJoin]]: both sides arrive as one keyed
    * stream; per key the state is the latest right-side version seen,
    * right rows advance it, left rows emit enriched with it. Within a
    * micro-batch rows are processed in (ts, side, id) order — identical
    * to the batch window's sort — so as long as batches respect event
    * time ACROSS batch boundaries (CDC logs replayed in order, the
    * reference's topic contract), the incremental output equals the
    * batch as-of join (asserted in StreamingSpec).
    *
    * Scale: state is ONE version per key (the same bound as the
    * reference's latest-state table), emission is per left row; no
    * timeline is ever re-scanned. */
  def streamingAsOf(spark: SparkSession, events: DataFrame): Dataset[AsOfMatch] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), (col("event_type") === "purchase").as("is_left"),
        col("ts"), col("event_id"), col("value"))
      .as[AsOfEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[AsOfEvent], state: GroupState[AsOfState]) =>
          var cur = state.getOption
          val out = Seq.newBuilder[AsOfMatch]
          // (ts, right-before-left, id): the batch window's exact order
          val ordered = rows.toSeq.sortBy(e =>
            (e.ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              e.ts.getNano / 1000, e.is_left, e.event_id))
          for (e <- ordered) {
            if (!e.is_left) {
              if (cur.forall(c => c.ts.isBefore(e.ts) ||
                  (c.ts == e.ts && c.event_id < e.event_id)))
                cur = Some(AsOfState(e.ts, e.event_id))
            } else
              out += AsOfMatch(e.event_id, key, e.ts, e.value,
                cur.map(_.event_id), cur.map(_.ts))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Watermarked stream-stream interval join: every error event joins
    * the SAME user's click events from the preceding `windowMinutes` —
    * the error-attribution query ("which interaction preceded this
    * failure") as a true two-stream join, not a stream-static lookup.
    *
    * Both sides carry a watermark, and the join condition bounds
    * click_ts to [error_ts − window, error_ts]; together these let the
    * engine EVICT click state older than watermark − window instead of
    * buffering one side forever — the property that makes a
    * stream-stream join runnable indefinitely at production rates.
    * Inner join: results emit as soon as both sides arrive, and
    * accumulated output equals the batch range join of everything
    * ingested (asserted in StreamingSpec across a checkpointed
    * restart, clicks and errors arriving in separate increments). */
  def streamClickErrorJoin(spark: SparkSession, clicks: DataFrame,
                           errors: DataFrame, windowMinutes: Int = 10,
                           watermarkDelay: String = "30 minutes"): DataFrame = {
    // watermarks need LTZ event time; session TZ is UTC so the cast is
    // a pure reinterpretation (same convention as dedupedStream)
    val c = clicks
      .filter(col("event_type") === "click")
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", watermarkDelay)
      .select(col("event_id").as("click_event_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("ts_ltz").as("click_ts_ltz"))
    val e = errors
      .filter(col("event_type") === "error")
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", watermarkDelay)
      .select(col("event_id").as("error_event_id"),
        col("user_id"), col("ts").as("error_ts"), col("ts_ltz"))
    e.join(c,
      col("click_user") === col("user_id") &&
        col("click_ts_ltz") <= col("ts_ltz") &&
        col("click_ts_ltz") >= col("ts_ltz") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select("error_event_id", "user_id", "error_ts", "click_event_id", "click_ts")
  }

  /** S1 — the generic per-column JSONPath ingest projection for a parsed
    * `.datasource` (users_raw.datasource:3-14): each declared column is
    * extracted from the raw message by its `json:$.path` and cast to the
    * declared type; meta-columns are bound from the transport layer —
    * `__value` ← the raw message (KAFKA_STORE_RAW_VALUE),
    * `__timestamp` ← the Kafka record timestamp (ingest time).
    * get_json_object is codegen'd, so ingest is one fused projection.
    * Extraction failures yield nulls → route by [[startMvWithQuarantine]]'s
    * validity split (S8). */
  def jsonPathProjection(raw: DataFrame,
                         ds: graft.sources.KitParser.DatasourceDef): DataFrame = {
    val cols = ds.columns.map { c =>
      c.jsonPath match {
        case Some(path) =>
          get_json_object(col("__raw_value"), path).cast(c.dataType).as(c.name)
        case None if c.name == "__value" => col("__raw_value").as("__value")
        case None => lit(null).cast(c.dataType).as(c.name)
      }
    } :+ col("__kafka_timestamp").cast("timestamp_ntz").as("__timestamp")
    raw.select(cols: _*)
  }

  /** S1 — Kafka streaming scan for a parsed datasource definition: topic,
    * group id and offset reset come from the KAFKA_* binding
    * (users_raw.datasource:20-27). Not exercisable in this container
    * (no broker); the projection itself is covered in batch by
    * StreamingSpec via [[jsonPathProjection]]. */
  def readKafkaDatasource(spark: SparkSession, brokers: String,
                          ds: graft.sources.KitParser.DatasourceDef): DataFrame = {
    val stream = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", ds.kafkaTopic.getOrElse(
        throw new IllegalArgumentException(s"${ds.name} has no KAFKA_TOPIC")))
      .option("startingOffsets",
        ds.kafkaAutoOffsetReset.getOrElse("latest") match {
          case "earliest" => "earliest"; case _ => "latest"
        })
      .option("kafka.group.id", ds.kafkaGroupId.getOrElse(s"graft-${ds.name}"))
      .load()
      .select(col("value").cast("string").as("__raw_value"),
        col("timestamp").as("__kafka_timestamp"))
    jsonPathProjection(stream, ds)
  }

  /** S8 — schema-validity predicate for the ingest path: rows whose raw
    * payload fails per-column extraction are quarantined, not ingested
    * (tb_functions.py:141-142's `<ds>_quarantine` side table).
    * `prop_k` is a REQUIRED typed column of the MV (the users_mv
    * pattern: every JSONPath column must extract), so a present props
    * payload without an integer `k` is a schema mismatch by contract —
    * same as the reference quarantining a row whose column fails its
    * cast; a wholly-null props is the absent-payload case and valid.
    * The events_quarantine oracle applies the same k-extraction rule. */
  private def isValid = col("user_id").isNotNull && col("ts").isNotNull &&
    (col("props").isNull || get_json_object(col("props"), "$.k").cast("int").isNotNull)

  /** S4 + S8 — the MV stream with a quarantine side-sink: each micro
    * batch is split once; good rows are normalized into the log, bad
    * rows land in the quarantine table with a rejection timestamp.
    * Delivery is foreachBatch's AT-LEAST-ONCE (a crash between the
    * appends and the checkpoint commit replays the batch): log-side
    * duplicates are absorbed by the FINAL view's dedup-on-read, and
    * [[reprocessQuarantine]] distincts the quarantine side before
    * recovery — the batch id is stamped into `__quarantined_batch` so
    * a replay is diagnosable from the artifact. */
  def startMvWithQuarantine(spark: SparkSession, srcDir: String, logDir: String,
                            quarantineDir: String, checkpointDir: String): StreamingQuery =
    eachBatch(readEvents(spark, srcDir), checkpointDir) { (batch, batchId) =>
      val tagged = batch.withColumn("__ok", isValid).cache()
      try {
        materializedView(tagged.filter(col("__ok")).drop("__ok"))
          .write.mode("append").parquet(logDir)
        tagged.filter(!col("__ok")).drop("__ok")
          .withColumn("__quarantined_batch", lit(batchId))
          .write.mode("append").parquet(quarantineDir)
      } finally tagged.unpersist()
    }

  /** S8 recovery — re-ingest quarantined rows after a fix. The missing
    * half of the quarantine lifecycle (land → inspect → FIX →
    * reprocess): `fix` is the operator's repair transform (the schema
    * fix, a props rewrite, a backfilled column …) applied to the
    * quarantined raw rows; rows that now pass the SAME validity
    * predicate the ingest split uses are normalized through the SAME
    * [[materializedView]] transform and appended to the log, rows that
    * still fail stay quarantined (their `__quarantined_batch` is reset
    * to -1 to mark a reprocess survivor).
    *
    * Crash safety + live-stream safety (move-out, then process —
    * never delete-then-move): the quarantine dir is first atomically
    * RENAMED to a work dir, so rows a concurrently-running
    * [[startMvWithQuarantine]] stream appends after that instant land
    * in a freshly recreated quarantine dir and simply wait for the
    * next pass — nothing is ever deleted out from under a writer. A
    * crash at ANY point leaves every row in exactly one of {log, work
    * dir, quarantine dir}: the next invocation restores a leftover
    * work dir into the quarantine dir by per-file atomic moves before
    * proceeding. The delete set is pinned to the READ set (one file
    * enumeration feeds both the parquet read and the cleanup), so
    * even a batch whose commit straddles the rename and lands a late
    * file inside the work dir loses nothing — the late file is
    * neither read nor deleted, and the next pass restores it.
    *
    * The at-least-once failure mode is rows present in
    * BOTH log and quarantine, which the dedup-on-read FINAL view
    * collapses (same (ts, event_id) version wins once), so
    * reprocessing is idempotent at the serving layer: re-running with
    * the same fix recovers 0 rows and changes nothing. Asserted in
    * StreamingSpec: corrupt → quarantine → fix → reprocess → endpoint
    * state equals the never-corrupted run (and a crash-simulation row
    * covers the leftover-work-dir restore).
    *
    * @return (recovered, stillQuarantined) row counts. */
  def reprocessQuarantine(spark: SparkSession, quarantineDir: String,
                          logDir: String)
                         (fix: DataFrame => DataFrame): (Long, Long) = {
    val qDir = new java.io.File(quarantineDir)
    val workDir = new java.io.File(quarantineDir + ".reprocess_work")
    if (workDir.isDirectory) {
      // leftover from a crashed (or straggler-bearing) previous
      // attempt: restore file-by-file (each move atomic, so a crash
      // mid-restore just resumes here)
      restoreWork(workDir, qDir)
    }
    if (!qDir.isDirectory) return (0L, 0L) // nothing ever quarantined
    java.nio.file.Files.move(qDir.toPath, workDir.toPath)
    // enumerate the work dir ONCE and make the read set and the
    // delete set the SAME explicit file list: a streaming batch whose
    // parquet commit straddled the rename can land a late file inside
    // the work dir after this listing, and a directory-wide
    // deleteRec would silently destroy those just-committed rows
    // (read-set ≠ delete-set). With the pinned list, a late file is
    // simply not read and not deleted — it waits in the work dir and
    // the leftover-restore pass above returns it to the quarantine
    // dir on the next invocation. (Underscore/dot files are Spark
    // commit machinery — _SUCCESS, _temporary — never row data.)
    val workFiles = Option(workDir.listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    if (workFiles.isEmpty) {
      // nothing readable landed before the rename: put the (possibly
      // straggler-bearing) work dir back and report an empty pass
      restoreWork(workDir, qDir)
      return (0L, 0L)
    }
    // .distinct: foreachBatch is at-least-once, so a batch replayed
    // across a crash can have appended the same quarantine rows twice;
    // reprocess collapses them (the log side is absorbed by the FINAL
    // view's dedup-on-read, this is the quarantine-side analogue)
    val fixed = fix(spark.read.parquet(workFiles.map(_.toString).toIndexedSeq: _*)
        .drop("__quarantined_batch").distinct())
      .withColumn("__ok", isValid).cache()
    try {
      val recovered = fixed.filter(col("__ok")).drop("__ok")
      val nRecovered = recovered.count()
      if (nRecovered > 0)
        materializedView(recovered).write.mode("append").parquet(logDir)
      val still = fixed.filter(!col("__ok")).drop("__ok")
        .withColumn("__quarantined_batch", lit(-1L))
      val nStill = still.count()
      // APPEND (never overwrite — the live stream may already have
      // re-quarantined fresh rows next to ours); coalesce(1) keeps one
      // task even for 0 rows, so an all-recovered pass still leaves a
      // schema-bearing file the next reader/endpoint can open
      still.coalesce(1).write.mode("append").parquet(quarantineDir)
      // delete exactly what was read; any straggler stays for the
      // next invocation's restore pass, and the dir itself goes only
      // once it is truly empty
      workFiles.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
      restoreWork(workDir, qDir)
      (nRecovered, nStill)
    } finally fixed.unpersist()
  }

  /** Return every file still in a reprocess work dir to the live
    * quarantine dir (per-file atomic moves), then remove the work dir
    * if — and only if — it is empty. Commit-machinery files
    * (`_SUCCESS`, `_temporary`) are deleted, not restored: they carry
    * no rows and a stale `_SUCCESS` in the quarantine dir would lie
    * about a completed write. */
  private def restoreWork(workDir: java.io.File, qDir: java.io.File): Unit = {
    qDir.mkdirs()
    for (f <- Option(workDir.listFiles).getOrElse(Array.empty[java.io.File])) {
      if (f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        java.nio.file.Files.move(f.toPath,
          new java.io.File(qDir, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else graft.sources.Layout.deleteRec(f)
    }
    // deletes only an empty dir; a file that landed between the loop
    // and here keeps the dir alive for the next restore pass
    workDir.delete()
  }

  private val payload = Seq("event_id", "ts", "event_type", "value", "prop_k")
  private def version = struct(col("ts"), col("event_id"))

  /** The schema of the copy snapshot [[runCopyJob]] writes: the FINAL
    * row (key, then payload) of the log stamped with its generation. */
  def snapshotSchema(spark: SparkSession): StructType = {
    val log = logSchema(spark)
    StructType(("user_id" +: payload).map(log(_))).add("generation", LongType)
  }

  /** Read a table this object writes through its declared schema. A
    * table with no committed file yet — or no directory — reads as an
    * empty frame with the declared columns, as FINAL over an empty
    * datasource returns no rows. */
  private def readDeclared(spark: SparkSession, schema: StructType,
                           dir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path))
      spark.read.schema(schema).parquet(dir)
    else noRows(spark, schema)
  }

  /** D2 — FINAL read view over the materialized log (partitioned or
    * not — the yyyymm layout column is not part of the row payload).
    *
    * It reads the merge manifest first, then lists the log: with a
    * committed merge it is `latestByKey(merged part ∪ the sink files the
    * part does not cover)`, so its work is bounded by the number of keys
    * plus the tail [[startMv]] lets grow to [[MergeThreshold]] files.
    * With no merge, or a tail too long to list without a Spark job
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold` paths),
    * it reads the whole log. Both give the same rows, because
    * max-by-`(ts, event_id)` is associative and idempotent. Building it
    * starts no Spark job. */
  def finalView(spark: SparkSession, logDir: String): DataFrame = {
    val schema = logSchema(spark)
    val rows = readMerge(logDir).flatMap { m =>
      val base = logBase(spark, logDir)
      val tail = sinkFiles(spark, schema, logDir, base).filterNot(m.covered)
      // more root paths than the threshold are listed by a Spark job
      if (tail.size < spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
        Some(readMerged(spark, schema, logDir, base, Some(m.part), tail))
      else None
    }.getOrElse {
      val log = readDeclared(spark, schema, logDir)
      if (log.columns.contains("yyyymm")) log.drop("yyyymm") else log
    }
    Dedup.latestByKey(rows, Seq("user_id"), version, payload)
  }

  /** [[startMv]] merges the log once this many sink files are outside
    * its merged part: the break-even of a merge against the per-read cost
    * of an uncovered file (DESIGN.md, "Bounded FINAL"). */
  val MergeThreshold = 8

  /** What the merge manifest names: the committed part under
    * `<logDir>/_merge`, the part it superseded (kept until the next merge
    * commits), and the sink files whose rows the part holds, as URIs
    * relative to the log dir. */
  private final case class LogMerge(part: String, previous: Option[String],
                                    covered: Set[String])

  private val MergeVersion = 1

  private def mergeDir(logDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(logDir, "_merge")

  private def mergeManifest(logDir: String): java.nio.file.Path =
    mergeDir(logDir).resolve("_MANIFEST")

  /** The committed merge; None before the first merge, and for a
    * manifest of another version (FINAL then reads the whole log). */
  private def readMerge(logDir: String): Option[LogMerge] = {
    val p = mergeManifest(logDir)
    if (!java.nio.file.Files.exists(p)) return None
    val kv = new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      .linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toSeq
    val one = kv.toMap
    if (!one.get("version").contains(MergeVersion.toString)) None
    else one.get("part").map(LogMerge(_, one.get("previous"),
      kv.collect { case ("covered", f) => f }.toSet))
  }

  /** The log dir as a base URI that sink files are named relative to. */
  private def logBase(spark: SparkSession, logDir: String): java.net.URI = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val q = p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
    java.net.URI.create(q.toUri.toString.stripSuffix("/") + "/")
  }

  /** The files a plain read of the log reads — the file sink's committed
    * files, or every visible file of a log written without one — relative
    * to `base`. Hidden `_merge` is never among them. Listing starts no
    * job. */
  private def sinkFiles(spark: SparkSession, schema: StructType, logDir: String,
                        base: java.net.URI): Seq[String] =
    readDeclared(spark, schema, logDir).inputFiles.toSeq
      .map(f => base.relativize(java.net.URI.create(f)).toString)

  /** Whether `n` or more visible files under the log dir are outside
    * `covered`: a walk of the directory, without the sink listing's
    * Spark relation, so an ingest cycle with nothing to merge pays
    * almost nothing. It can count a file of a batch the sink has not
    * committed, which only brings a merge forward: the merge itself
    * takes the sink's listing. */
  private def uncoveredAtLeast(logDir: String, covered: Set[String], n: Int): Boolean = {
    def walk(dir: java.io.File, rel: String): Iterator[String] =
      Option(dir.listFiles).iterator.flatten
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .flatMap(f =>
          if (f.isDirectory) walk(f, s"$rel${f.getName}/") else Iterator(rel + f.getName))
    walk(new java.io.File(logDir), "").filterNot(covered).take(n).size == n
  }

  /** The rows of a merged part and of the sink files `tail`, through the
    * log schema (the yyyymm layout column is not read). */
  private def readMerged(spark: SparkSession, schema: StructType, logDir: String,
                         base: java.net.URI, part: Option[String],
                         tail: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(
      part.map(mergeDir(logDir).resolve(_).toString).toSeq ++
        tail.map(f => new org.apache.hadoop.fs.Path(base.resolve(f)).toString): _*)

  /** Merge the log: write `latestByKey(merged part ∪ the sink files it
    * does not cover)` as a new part under `<logDir>/_merge`, then commit a
    * manifest naming that part and every file it covers
    * ([[graft.AtomicFile]]). The sink's files are never moved or
    * deleted, so [[runCopyJob]] and every plain read of the log read what
    * they read without merges. A part no manifest names (a crash before
    * the commit) is never read, and the next merge deletes it; a
    * superseded part is deleted only once a later merge commits, so a
    * FINAL read planned over it keeps its input. One merge at a time per
    * log: callers serialize merges as they serialize ingest. No-op when
    * every sink file is covered. */
  def mergeLog(spark: SparkSession, logDir: String): Unit = merge(spark, logDir, 1)

  /** [[mergeLog]] when at least `minTail` sink files are uncovered. */
  private def merge(spark: SparkSession, logDir: String, minTail: Int): Unit = {
    val prior = readMerge(logDir)
    val covered = prior.fold(Set.empty[String])(_.covered)
    if (!uncoveredAtLeast(logDir, covered, minTail)) return
    val schema = logSchema(spark)
    val base = logBase(spark, logDir)
    val tail = sinkFiles(spark, schema, logDir, base).filterNot(covered)
    if (tail.isEmpty) return
    val dir = mergeDir(logDir)
    val keep = Set("_MANIFEST") ++ prior.toSeq.flatMap(m => m.part +: m.previous.toSeq)
    Option(dir.toFile.listFiles).getOrElse(Array.empty[java.io.File])
      .filterNot(f => keep(f.getName)).foreach(graft.sources.Layout.deleteRec)
    val part = f"part-${prior.fold(0)(_.part.stripPrefix("part-").toInt) + 1}%05d"
    Dedup.latestByKey(readMerged(spark, schema, logDir, base, prior.map(_.part), tail),
        Seq("user_id"), version, payload)
      .select(schema.fieldNames.map(col): _*)
      .write.parquet(dir.resolve(part).toString)
    graft.AtomicFile.commit(mergeManifest(logDir),
      (Seq(s"version=$MergeVersion", s"part=$part") ++ prior.map(m => s"previous=${m.part}") ++
        (covered ++ tail).toSeq.sorted.map(f => s"covered=$f")).mkString("", "\n", "\n"))
    prior.flatMap(_.previous).foreach(p => graft.sources.Layout.deleteRec(dir.resolve(p).toFile))
  }

  /** S5/D3 — the scheduled copy job (users_batch_copy.pipe:8-70): read
    * the snapshot's high-watermark, collapse newer log events per key,
    * keep unsuperseded prior rows, append the new snapshot generation.
    * Each generation is stamped so readers take max(generation). */
  def runCopyJob(spark: SparkSession, logDir: String, snapDir: String): Unit = {
    val log = readDeclared(spark, logSchema(spark), logDir)
    val next = latestGeneration(spark, snapDir) match {
      case None =>
        Dedup.latestByKey(log, Seq("user_id"), version, payload)
          .withColumn("generation", lit(1L))
      case Some((prior, gen)) =>
        val wm = prior.agg(max(col("ts")).as("wm")).first()
          .getAs[java.time.LocalDateTime]("wm")
        // inclusive: a late event with ts == wm but a higher event_id
        // tie-break must still supersede the prior row
        Dedup.incrementalSnapshot(prior, log, Seq("user_id"), version, "ts",
            payload, lit(wm), inclusive = true)
          .withColumn("generation", lit(gen + 1))
    }
    next.write.mode("append").parquet(snapDir)
  }

  /** Read the current snapshot (latest generation); before the first
    * copy job — no snapshot dir, or one with no row — an empty frame
    * with the snapshot's columns. */
  def readSnapshot(spark: SparkSession, snapDir: String): DataFrame =
    latestGeneration(spark, snapDir).map(_._1)
      .getOrElse(readDeclared(spark, snapshotSchema(spark), snapDir).limit(0).drop("generation"))

  /** The snapshot's newest generation (rows without the `generation`
    * column) and its number; None while the snapshot has no row — the
    * copy job's bootstrap case. */
  private def latestGeneration(spark: SparkSession,
                               snapDir: String): Option[(DataFrame, Long)] = {
    val snap = readDeclared(spark, snapshotSchema(spark), snapDir)
    val genRow = snap.agg(max(col("generation"))).first()
    if (genRow.isNullAt(0)) None
    else Some((snap.filter(col("generation") === genRow.getLong(0))
      .drop("generation"), genRow.getLong(0)))
  }

  /** Run a [[Mergeable]] over the event stream into the partial log at
    * `dir`: each micro-batch's partial appends when it is
    * duplicate-idempotent, and otherwise overwrites `dir/batch=<id>`,
    * so a replayed batch id rewrites its own directory. */
  def startMergeableMv(spark: SparkSession, srcDir: String, dir: String,
                       checkpointDir: String, m: Mergeable): StreamingQuery =
    eachBatch(readEvents(spark, srcDir), checkpointDir) { (batch, batchId) =>
      if (m.duplicateIdempotent) m.partial(batch).write.mode("append").parquet(dir)
      else m.partial(batch).write.mode("overwrite").parquet(s"$dir/batch=$batchId")
    }

  /** The `-Merge` read over a [[Mergeable]]'s partial log (the
    * `batch=<id>` layout column is bookkeeping, not payload), read
    * through the partial's schema. */
  def mergedView(spark: SparkSession, dir: String, m: Mergeable): DataFrame =
    m.merge(readDeclared(spark, m.partialSchema(spark), dir).drop("batch"))

  /** At-least-once delivery dedup in the stream itself:
    * dropDuplicatesWithinWatermark keeps state only for the watermark
    * horizon, so redelivered events (Kafka consumer restarts, §2.9's
    * offset caveat) are dropped without unbounded state. Downstream
    * latest-state views are already duplicate-idempotent (DedupProps);
    * this bounds the LOG's growth too. */
  def dedupedStream(raw: DataFrame, watermarkMinutes: Int = 10): DataFrame =
    raw
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", s"$watermarkMinutes minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .drop("ts_ltz")

  /** Watermarked tumbling-window aggregation — the standard streaming
    * time-series op (the reference computes its buckets at query time
    * over storage, SURVEY §2.9; this is the in-stream variant for
    * pipelines that want the aggregate maintained incrementally). Append
    * mode emits a window only once its watermark passes — state is
    * bounded by (windows in flight × groups), not history. */
  def windowedCounts(raw: DataFrame, windowMinutes: Int = 5,
                     watermarkMinutes: Int = 10): DataFrame =
    raw
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", s"$watermarkMinutes minutes")
      .groupBy(window(col("ts_ltz"), s"$windowMinutes minutes"), col("event_type"))
      // integer cents, the file-wide money discipline: a raw double sum
      // depends on partial-aggregation order, so the same input replayed
      // across a restart could differ in the last ulp
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_cents"))
      .select(
        col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("total_cents"))

  /** Streaming gap-sessionization via the native `session_window`
    * aggregation — the in-stream counterpart of the oracled batch
    * sessionization (`CdcPipes.eventsSessionization`): per-user
    * sessions close after `gapMinutes` of inactivity and are emitted
    * exactly once when the watermark passes their end (Append mode).
    *
    * Boundary semantics: `session_window` merges two events when their
    * gap is STRICTLY less than the gap duration (window ends are
    * exclusive), while the batch operator keeps an exactly-equal gap in
    * the same session (`diff > gap` starts a new one). The two agree on
    * every dataset with no boundary-exact inter-event gap — measure-zero
    * for µs timestamps; StreamingSpec asserts the fixture has none
    * before comparing replay to batch.
    *
    * Scale: state is one (user, open-session) entry, evicted as the
    * watermark passes — bounded by concurrently-active users in the
    * gap horizon, not history. Session value sums integer cents
    * ([[graft.functions.ChFunctions.exactSum]]), so emitted rows are
    * bit-identical to the batch aggregate regardless of merge order. */
  def sessionizedStream(raw: DataFrame, gapMinutes: Int = 30,
                        watermarkMinutes: Int = 60): DataFrame =
    raw
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", s"$watermarkMinutes minutes")
      .groupBy(col("user_id"),
        session_window(col("ts_ltz"), s"$gapMinutes minutes"))
      // aggregate the ORIGINAL ntz ts, not ts_ltz: an ltz→ntz cast-back
      // would re-extract the wall clock through the session timezone and
      // diverge from the batch operator for clocks inside a DST gap on
      // any non-UTC deployment (the watermark column alone needs LTZ)
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.functions.ChFunctions.exactSum(col("value"), 2).as("session_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))

  case class LatestState(event_id: Long, ts: java.time.LocalDateTime,
                         event_type: String, value: Double)
  case class LatestRow(user_id: Long, event_id: Long,
                       ts: java.time.LocalDateTime,
                       event_type: String, value: Double)

  /** In-stream latest-per-key via flatMapGroupsWithState — the stateful
    * alternative to dedup-on-read. Emits the new latest row for a key
    * whenever it changes (Update mode). Late/out-of-order events are
    * handled by version-max comparison, same guarantee as the views. */
  def latestStateful(spark: SparkSession, raw: DataFrame): Dataset[LatestRow] = {
    import spark.implicits._
    raw.select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[LatestRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestState, LatestRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[LatestRow], state: GroupState[LatestState]) =>
          def moreRecent(ts: java.time.LocalDateTime, id: Long,
                         ts2: java.time.LocalDateTime, id2: Long): Boolean = {
            val c = ts.compareTo(ts2); c > 0 || (c == 0 && id > id2)
          }
          val newest = rows.reduceLeft((x, y) =>
            if (moreRecent(y.ts, y.event_id, x.ts, x.event_id)) y else x)
          val cur = state.getOption
          val newer = cur.forall(c =>
            moreRecent(newest.ts, newest.event_id, c.ts, c.event_id))
          if (newer) {
            state.update(LatestState(newest.event_id, newest.ts,
              newest.event_type, newest.value))
            Iterator(LatestRow(key, newest.event_id, newest.ts,
              newest.event_type, newest.value))
          } else Iterator.empty
      }
  }
}
