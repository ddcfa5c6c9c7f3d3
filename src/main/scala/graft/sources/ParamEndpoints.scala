package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Search, TextDedup, VectorOps}

/** §2.10 for the LLM-operator surface: the reference's typed template
  * parameters (`{{Float32(min_jaccard, 0.5)}}`, `{% if defined(p) %}` —
  * flights_missed_pct_minute.pipe:22,31-32) re-expressed as a
  * string-keyed param map over the dedup/ANN endpoints — the engine
  * half of `GET /v0/pipes/{name}.json?min_jaccard=0.6`. Strings in,
  * typed values out, defaults when absent — an HTTP layer passes its
  * query params through verbatim, no recompile to retune a threshold.
  *
  * Each pipe declares its params: [[ApiServer.Pipe.run]] rejects any
  * other key (the reference's API 400s on them rather than silently
  * ignoring a typo'd `min_jacard`), and the parsers below reject
  * unparseable values — a fat-fingered dashboard query must not
  * degrade into the default-threshold answer. With no params each
  * pipe builds exactly its `SparkEntry.queries` entry. */
object ParamEndpoints {

  /** The parameterized pipes over data dir `dir`, by name. */
  def pipes(spark: SparkSession, dir: String): Map[String, ApiServer.Pipe] = {
    val art = graft.SparkEntry.dedupArtifactsDir(dir)
    def pipe(params: String*)(build: Map[String, String] => DataFrame) =
      ApiServer.Pipe(params.toSet, clientShaped = true, build)
    Map(
      // text near-dup pairs; `min_jaccard` (default 0.5). Served from
      // the staged pair graph when it is current for that threshold
      "docs_near_dup_pairs" -> pipe("min_jaccard")(p =>
        TextDedup.nearDupPairsAuto(spark, dir, art, double(p, "min_jaccard", 0.5))),
      // MinHash+LSH near-dup pairs; `min_jaccard` (default 0.5). Routes
      // through the staged band/shingle index when the param-free
      // artifact segment is current (min_jaccard is a read-time
      // verification threshold — any value routes)
      "docs_minhash_lsh_pairs" -> pipe("min_jaccard")(p =>
        TextDedup.minhashLshPairsAuto(spark, dir, art, double(p, "min_jaccard", 0.5))),
      // embedding near-dup pairs; `min_cosine` (default 0.4) and
      // `nprobe` (default 3). Routes through the staged probe layout
      // when the artifact is current and the geometry is the staged
      // default (min_cosine is a post-filter — any value routes; a
      // non-default nprobe computes self-contained)
      "emb_near_dup_pairs" -> pipe("min_cosine", "nprobe")(p =>
        VectorOps.nearDupPairsAuto(spark, dir, art,
          double(p, "min_cosine", 0.4), nprobe = int(p, "nprobe", 3))),
      // IVF k-NN; `n_queries` / `k` / `nprobe` with the registered
      // endpoint's defaults
      "emb_knn_ivf" -> pipe("n_queries", "k", "nprobe")(p =>
        VectorOps.knnIvf(spark, dir, nQueries = int(p, "n_queries", 20),
          k = int(p, "k", 5), nprobe = int(p, "nprobe", 3))),
      // BM25 keyword search; `q` (`{{String(q, …)}}` — whitespace-
      // tokenized query) and `k` result count
      "docs_bm25_search" -> pipe("q", "k")(p =>
        Search.bm25Search(spark, dir, query(p), int(p, "k", 10))),
      // two-stage retrieval: `q` free text, `k_candidates` recall-stage
      // width, `k` served depth
      "docs_bm25_rerank" -> pipe("q", "k_candidates", "k")(p =>
        Search.bm25Rerank(spark, dir, query(p),
          kCandidates = int(p, "k_candidates", 50), k = int(p, "k", 10))),
      // events in a time window; `start` / `end` as `DateTime` params,
      // both optional with the pipe's anchored defaults — the literal
      // reference pattern (flights_missed_pct_minute.pipe:22,31-32)
      "events_in_window" -> pipe("start", "end")(p =>
        graft.pipes.CdcPipes.eventsInWindow(spark, dir,
          start = timestamp(p, "start"), end = timestamp(p, "end"))),
      // point-in-time feature serving: `asof` pins the snapshot instant
      // (training-label alignment — features must not see events after
      // the label's timestamp); absent anchors to the corpus max
      "user_window_features" -> pipe("asof")(p =>
        graft.pipes.CdcPipes.userWindowFeatures(spark, dir,
          asOf = timestamp(p, "asof"))),
      // the reference's own parameterized pipe with its template
      // contract: `start` / `end` bound the per-minute aggregation,
      // defaults anchor to the pipe's now()-1h window. Runs on the
      // generated CDC fixture log like every ref_* pipe (`dir` is
      // ignored by convention)
      "ref_flights_missed_pct_minute" -> pipe("start", "end")(p =>
        graft.pipes.AirportPipes.flightsMissedPctMinute(spark,
          graft.SparkEntry.fixtureDir(spark),
          start = timestamp(p, "start"), end = timestamp(p, "end"))))
  }

  /** `{{DateTime(key)}}` — absent means the endpoint's default.
    * Parsed as LocalDateTime (naive wall clock), never through
    * java.sql.Timestamp: Timestamp.valueOf interprets the string in
    * the driver JVM's default timezone, silently shifting the window
    * by the TZ offset on any non-UTC deployment. */
  private[sources] def timestamp(params: Map[String, String],
                                 key: String): Option[java.time.LocalDateTime] =
    params.get(key).map { v =>
      try java.time.LocalDateTime.parse(v.replace(' ', 'T'))
      catch { case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"param $key: not a timestamp (want yyyy-MM-dd HH:mm:ss): $v") }
    }

  /** `{{Float32(key, default)}}`. */
  private def double(params: Map[String, String], key: String,
                     default: Double): Double =
    params.get(key).map { v =>
      try v.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"param $key: not a number: $v") }
    }.getOrElse(default)

  /** `{{Int32(key, default)}}`. */
  private def int(params: Map[String, String], key: String,
                  default: Int): Int =
    params.get(key).map { v =>
      try v.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"param $key: not an integer: $v") }
    }.getOrElse(default)

  /** A search pipe's `q`; an empty or blank query fails fast like any
    * unparseable param. */
  private def query(params: Map[String, String]): String = {
    val q = params.getOrElse("q", Search.DefaultQuery)
    require(q.trim.nonEmpty, "param q: empty query")
    q
  }
}
