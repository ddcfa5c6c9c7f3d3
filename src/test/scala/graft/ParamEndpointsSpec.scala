package graft

import graft.sources.ParamEndpoints

/** §2.10 parameterized endpoints over the dedup/ANN surface: string
  * params in (the HTTP query-param shape), typed thresholds out,
  * defaults when absent, fail-fast on typos. */
class ParamEndpointsSpec extends SparkSpec {

  private def fetch(name: String, params: Map[String, String]) =
    ParamEndpoints.pipes(spark, sf)(name).run(params)

  test("empty params reproduce the registered endpoint exactly") {
    val viaParams = fetch("docs_near_dup_pairs", Map.empty).collect()
    val registered = SparkEntry.queries("docs_near_dup_pairs")(spark, sf).collect()
    assert(viaParams.toSeq == registered.toSeq)
  }

  test("min_jaccard tightens the pair set monotonically") {
    val loose = fetch("docs_near_dup_pairs", Map("min_jaccard" -> "0.5"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tight = fetch("docs_near_dup_pairs", Map("min_jaccard" -> "0.8"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tight.subsetOf(loose), "raising the threshold must only drop pairs")
    assert(tight == loose.filter(_._3 >= 0.8),
      "the tightened set is exactly the loose set re-thresholded")
  }

  test("knn k param bounds the per-query neighbor count") {
    val rows = fetch("emb_knn_ivf", Map("k" -> "2", "n_queries" -> "5"))
      .groupBy("query_id").count().collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(1) <= 2))
  }

  test("DateTime params bound the events window like the reference template") {
    val all = fetch("events_in_window", Map.empty).collect()
    assert(all.nonEmpty)
    // pin [start, end] to exactly the default window's first day: the
    // result must be that single day's row
    val firstDay = all.head.getAs[java.time.LocalDateTime]("day")
    val start = firstDay.toLocalDate.toString + " 00:00:00"
    val end = firstDay.toLocalDate.toString + " 23:59:59"
    val one = fetch("events_in_window", Map("start" -> start, "end" -> end)).collect()
    assert(one.length == 1 && one.head.getAs[java.time.LocalDateTime]("day") == firstDay)
    intercept[IllegalArgumentException] {
      fetch("events_in_window", Map("start" -> "not-a-time"))
    }
  }

  test("unknown and malformed params fail fast, not silently") {
    intercept[IllegalArgumentException] {
      fetch("docs_near_dup_pairs", Map("min_jacard" -> "0.6"))
    }
    intercept[IllegalArgumentException] {
      fetch("docs_near_dup_pairs", Map("min_jaccard" -> "high"))
    }
  }

  test("asof param: default matches the registered features; a pinned snapshot is point-in-time") {
    val default = fetch("user_window_features", Map.empty)
      .collect().map(_.toString).toSeq
    val registered = pipes.CdcPipes.userWindowFeatures(spark, sf)
      .collect().map(_.toString).toSeq
    assert(default == registered)
    // pin the snapshot to the corpus midpoint: no served last_ts may
    // exceed it (training-label alignment), and some user must have
    // post-snapshot events that are now invisible
    val ts = Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts")).collect().head
    val (lo, hi) = (ts.getAs[java.time.LocalDateTime](0),
      ts.getAs[java.time.LocalDateTime](1))
    val mid = lo.plusSeconds(java.time.Duration.between(lo, hi).getSeconds / 2)
    val pinned = fetch("user_window_features",
      Map("asof" -> (mid.toLocalDate.toString + " 00:00:00"))).collect()
    assert(pinned.nonEmpty)
    val cut = java.time.LocalDateTime.parse(mid.toLocalDate.toString + "T00:00:00")
    assert(pinned.forall(r => !r.getAs[java.time.LocalDateTime]("last_ts").isAfter(cut)))
    assert(pinned.length < registered.length ||
      pinned.map(_.toString).toSeq != registered,
      "a midpoint snapshot must not serve the full-corpus features")
    intercept[IllegalArgumentException] {
      fetch("user_window_features", Map("asof" -> "not-a-time"))
    }
  }

  test("BM25 q/k params: k caps rows, q retunes the match set, blank q rejected") {
    val top3 = fetch("docs_bm25_search", Map("q" -> "vector", "k" -> "3")).collect()
    assert(top3.length <= 3 && top3.nonEmpty)
    val other = fetch("docs_bm25_search", Map("q" -> "customer table", "k" -> "3")).collect()
    assert(other.nonEmpty)
    intercept[IllegalArgumentException] {
      fetch("docs_bm25_search", Map("q" -> "  "))
    }
    intercept[IllegalArgumentException] {
      fetch("docs_bm25_search", Map("kk" -> "3"))
    }
  }
}
