package graft
import org.apache.spark.sql.SparkSession
/** Timing sweep of the query registry over `SPARK_GRAFT_SF_DIR`:
  * `runMain graft.Bench [<query>...]`. With no arguments it times every
  * registered query; query names restrict the sweep to those queries,
  * for iterating on one query's cost. */
object Bench {
  /** GC quiesce run BEFORE each timed query (outside the measured
    * window) so a heavy neighbor's allocation debt cannot land in the
    * next query's figure. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(50) }

  def main(args: Array[String]): Unit = {
    RunLock.acquireOrDie("Bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSet
    // an unknown name must abort, not time a NoSuchElementException as
    // a 0.00 s no-op (the round-6 silent-failure lesson)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session(sfDir)
    // warmup: pay one-time session/codegen/scan-setup and CDC-fixture
    // generation costs outside the measured window so the first measured
    // query isn't skewed
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try SparkEntry.queries("ref_latest_flight_info")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Noise discipline (round 6): single cold runs made three rounds of
    // bench deltas ambiguous (neighbor noise / JIT warmup read as
    // regressions). Any query whose cold run costs >= 1 s is re-run once
    // and reports min(cold, warm) — the steady-state figure a cluster
    // would see; sub-second queries keep their cold figure (re-running
    // them doubles the sweep for numbers that are overhead-dominated
    // anyway). Cold times are preserved alongside in the full output
    // file. NOTE: totals are therefore not comparable to rounds <= 5,
    // which summed single cold runs.
    // A query that THROWS must never masquerade as a fast result (round 6:
    // 34 broken queries landed as 0.07 s "timings" inside a healthy-looking
    // total). time() reports the error; errored queries are excluded from
    // n_queries/total/queries and surfaced in an "errors" array instead.
    // GC quiesce before every timed run (round-8 lesson): a heavy
    // neighbor's allocation debt lands in the NEXT query's window and
    // swung repeat sweeps up to 4.6× on 2-4 s queries, forcing manual
    // isolated-rerun adjudication. Collecting BEFORE t0 charges each
    // query only its own allocations; the System.gc() itself runs
    // outside the measured window, so per-query figures are comparable
    // across sweeps without inflating any of them.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      Bench.quiesce()
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // SEGMENTED sweeps (SPARK_GRAFT_BENCH_SEGMENT="i/k", 1-based): run
    // the i-th contiguous alphabetical slice of the registry in its own
    // JVM. Big-SF full gates are bounded by SESSION-ACCUMULATED shuffle
    // spill, not by any single query (the round-11 sf100 sweep died at
    // 84% disk on spill that no one query needed) — k segments, each
    // with session recycle + scratch cleanup between, keep peak disk at
    // the worst SEGMENT's footprint. Each segment emits the normal JSON
    // (own errors); totals merge by addition.
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names(n) }
    val segment = sys.env.get("SPARK_GRAFT_BENCH_SEGMENT")
    val picked = segment match {
      case Some(s) =>
        val Array(i, k) = s.split("/").map(_.trim.toInt)
        require(k > 0 && i >= 1 && i <= k, s"bad segment spec: $s")
        val per = math.ceil(allQueries.size.toDouble / k).toInt
        allQueries.slice((i - 1) * per, math.min(i * per, allQueries.size))
      case None => allQueries
    }
    val timed = picked.map { case (name, fn) =>
      val (cold, err) = time(fn)
      val best =
        if (err.isDefined) cold
        else if (cold >= 1.0) math.min(cold, time(fn)._1)
        else cold
      // per-query progress to stderr: a long sweep (sf100 ≈ hours) must
      // be observable AND salvageable mid-run — the JSON artifacts only
      // land at the end
      System.err.println(f"[bench] $name cold=$cold%.2f best=$best%.2f" +
        err.map(e => s" ERR=$e").getOrElse(""))
      (name, cold, best, err)
    }
    val errors = timed.collect { case (n, _, _, Some(msg)) =>
      System.err.println(s"[bench] ERROR $n: $msg"); n -> msg
    }
    val colds = timed.collect { case (n, c, _, None) => n -> c }.toMap
    val results = timed.collect { case (n, _, b, None) => n -> b }.toMap
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The driver tail-captures only ~3 KB of stdout and sbt appends a
    // [success] trailer, so the printed line must stay well under that:
    // at 100 queries the full map is ~2.8 KB and arrived FRONT-truncated
    // three rounds running (BENCH_r01..r03 parsed:null). Print a compact
    // line — total + the 20 slowest queries — and write the complete
    // per-query map to a file for anyone who wants the rest.
    val slowest = results.toSeq.sortBy(-_._2).take(20).sortBy(_._1)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // stdout line carries error NAMES only (space budget); the full file
    // carries name → message so a crash is diagnosable from the artifact
    val errNames = errors.map { case (n, _) => jstr(n) }.mkString("[", ",", "]")
    val errFull = errors.map { case (n, m) => s"${jstr(n)}:${jstr(m)}" }.mkString("{", ",", "}")
    // the git SHA the sweep runner stamped (tools/segmented_bench.sh):
    // a merged sf100 artifact can then prove each segment ran the
    // committed code — stale-sweep rows shipped in r12 AND r13
    val shaField = sys.env.get("SPARK_GRAFT_BENCH_SHA")
      .map(s => s""""sha":${jstr(s)},""").getOrElse("")
    val segField = segment.map(s => s""""segment":${jstr(s)},""").getOrElse("") +
      shaField
    val line = s"""{"metric":"total","value":${f2(total)},"unit":"sec",$segField"n_queries":${results.size},"n_errors":${errors.size},"errors":$errNames,"queries":${toJson(slowest)},"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":${f2(total)},"unit":"sec",$segField"n_queries":${results.size},"n_errors":${errors.size},"errors":$errNames,"error_messages":$errFull,"queries":${toJson(results.toSeq.sortBy(_._1))},"cold":${toJson(colds.toSeq.sortBy(_._1))},"sf":"$sfDir"}"""
    println(line)
    System.out.flush()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    spark.stop()
  }
}
