package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout
import graft.operators.Dedup

/** MergeTree-style layout: partition pruning must reach the plan, and
  * compaction must preserve FINAL-view semantics. */
class LayoutSpec extends SparkSpec {

  test("partitioned log: yyyymm predicate prunes partitions in the plan") {
    val path = tempDir("graftlayout") + "/log"
    val events = Tables.events(spark, sf)
    Layout.writeAppendLog(events, "ts", Seq("user_id", "ts"), path)
    val pruned = Layout.readLog(spark, path).filter(col("yyyymm") === 202401)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("yyyymm"), s"no partition pruning in plan:\n$plan")
    // pruned count equals logical filter on the original data
    val want = events.filter(date_format(col("ts"), "yyyyMM") === "202401").count()
    assert(pruned.count() == want)
  }

  test("bucketed tables: join and aggregation on the bucket key plan no exchange") {
    val base = tempDir("graftbucket")
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    spark.sql("DROP TABLE IF EXISTS users_bucketed")
    val e = Tables.events(spark, sf).select("event_id", "user_id", "value")
    Layout.writeBucketed(e, "user_id", 8, "events_bucketed", s"$base/events_b")
    val dim = e.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    Layout.writeBucketed(dim, "user_id", 8, "users_bucketed", s"$base/users_b")

    // co-located join: both sides bucketed by user_id × 8 — the merge
    // join consumes the bucket layout directly, no hash exchange of
    // either side (hint forces SMJ so a broadcast doesn't mask the
    // property being tested)
    val joined = spark.table("events_bucketed")
      .join(spark.table("users_bucketed").hint("merge"), "user_id")
    joined.collect() // finalize the AQE plan before inspecting it
    val jp = joined.queryExecution.executedPlan.toString
    assert(jp.contains("SortMergeJoin"), jp.take(1500))
    assert(!jp.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle either side:\n${jp.take(2000)}")

    // aggregation on the bucket key: single HashAggregate stage, the
    // scan's HashPartitioning already satisfies the distribution
    val agg = spark.table("events_bucketed")
      .groupBy("user_id").agg(sum(col("value")).as("v"))
    agg.collect()
    val ap = agg.queryExecution.executedPlan.toString
    assert(!ap.contains("Exchange hashpartitioning"),
      s"bucketed aggregation should not shuffle:\n${ap.take(2000)}")

    // and the result is still correct
    assert(spark.table("events_bucketed").count() == e.count())
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    spark.sql("DROP TABLE IF EXISTS users_bucketed")
  }

  test("compaction preserves FINAL-view semantics and shrinks the log") {
    val path = tempDir("graftcompact") + "/log"
    val events = Tables.events(spark, sf)
    Layout.writeAppendLog(events, "ts", Seq("user_id", "ts"), path)
    def finalView(p: String) =
      Dedup.latestByKey(Layout.readLog(spark, p).drop("yyyymm"),
          Seq("user_id"), struct(col("ts"), col("event_id")),
          Seq("event_id", "ts", "event_type", "value"))
        .select("user_id", "event_id").orderBy("user_id")
    val before = finalView(path).collect().toSeq
    val rowsBefore = Layout.readLog(spark, path).count()
    Layout.compact(spark, path, Seq("user_id"),
      struct(col("ts"), col("event_id")), "ts", Seq("user_id", "ts"))
    val after = finalView(path).collect().toSeq
    val rowsAfter = Layout.readLog(spark, path).count()
    assert(after == before)
    assert(rowsAfter < rowsBefore)
    assert(rowsAfter == before.size)
  }

  test("bloom filters land in the parquet footers for the requested column only") {
    val path = tempDir("graftbloom") + "/log"
    Layout.writeAppendLog(Tables.events(spark, sf), "ts", Seq("user_id", "ts"),
      path, mode = "overwrite", bloomNdv = Map("user_id" -> 1000L))
    // read a data file's footer with the bundled parquet-hadoop API:
    // the bloom offset is recorded per column chunk
    val file = {
      def find(f: java.io.File): Option[java.io.File] =
        if (f.isFile && f.getName.endsWith(".parquet")) Some(f)
        else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
          .flatMap(find).headOption
      find(new java.io.File(path)).get
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
        .map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(cols("user_id") >= 0, s"user_id must carry a bloom: $cols")
      assert(cols("event_type") < 0, "unlisted columns must not pay bloom bytes")
    } finally reader.close()
    // and the filtered read still answers correctly through the bloom
    val want = Tables.events(spark, sf)
      .filter(col("user_id") === 7).count()
    assert(Layout.readLog(spark, path)
      .filter(col("user_id") === 7).count() == want)
  }
}
