package graft

import graft.operators.VectorOps

/** The persisted IVF layout and its partition-pruned search: storage
  * partitioned by list_id, probe pruning executed by the scan itself
  * (dynamic partition pruning), results identical to the on-the-fly
  * IVF search. */
class IvfLayoutSpec extends SparkSpec {

  private lazy val layout: String = {
    val d = tempDir("graftivf")
    VectorOps.writeIvfLayout(spark, sf, d)
    d
  }

  test("layout is partitioned by list_id with every vector exactly once") {
    val dirs = new java.io.File(layout).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("list_id=")), dirs.mkString(","))
    assert(dirs.length > 1, "expected multiple list partitions")
    val stored = spark.read.parquet(layout)
    val n = Tables.embeddings(spark, sf).count()
    assert(stored.count() == n)
    assert(stored.select("vec_id").distinct().count() == n)
  }

  test("layout search == on-the-fly IVF search, row for row") {
    val viaLayout = VectorOps.knnIvfOverLayout(spark, layout, sf)
      .collect().map(_.toSeq).toSeq
    val onTheFly = VectorOps.knnIvf(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaLayout == onTheFly)
  }

  test("probe pruning reaches the scan as a dynamic partition filter") {
    val df = VectorOps.knnIvfOverLayout(spark, layout, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"the probed list_ids must prune the layout scan at runtime:\n${p.take(3000)}")
  }
}
