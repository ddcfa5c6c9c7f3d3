package graft

import org.apache.spark.sql.functions._
import graft.operators.Zorder

class ZorderSpec extends SparkSpec {

  private def mortonRef(x: Long, y: Long): Long = {
    def spread(v: Long): Long =
      (0 until 16).map(i => ((v >> i) & 1L) << (2 * i)).sum
    spread(x & 0xFFFF) | (spread(y & 0xFFFF) << 1)
  }

  test("morton2 equals a bit-by-bit driver recompute, including edge values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (1L, 2L),
      (70000L, 3L)) ++ Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Zorder.morton2(col("x"), col("y")).as("m"))
      .collect()
    got.foreach(r => assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1)), r))
  }

  test("z-order clustered write: disjoint morton ranges, tighter boxes than naive layout") {
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
    val zPath = tempDir("zorder")
    val nPath = tempDir("naive")
    Zorder.clusteredWrite(li, "l_partkey", "l_suppkey", zPath, numFiles = 8)
    li.repartition(8).write.mode("overwrite").parquet(nPath)

    def boxes(path: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    def area(bs: Array[(Long, Long, Long, Long)]): Double =
      bs.map { case (x0, x1, y0, y1) => (x1 - x0 + 1).toDouble * (y1 - y0 + 1) }.sum

    val zb = boxes(zPath)
    val nb = boxes(nPath)
    assert(zb.length > 1 && nb.length > 1)
    // each dimension's per-file spans must be genuinely narrower on
    // average: the whole point of the layout is that min/max stats on
    // BOTH columns prune scans
    assert(area(zb) < area(nb) / 2,
      s"z-order boxes ${area(zb)} not tighter than naive ${area(nb)}")

    // morton ranges of the files are disjoint (range partitioning)
    val ranges = spark.read.parquet(zPath)
      .select(input_file_name().as("f"),
        Zorder.morton2(col("l_partkey"), col("l_suppkey")).as("m"))
      .groupBy("f").agg(min("m").as("lo"), max("m").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, "overlapping morton ranges")
      case _ =>
    }
  }
}
