package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Salting is a plan rewrite: results must equal the unsalted operator
  * exactly, including on a pathologically skewed key. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val skewed = {
    // one hot key (90%), long tail
    val hot = (1 to 9000).map(i => ("hot", s"v${i % 500}"))
    val tail = (1 to 1000).map(i => (s"k${i % 20}", s"v$i"))
    (hot ++ tail).toDF("k", "v")
  }

  test("saltedCountDistinct equals plain countDistinct on skewed keys") {
    val plain = skewed.groupBy("k").agg(countDistinct($"v").as("d"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    val salted = Skew.saltedCountDistinct(skewed, Seq(col("k")), col("v"), 8, "d")
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(salted == plain)
  }

  test("saltedJoin equals plain join on a skewed fact side") {
    val dim = Seq(("hot", 1), ("k1", 2), ("k5", 3)).toDF("k", "attr")
    val fact = skewed.withColumn("row_id", monotonically_increasing_id())
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum("attr").as("s"))
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    val salted = Skew.saltedJoin(fact, dim, "k", col("row_id"), 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("attr").as("s"))
      .orderBy("k").as[(String, Long, Long)].collect().toSeq
    assert(salted == plain)
  }

  test("AQE splits the skewed join partition at runtime (the non-salted path)") {
    // the complement of saltedJoin: when neither side is replicable,
    // the engine's answer to a hot key is AQE's runtime skew split.
    // Thresholds are scaled down so the tiny test shuffle triggers the
    // same machinery a 100 TB hot key would.
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = (1 to 50000).map(i => ("hot", i)) ++
        (1 to 2000).map(i => (s"k${i % 40}", i))
      val dim = ("hot" +: (0 until 40).map(i => s"k$i")).map(k => (k, k.length))
      val joined = fact.toDF("k", "n").join(dim.toDF("k", "attr"), Seq("k"))
      // collect THIS frame (count() would plan separately and leave this
      // AQE plan unfinalized)
      assert(joined.collect().length == 52000) // every fact row matches one dim row
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vector_dot is callable from SQL after registration") {
    val r = spark.sql(
      "SELECT vector_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d")
      .first().getDouble(0)
    assert(r == 11.0)
  }
}
