package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fixtures.CdcFixtures
import graft.streaming.{CdcStream, Mergeable}

/** Every table graft writes itself is read through a declared schema
  * (the `.datasource` SCHEMA block's role), so a read builds its
  * DataFrame without a footer-inference job. Two things pin that:
  *  - drift: each declaration equals the footer schema of what its
  *    writer writes (up to nullability, which Spark relaxes on read),
  *    so a writer change fails here, not in a query;
  *  - jobs: building the fixture endpoints and the FINAL view, over a
  *    whole log or a merged part and its tail, starts no Spark job once
  *    the tables exist. */
class DeclaredSchemaSpec extends SparkSpec {

  private def tmp(): String = tempDir("graftdecl")

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case o => o
  }

  /** The footer schema of the parquet under `dir`, inferred, without
    * the directory (partition) columns in `layout`. */
  private def footer(dir: String, layout: String*): DataType =
    nullable(StructType(spark.read.parquet(dir).schema
      .filterNot(f => layout.contains(f.name))))

  private def assertDeclared(what: String, declared: StructType, dir: String,
                             layout: String*): Unit = {
    val written = footer(dir, layout: _*)
    assert(nullable(declared) == written,
      s"$what: declared ${declared.simpleString}, written ${written.simpleString}")
  }

  /** A few hundred CDC events as one parquet source dir. */
  private lazy val eventsSrc: String = {
    val d = tmp() + "/src"
    Tables.events(spark, sf).filter(col("event_id") % 20 === 0)
      .select(CdcStream.eventSchema.fieldNames.map(col): _*)
      .coalesce(1).write.parquet(d)
    d
  }

  /** The MV log over [[eventsSrc]], plain and yyyymm-partitioned. */
  private lazy val (plainLog, partedLog) = {
    val plain = tmp() + "/log"; val parted = tmp() + "/log"
    CdcStream.startMv(spark, eventsSrc, plain, tmp() + "/ck").awaitTermination()
    CdcStream.startMv(spark, eventsSrc, parted, tmp() + "/ck", partitioned = true)
      .awaitTermination()
    (plain, parted)
  }

  private lazy val fixture: String = {
    val d = tmp()
    CdcFixtures.writeAll(spark,
      CdcFixtures.generate(seed = 3, userOps = 80, airportTicks = 60), d)
    graft.pipes.UsersPipes.usersBatchCopy(spark, d, s"$d/users_batch")
    d
  }

  test("each fixture table's declaration equals what its writer writes") {
    assert(CdcFixtures.schemas.keySet == Set("users_raw", "users_raw_mysql",
      "flights_raw", "passengers_raw", "baggage_raw", "users_batch"))
    // a second copy generation appends through the prior-rows branch
    graft.pipes.UsersPipes.usersBatchCopy(spark, fixture, s"$fixture/users_batch")
    for ((t, s) <- CdcFixtures.schemas)
      assertDeclared(t, s, s"$fixture/$t")
  }

  test("the MV log, plain and partitioned, and the copy snapshot match their declarations") {
    assertDeclared("log", CdcStream.logSchema(spark), plainLog)
    assertDeclared("partitioned log", CdcStream.logSchema(spark), partedLog, "yyyymm")
    val snap = tmp() + "/snap"
    CdcStream.runCopyJob(spark, plainLog, snap)
    CdcStream.runCopyJob(spark, plainLog, snap)
    assertDeclared("copy snapshot", CdcStream.snapshotSchema(spark), snap)
  }

  test("each Mergeable partial log matches the partial's analysed schema") {
    val all = Seq("kmv" -> Mergeable.kmv(), "cms" -> Mergeable.cms(),
      "profile" -> Mergeable.profile, "bloom" -> Mergeable.bloom(),
      "quantile" -> Mergeable.quantile(), "summing" -> Mergeable.summing,
      "userDayFeatures" -> Mergeable.userDayFeatures)
    for ((name, m) <- all) {
      val dir = tmp() + "/partials"
      CdcStream.startMergeableMv(spark, eventsSrc, dir, tmp() + "/ck", m)
        .awaitTermination()
      assertDeclared(name, m.partialSchema(spark), dir, "batch")
    }
  }

  /** Spark jobs started on this thread while `body` runs. A sentinel
    * job after it flushes the listener bus, which delivers in order. */
  private def jobsDuring(body: => Any): Int = {
    val key = "graft.spec.tag"
    val sc = spark.sparkContext
    val seen = new AtomicInteger()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => seen.incrementAndGet()
          case Some("flush") => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      try body finally sc.setLocalProperty(key, "flush")
      try spark.range(1).count() finally sc.setLocalProperty(key, null)
      assert(flushed.await(60, TimeUnit.SECONDS), "the listener bus never flushed")
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  test("building each fixture endpoint starts no Spark job") {
    SparkEntry.fixtureDir(spark)
    val refs = SparkEntry.queries.filter(_._1.startsWith("ref_"))
    assert(refs.size >= 12)
    for ((name, q) <- refs.toSeq.sortBy(_._1))
      assert(jobsDuring(q(spark, sf)) == 0, s"$name ran jobs while it was built")
  }

  test("building FINAL and a merged view starts no Spark job") {
    // the logs are lazy: write them before counting, so the test runs alone too
    val (plain, parted) = (plainLog, partedLog)
    assert(jobsDuring(CdcStream.finalView(spark, plain)) == 0)
    assert(jobsDuring(CdcStream.finalView(spark, parted)) == 0)
    val sums = tmp() + "/sums"
    CdcStream.startMergeableMv(spark, eventsSrc, sums, tmp() + "/ck", Mergeable.summing)
      .awaitTermination()
    assert(jobsDuring(CdcStream.mergedView(spark, sums, Mergeable.summing)) == 0)
    // the counter does count: an inferred read of the same log is a job
    assert(jobsDuring(spark.read.parquet(plainLog)) >= 1)
  }

  test("building FINAL over a merged log and its tail starts no Spark job") {
    for (partitioned <- Seq(false, true)) {
      val src = tmp(); val log = tmp() + "/log"; val ck = tmp() + "/ck"
      def ingest(i: Int): Unit = {
        Tables.events(spark, sf).filter(col("event_id") % 40 === i * 20)
          .select(CdcStream.eventSchema.fieldNames.map(col): _*)
          .coalesce(1).write.parquet(s"$src/c$i")
        CdcStream.startMv(spark, s"$src/c*", log, ck, partitioned).awaitTermination()
      }
      ingest(0)
      CdcStream.mergeLog(spark, log)
      ingest(1) // a file the merged part does not cover
      assert(new java.io.File(s"$log/_merge/_MANIFEST").isFile)
      assert(jobsDuring(CdcStream.finalView(spark, log)) == 0, s"partitioned=$partitioned")
    }
  }
}
