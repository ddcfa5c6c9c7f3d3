package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** THE test session factory — the single place the test config lives.
  * Every suite (SparkSpec trait) and every ScalaCheck Properties object
  * calls this; getOrCreate dedups to one session per forked test JVM,
  * and a config change (timezone, extensions, width) propagates
  * everywhere instead of silently drifting between copies. */
object TestSession {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the library's deployment posture: native functions + CH-dialect
      // parser active for every suite, so a dialect-detection false
      // positive on plain Spark SQL would surface anywhere, not just in
      // the translator tests
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    // Spark's INFO stream (every job, task, commit and codegen event)
    // is about 90 MB per tier-1 run, formatted here and re-read by sbt
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared local session for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.session

  val sf = "/root/testdata/sf0.001"

  /** A staged artifact set's manifest, and the one way specs inject
    * the state a crash or a stale build leaves behind: rewrite it. */
  def manifest(out: String): graft.operators.ArtifactManifest.Manifest =
    graft.operators.ArtifactManifest.read(out).get
  def tamperManifest(out: String)(
      f: graft.operators.ArtifactManifest.Manifest =>
        graft.operators.ArtifactManifest.Manifest): Unit =
    graft.operators.ArtifactManifest.commit(out, f(manifest(out)))
}
