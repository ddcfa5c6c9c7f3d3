package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** THE test session factory — the single place the test session is
  * made. Every suite (SparkSpec trait) and every ScalaCheck Properties
  * object calls this; getOrCreate dedups to one session per forked test
  * JVM. It is the mains' own [[graft.Session]], so the suites run under
  * the library's deployment posture: native functions + CH-dialect
  * parser active for every suite, so a dialect-detection false positive
  * on plain Spark SQL would surface anywhere, not just in the
  * translator tests. */
object TestSession {
  /** The testdata scale every suite reads. */
  val sf = "/root/testdata/sf0.001"
  lazy val session: SparkSession = graft.Session(sf)
}

/** Shared local session for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.session

  val sf = TestSession.sf

  /** A staged artifact set's manifest, and the one way specs inject
    * the state a crash or a stale build leaves behind: rewrite it. */
  def manifest(out: String): graft.operators.ArtifactManifest.Manifest =
    graft.operators.ArtifactManifest.read(out).get
  def tamperManifest(out: String)(
      f: graft.operators.ArtifactManifest.Manifest =>
        graft.operators.ArtifactManifest.Manifest): Unit =
    graft.operators.ArtifactManifest.commit(out, f(manifest(out)))
}
