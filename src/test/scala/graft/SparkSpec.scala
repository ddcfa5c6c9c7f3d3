package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
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
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.session

  val sf = TestSession.sf

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A new dir under `java.io.tmpdir`, deleted when the suite ends with
    * what graft writes beside it: the `<dir>.lock` an artifact build
    * takes, and the staged artifact set that routing registered queries
    * over it as a data dir stages ([[SparkEntry.dedupArtifactsDir]]). */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      val art = SparkEntry.dedupArtifactsDir(d)
      Seq(d, s"$d.lock", art, s"$art.lock").foreach(p =>
        graft.sources.Layout.deleteRec(new java.io.File(p)))
    } finally super.afterAll()

  /** A staged artifact set's manifest, and the one way specs inject
    * the state a crash or a stale build leaves behind: rewrite it. */
  def manifest(out: String): graft.operators.ArtifactManifest.Manifest =
    graft.operators.ArtifactManifest.read(out).get
  def tamperManifest(out: String)(
      f: graft.operators.ArtifactManifest.Manifest =>
        graft.operators.ArtifactManifest.Manifest): Unit =
    graft.operators.ArtifactManifest.commit(out, f(manifest(out)))
}
