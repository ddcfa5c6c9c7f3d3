package graft

import java.io.File
import java.nio.file.Files

/** The reference kit files the suites read: reconstructions of the
  * reference's `.datasource` and `.pipe` files, vendored under
  * `src/test/resources/kits` (its README lists what each file was
  * rebuilt from and what is guessed). Resolved from the test
  * classpath, so the forked test JVMs' working directory does not
  * matter. */
object Kits {

  lazy val root: File = {
    val url = getClass.getResource("/kits")
    require(url != null, "kits/ is not on the test classpath (src/test/resources/kits)")
    new File(url.toURI)
  }

  /** A kit file by its kit-relative path, e.g.
    * `users/pg/datasources/users_raw.datasource`. */
  def file(rel: String): File = new File(root, rel)

  def text(rel: String): String =
    new String(Files.readAllBytes(file(rel).toPath), "UTF-8")
}
