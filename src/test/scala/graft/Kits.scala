package graft

import java.io.File

/** The reference kit files the suites read: reconstructions of the
  * reference's `.datasource` and `.pipe` files, vendored under
  * `src/test/resources/kits` (its README lists what each file was
  * rebuilt from and what is guessed). Resolved from the test
  * classpath, so the forked test JVMs' working directory does not
  * matter. [[root]] and [[file]] need the resources as a plain
  * directory (the suites that list it); [[text]] does not. */
object Kits {

  lazy val root: File = {
    val url = getClass.getResource("/kits")
    require(url != null, "kits/ is not on the test classpath (src/test/resources/kits)")
    new File(url.toURI)
  }

  /** A kit file by its kit-relative path, e.g.
    * `users/pg/datasources/users_raw.datasource`. */
  def file(rel: String): File = new File(root, rel)

  /** A kit file's text, read as a classpath resource, so it resolves
    * from a jar as well as from a directory. */
  def text(rel: String): String = {
    val in = getClass.getResourceAsStream(s"/kits/$rel")
    require(in != null, s"kits/$rel is not on the test classpath")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
