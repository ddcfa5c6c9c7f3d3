package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** The state of one staged dedup-artifact set
  * ([[TextDedup.writeDedupArtifacts]]), kept in ONE versioned file
  * `out/_MANIFEST` and changed only by [[commit]] through
  * [[graft.AtomicFile]]: write `_MANIFEST.tmp`, force it to disk,
  * rename it over `_MANIFEST`. A crash therefore
  * leaves manifest N or manifest N+1, never a mix — the offset-log
  * discipline of Structured Streaming's exactly-once sinks. Readers
  * never look at the `.tmp` file.
  *
  * The format is plain `key=value` lines (one `input=` line per input
  * file), so no JSON library is involved; `last_update` holds the last
  * [[DedupMaintenance.update]] outcome, a JSON object stored verbatim.
  * A file of another [[Version]], or one that does not parse, reads as
  * absent, and an absent manifest means a full rebuild. */
object ArtifactManifest {
  val Version = 6

  /** One input data file, dir-relative (see [[TextDedup.inputFiles]]). */
  final case class InputFile(rel: String, size: Long, mtime: Long)

  /** @param spans      the span constants the span surfaces were built under
    * @param stages     stages whose parquet has landed for these inputs;
    *                   the set is [[complete]] once every stage has
    * @param gen        merge-on-read generation: 0 after a full build or
    *                   compaction, bumped by each increment
    * @param tombstonesClean the tombstones table is known EMPTY, so
    *                   readers skip the emptiness probe
    * @param pending    an increment or compaction is in flight; staged
    *                   tables may hold a partial write */
  final case class Manifest(
      minJaccard: Double, maxDf: Int, spans: String,
      inputs: Seq[InputFile], stages: Set[String],
      gen: Int, tombstonesClean: Boolean, pending: Boolean,
      lastUpdate: Option[String]) {
    def params: (Double, Int) = (minJaccard, maxDf)
    /** Every surface of [[TextDedup.artifactSurfaces]] landed: the set may serve. */
    def complete: Boolean = TextDedup.artifactSurfaces.forall(s => stages(s.name))
  }

  private def path(out: String): Path = Paths.get(out, "_MANIFEST")

  def read(out: String): Option[Manifest] = {
    val p = path(out)
    if (!Files.exists(p)) return None
    val kv = new String(Files.readAllBytes(p), UTF_8).linesIterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toSeq
    val one = kv.toMap
    def opt(k: String) = one.get(k).filter(_.nonEmpty)
    if (!one.get("version").contains(Version.toString)) None
    else scala.util.Try(Manifest(
      one("min_jaccard").toDouble, one("max_df").toInt, one("spans"),
      kv.collect { case ("input", v) =>
        val Array(size, mtime, rel) = v.split("\t", 3)
        InputFile(rel, size.toLong, mtime.toLong)
      },
      opt("stages").fold(Set.empty[String])(_.split(",").toSet),
      one("generation").toInt, one("tombstones_clean").toBoolean,
      one("pending").toBoolean, opt("last_update"))).toOption
  }

  def commit(out: String, m: Manifest): Unit = {
    val text =
      (Seq(s"version=$Version", s"min_jaccard=${m.minJaccard}",
        s"max_df=${m.maxDf}", s"spans=${m.spans}",
        s"stages=${m.stages.toSeq.sorted.mkString(",")}",
        s"generation=${m.gen}", s"tombstones_clean=${m.tombstonesClean}",
        s"pending=${m.pending}",
        s"last_update=${m.lastUpdate.getOrElse("")}") ++
        m.inputs.map(f => s"input=${f.size}\t${f.mtime}\t${f.rel}"))
        .mkString("", "\n", "\n")
    graft.AtomicFile.commit(path(out), text)
  }

  /** Read-modify-commit of an existing manifest. */
  def amend(out: String)(f: Manifest => Manifest): Unit =
    read(out).foreach(m => commit(out, f(m)))
}
