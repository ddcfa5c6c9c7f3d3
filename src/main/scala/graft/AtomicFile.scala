package graft

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}

/** The commit of a small state file (the dedup `_MANIFEST`, the CDC
  * log's merge manifest): write `<name>.tmp` beside the target, force it
  * to disk, rename it over the target. A crash therefore leaves the old
  * file or the new one, never a mix, and readers never look at the
  * `.tmp` file. */
object AtomicFile {
  def commit(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.createDirectories(tmp.getParent)
    val ch = FileChannel.open(tmp, CREATE, WRITE, TRUNCATE_EXISTING)
    try {
      val buf = ByteBuffer.wrap(text.getBytes(UTF_8))
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
  }
}
