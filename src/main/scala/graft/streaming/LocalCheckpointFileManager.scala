package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.Files
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of graft's MV streams: every offset,
  * source, sink (`_spark_metadata`) and commit log file is committed
  * with java.nio, inside the JVM.
  *
  * Spark's default manager writes through Hadoop `FileContext`. Without
  * Hadoop's native library, its local file system runs a `chmod`
  * process for every file it creates and a `readlink` process for each
  * side of every rename (again for the `.crc` sidecar): about 20
  * process starts, some 140 ms, per ingest cycle of four log writes.
  *
  * On Hadoop's local file system a log file is committed the way
  * [[graft.operators.ArtifactManifest]] commits: a temp file in the
  * target's directory, forced to disk (Spark's default does not force),
  * then published in one atomic step:
  *  - a first write (`overwriteIfPossible = false`) hard-links the temp
  *    file to the target, so an existing target is never replaced and
  *    raises Hadoop's `FileAlreadyExistsException`, which is how
  *    `HDFSMetadataLog` sees a batch id that is already committed;
  *  - an overwrite renames the temp file over the target, and first
  *    deletes the target's stale `.<name>.crc`, which Hadoop's checksum
  *    file system would otherwise check the new bytes against (a
  *    checkpoint started under Spark's default manager has one per
  *    file).
  * A log directory is made with java.nio too, since Hadoop would run a
  * `chmod` for each new one (the process umask sets its mode). Reads,
  * listings, `exists` and `delete` go through Hadoop `FileSystem`, as
  * in Spark's `FileSystemBasedCheckpointFileManager`.
  *
  * Any other file system keeps the manager Spark would have chosen.
  * Spark picks this class through [[Key]] on the stream's session. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val fm: CheckpointFileManager = path.getFileSystem(hadoopConf) match {
    case local: LocalFileSystem => new NioCommits(path, hadoopConf, local)
    case _ =>
      val conf = new Configuration(hadoopConf)
      conf.unset(Key)
      CheckpointFileManager.create(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {
  /** The session conf Spark reads its checkpoint file manager class from. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  /** Spark's rename-based `createAtomic` over java.nio temp files and
    * links on `local`, a checkpoint on Hadoop's local file system. */
  private final class NioCommits(path: Path, hadoopConf: Configuration, local: LocalFileSystem)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

    override def mkdirs(p: Path): Unit = Files.createDirectories(local.pathToFile(p).toPath)

    override def createTempFile(p: Path): FSDataOutputStream = {
      mkdirs(p.getParent)
      val file = new FileOutputStream(local.pathToFile(p))
      val forced = new OutputStream {
        override def write(b: Int): Unit = file.write(b)
        override def write(b: Array[Byte], off: Int, len: Int): Unit = file.write(b, off, len)
        override def close(): Unit = try file.getChannel.force(true) finally file.close()
      }
      new FSDataOutputStream(new BufferedOutputStream(forced), null)
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      val (tmp, target) = (local.pathToFile(src).toPath, local.pathToFile(dst).toPath)
      if (overwriteIfPossible) {
        Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
        Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
      } else try Files.createLink(target, tmp) catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dst already exists")
      } finally Files.delete(tmp)
    }
  }
}
