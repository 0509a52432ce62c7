package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{Files, NoSuchFileException, Path => JPath, StandardCopyOption,
  StandardOpenOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem,
  FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint writer for local paths: offset, commit,
  * source and sink logs, the query `metadata` file and state-store files.
  *
  * Spark's default manager writes through Hadoop's `FileContext`. Without
  * the native Hadoop library, the local `FileContext` runs `chmod` for each
  * temp file and its `.crc`, and `readlink` several times per rename, each
  * as a child process: about ten `fork`/`exec` calls per log file, 30-45 ms
  * of every trigger's log write on a local disk. This manager writes the
  * same files with java.nio and starts no process.
  *
  * A `file:` path (or a scheme-less one on a local default filesystem) is
  * served here; any other scheme goes to the manager Spark would pick with
  * the conf key unset, unchanged.
  *
  * Local writes go to `.<name>.<uuid>.tmp` in the target's directory, then:
  *  - with `overwriteIfPossible = false`, `link(2)` publishes the file and
  *    fails atomically if the target exists; that failure is Hadoop's
  *    `FileAlreadyExistsException`, which `HDFSMetadataLog` reports as a
  *    second query writing the same log;
  *  - with `overwriteIfPossible = true`, an atomic rename replaces it.
  *
  * Either way a stale `.<name>.crc` beside the target is removed, so a
  * checksumming reader never pairs the new bytes with an old checksum.
  * Reads, listings, existence checks and deletes go through Hadoop's local
  * `FileSystem` (no process on those calls), so checkpoints written by
  * Spark's manager, `.crc` files included, restart unchanged. Neither path
  * calls fsync, as Spark's local default does not.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** Spark's own manager for a non-local path; `None` on a local one. */
  private[streaming] val delegate: Option[CheckpointFileManager] = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") None
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      Some(CheckpointFileManager.create(path, conf))
    }
  }

  private lazy val fs: LocalFileSystem = FileSystem.getLocal(hadoopConf)

  private def local(p: Path): JPath = fs.pathToFile(p).toPath

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream] {
      val dst = local(p)
      val tmp = dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicLocalFile(tmp, dst, overwriteIfPossible)
    }(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream =
    delegate.fold(fs.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold(fs.listStatus(p, filter))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = delegate.fold {
    try { fs.getFileStatus(p); true }
    catch { case _: FileNotFoundException => false }
  }(_.exists(p))

  override def delete(p: Path): Unit = delegate.fold[Unit] {
    try fs.delete(p, true)
    catch { case _: FileNotFoundException => () }
  }(_.delete(p))

  override def isLocal: Boolean = delegate.forall(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate.fold {
    val qualified = fs.makeQualified(path)
    Files.createDirectories(local(qualified))
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())
}

object LocalCheckpointFileManager {

  /** Spark's setting that names the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  val ClassName: String = classOf[LocalCheckpointFileManager].getName

  private def openTemp(tmp: JPath): OutputStream = {
    val out =
      try Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
      catch {
        case _: NoSuchFileException =>
          Files.createDirectories(tmp.getParent)
          Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)
      }
    new BufferedOutputStream(out, 64 * 1024)
  }

  /** Bytes written to `tmp`, published to `dst` by `close`. */
  private final class AtomicLocalFile(tmp: JPath, dst: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(openTemp(tmp)) {
    private var terminated = false
    private def crc: JPath = dst.resolveSibling(s".${dst.getFileName}.crc")

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) {
            // checksum first: until the move, readers see the old bytes unchecked
            Files.deleteIfExists(crc)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(dst, tmp)
            catch {
              case e: java.nio.file.FileAlreadyExistsException =>
                val fe = new FileAlreadyExistsException(s"$dst already exists")
                fe.initCause(e)
                throw fe
            }
            Files.deleteIfExists(crc)
          }
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() finally Files.deleteIfExists(tmp)
      }
    }
  }
}
