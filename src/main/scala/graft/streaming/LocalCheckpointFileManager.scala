package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.net.URI
import java.nio.file.{FileSystemException, FileVisitResult, Files, NoSuchFileException,
  SimpleFileVisitor, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for `file:` checkpoints that starts no child
  * processes.
  *
  * Spark's default manager goes through Hadoop's checksummed local file
  * system, which forks `chmod` for every created file and `readlink` around
  * every rename, plus a `.crc` sidecar per file — about 5 ms of process
  * spawn per file, paid for every offset, commit and state-store file of
  * every micro-batch. Here `file:` paths use java.nio directly:
  *  - `createAtomic` writes a hidden temp file in the target's directory and
  *    publishes it on close: without overwrite by a hard link, which fails
  *    with Hadoop's FileAlreadyExistsException if the target exists (the
  *    metadata log's concurrent-writer check relies on it), falling back to
  *    an exists check plus a move where hard links are unsupported; with
  *    overwrite by an atomic replacing move;
  *  - `mkdirs`, `exists` and recursive `delete` are java.nio calls;
  *  - `open` and `list` use Hadoop's raw (unchecksummed) local file system.
  *
  * Durability matches the Hadoop local file system's: neither fsyncs.
  * Every other scheme goes to Spark's FileContextBasedCheckpointFileManager.
  */
final class LocalCheckpointFileManager private[streaming] (
    path: Path,
    hadoopConf: Configuration,
    fallback: () => CheckpointFileManager
) extends CheckpointFileManager {

  /** The constructor Spark instantiates through
    * `spark.sql.streaming.checkpointFileManagerClass`.
    */
  def this(path: Path, hadoopConf: Configuration) =
    this(path, hadoopConf, () => new FileContextBasedCheckpointFileManager(path, hadoopConf))

  private[streaming] val handlesLocally: Boolean = LocalCheckpointFileManager.isFileScheme(path, hadoopConf)

  private lazy val delegate: CheckpointFileManager = fallback()

  private lazy val raw: RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), hadoopConf)
    fs
  }

  private def local(p: Path): NioPath = raw.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!handlesLocally) delegate.createAtomic(p, overwriteIfPossible)
    else {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
      new LocalCheckpointFileManager.AtomicStream(temp, target, overwriteIfPossible)
    }

  override def open(p: Path): FSDataInputStream =
    if (handlesLocally) raw.open(p) else delegate.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (handlesLocally) raw.listStatus(p, filter) else delegate.list(p, filter)

  override def mkdirs(p: Path): Unit =
    if (handlesLocally) Files.createDirectories(local(p)) else delegate.mkdirs(p)

  override def exists(p: Path): Boolean =
    if (handlesLocally) Files.exists(local(p)) else delegate.exists(p)

  /** Recursive; a missing path is not an error (as in Spark's managers). */
  override def delete(p: Path): Unit =
    if (!handlesLocally) delegate.delete(p)
    else
      try Files.walkFileTree(local(p), LocalCheckpointFileManager.Deleter)
      catch { case _: NoSuchFileException => }

  override def isLocal: Boolean = handlesLocally || delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (!handlesLocally) delegate.createCheckpointDirectory()
    else {
      val qualified = raw.makeQualified(path)
      Files.createDirectories(local(qualified))
      qualified
    }

  override def close(): Unit = if (!handlesLocally) delegate.close()
}

object LocalCheckpointFileManager {
  /** A path without a scheme resolves against `fs.defaultFS`. */
  private[streaming] def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private object Deleter extends SimpleFileVisitor[NioPath] {
    override def visitFile(f: NioPath, attrs: BasicFileAttributes): FileVisitResult = {
      Files.deleteIfExists(f)
      FileVisitResult.CONTINUE
    }
    override def postVisitDirectory(d: NioPath, e: IOException): FileVisitResult = {
      if (e != null) throw e
      Files.deleteIfExists(d)
      FileVisitResult.CONTINUE
    }
  }

  /** Writes `temp`; `close` publishes it as `target`, `cancel` discards it. */
  private final class AtomicStream(temp: NioPath, target: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
          else publishNew()
        } finally Files.deleteIfExists(temp)
      }
    }

    private def publishNew(): Unit =
      try Files.createLink(target, temp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => throw alreadyExists()
        case _: UnsupportedOperationException | _: FileSystemException =>
          if (Files.exists(target)) throw alreadyExists()
          Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      }

    private def alreadyExists() = new FileAlreadyExistsException(s"$target already exists")

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close()
        finally Files.deleteIfExists(temp)
      }
    }
  }
}
