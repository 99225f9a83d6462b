package graft.streaming

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.{
  CancellableFSDataOutputStream}

/** Streaming checkpoint file manager (Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`, set by
  * [[graft.GraftSession]]) that commits `file:` checkpoints without a
  * child process per file.
  *
  * Spark's default `FileContextBasedCheckpointFileManager` over Hadoop's
  * local file system forks `chmod` for every file (and its `.crc`) it
  * creates and `readlink` on every rename whenever the native Hadoop
  * library is absent. Here every `file:` operation goes through one
  * shared checksummed [[LocalFileSystem]] whose raw layer sets
  * permissions through java.nio, and files are published with java.nio
  * renames and hard links. What the default manager guarantees holds:
  *   - every file gets its `.crc` sidecar, verified when it is read;
  *   - a file appears by an atomic rename of a fully written temp file;
  *   - a no-overwrite publish is an atomic hard link that fails with
  *     Hadoop's [[FileAlreadyExistsException]] when the target exists,
  *     leaving the target untouched (the FileContext rename-NONE contract
  *     the offset and commit logs rely on).
  * The on-disk layout is the default manager's, so a checkpoint moves
  * between the two in either direction. Any other scheme is handed to
  * `FileContextBasedCheckpointFileManager` unchanged. Thread-safe: Spark's
  * checksum manager (its own `1.delta.crc` files) writes through it from
  * a thread pool.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalScheme(path, hadoopConf))
      new LocalCheckpointFileManager.NioLocal(path)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** `file:` explicitly, or no scheme under a `file:` default FS. */
  private def isLocalScheme(path: Path,
      conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Raw local FS whose `setPermission` is a java.nio call: Hadoop's
    * forks `chmod` without its native library, on every file it creates. */
  private final class NioPermissionsFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0x1ff
      // PosixFilePermission's declaration order is rwx for owner, group,
      // others: ordinal i is mode bit 8 - i
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.foreach { q =>
        if ((bits & (0x100 >> q.ordinal)) != 0) perms.add(q)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** The JVM's one checksummed local FS for checkpoint files. A checksum
    * failure stays a read error: `LocalFileSystem` would otherwise move
    * the file into a `bad_files` directory at the device root. */
  private lazy val fs: LocalFileSystem = {
    val local = new LocalFileSystem(new NioPermissionsFs) {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
        false
    }
    local.initialize(java.net.URI.create("file:///"), new Configuration())
    local
  }

  private def file(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

  /** A file written to a hidden temp file beside `dst` and published by
    * `close` ([[publish]]); `cancel` or a failed publish removes the temp
    * file and its `.crc`. */
  private final class AtomicOutput(tmp: Path, dst: Path, overwrite: Boolean)
      extends CancellableFSDataOutputStream(fs.create(tmp, true)) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          publish(tmp, dst, overwrite)
        } catch {
          case NonFatal(e) => fs.delete(tmp, false); throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        fs.delete(tmp, false)
      }
    }
  }

  /** Data file first, then its `.crc`, as Hadoop's checksummed rename
    * does, with the same window: a crash in between leaves the new file
    * without its sidecar (it reads unverified) or, on an overwrite, beside
    * the old one (it fails its checksum on read). */
  private def publish(src: Path, dst: Path, overwrite: Boolean): Unit = {
    if (overwrite)
      Files.move(file(src), file(dst), StandardCopyOption.ATOMIC_MOVE)
    else {
      try Files.createLink(file(dst), file(src))
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$dst already exists")
      }
      Files.delete(file(src))
    }
    Files.move(file(fs.getChecksumFile(src)), file(fs.getChecksumFile(dst)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private final class NioLocal(root: Path) extends CheckpointFileManager {
    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream =
      new AtomicOutput(
        new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp"), p,
        overwriteIfPossible)
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = fs.mkdirs(p, FsPermission.getDirDefault)
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }
}
