package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Hadoop's raw local FS without the per-file `chmod` fork. Without
  * libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` as a child
  * process, and every `create` and `mkdirs` calls it: one fork per part
  * file, `.crc` sidecar, partition directory and state-store delta. This
  * sets the same mode bits through `Files.setPosixFilePermissions`, which
  * follows symlinks and fails on a missing path as `chmod` does. A mode
  * with any bit above the nine rwx bits (the sticky bit is the one
  * `FsPermission` carries) goes to `super`. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NoForkRawLocalFileSystem.permissions(mode))
  }
}

object NoForkRawLocalFileSystem {
  // PosixFilePermission.values is OWNER_READ .. OTHERS_EXECUTE: mode bits 8..0
  private val bits = PosixFilePermission.values

  /** The permission set of the low nine mode bits. */
  private[engine] def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) s.add(bits(i))
    s
  }
}

/** The `file:` FileSystem of every graft session (`fs.file.impl`, set by
  * [[graft.SessionProfile]]): still a `ChecksumFileSystem`, so every `.crc`
  * sidecar is written and verified, over [[NoForkRawLocalFileSystem]]. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Streaming checkpoint manager (`spark.sql.streaming.checkpointFileManagerClass`,
  * set by [[graft.SessionProfile]]). On a `file:` path it is Spark's
  * FileSystem-based manager: its rename is `File.renameTo` through
  * [[NoForkLocalFileSystem]], where the FileContext-based default resolves
  * both ends of every rename with two forked `readlink`s. Any other scheme
  * keeps Spark's FileContext-based default, so HDFS, S3 and ABFS
  * checkpoints behave as without this class. A state store with
  * checkpoint checksums on still wraps it in Spark's checksum manager. */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
