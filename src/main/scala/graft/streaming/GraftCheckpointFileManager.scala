package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager graft's sessions register: offset and commit
  * logs, HDFS and RocksDB state-store files and file-sink logs all write
  * through it.
  *
  * Without the native hadoop library, Hadoop's local filesystem forks a
  * `chmod` process for every file it creates (the data file and its `.crc`),
  * and a `FileContext` rename forks `readlink`: tens of milliseconds per
  * file, several files per micro-batch, all on the alert path. For `file:`
  * paths this manager keeps Spark's rename-based atomic write over the
  * checksummed local filesystem, whose raw layer applies the same (already
  * umasked) mode through java.nio instead. Every other scheme gets Spark's
  * default manager unchanged.
  */
class GraftCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager =
    GraftCheckpointFileManager.resolve(path, conf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object GraftCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager that serves `path`: graft's local one for `file:`, Spark's
    * own choice for every other scheme.
    */
  def resolve(path: Path, conf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val own = new Configuration(conf)
    if (scheme == "file") {
      // The FileSystem cache keys on the scheme, not the class, so a cached
      // lookup would hand back (or replace) the shared `file:` instance;
      // uncached, this manager owns its filesystem outright.
      own.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[FileSystem])
      own.setBoolean("fs.file.impl.disable.cache", true)
      new FileSystemBasedCheckpointFileManager(path, own)
    } else {
      own.unset(ConfKey)
      CheckpointFileManager.create(path, own)
    }
  }

  /** Hadoop's raw local filesystem with `setPermission` done in-process. */
  final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission) // not expressible in java.nio
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** The checksummed (`.crc`) local filesystem over [[NioRawLocalFileSystem]]. */
  final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
}
