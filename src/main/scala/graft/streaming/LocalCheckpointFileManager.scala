package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's checkpoint file manager, registered by
  * [[graft.GraftSession.builder]] for every stream (offset and commit
  * logs, state store deltas, state checksum files).
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks a `chmod`
  * process for every file it creates and every directory it makes, and
  * Spark's default `FileContextBasedCheckpointFileManager` forks
  * `readlink` on both ends of every rename (`getFileLinkStatus`) — about
  * 100 process spawns per micro-batch of a stateful query. For a local
  * (`file:`) checkpoint this manager writes through a Hadoop
  * `LocalFileSystem` (same `.crc` sidecars, same Spark
  * `ChecksumCheckpointFileManager` wrapping above it) whose raw layer
  * sets the same permission bits with `Files.setPosixFilePermissions`,
  * and renames with `FileSystem.rename`. On a local file system both
  * renames check the destination and then call the same
  * `File.renameTo`, so `overwriteIfPossible = false` still throws
  * `FileAlreadyExistsException`. Every other scheme gets Spark's default
  * manager, exactly as if no class were registered. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.resolvesToLocal(path, hadoopConf)) {
      new LocalCheckpointFileManager.ForkFreeManager(path, hadoopConf)
    } else {
      val defaults = new Configuration(hadoopConf)
      defaults.unset(LocalCheckpointFileManager.confKey)
      CheckpointFileManager.create(path, defaults)
    }

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

object LocalCheckpointFileManager {

  /** The Spark conf key `CheckpointFileManager.create` reads the manager class from. */
  val confKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `file:` paths, or scheme-less ones under a `file:` default file system. */
  private def resolvesToLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's `FileSystem`-API manager over a private, uncached
    * `LocalFileSystem` (built as `FileSystem.get` builds one) whose raw
    * layer sets permissions in-process. */
  private class ForkFreeManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new InProcessChmodFileSystem)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** `RawLocalFileSystem` creates files and directories, then sets their
    * mode through `setPermission`, which forks `chmod` when libhadoop is
    * missing. The same rwx bits set through NIO; the sticky bit, which
    * NIO cannot express, keeps Hadoop's path. */
  private class InProcessChmodFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }
}
