package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystemBasedCheckpointFileManager` over a local file
  * system that starts no processes. Without the native Hadoop library,
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates and `readlink` for every link-status lookup (the default
  * `FileContext` manager's rename asks for one), which was 264 forked
  * processes per `q_stream_update_mode` run. This manager writes the
  * same files through the same checksummed `LocalFileSystem`: the same
  * `.crc` side files, file modes and temp-file-plus-rename commits.
  *
  * Only the `file` scheme changes, and only in a private copy of the
  * Hadoop conf, uncached, so the process-wide FileSystem cache never
  * holds the no-fork file system. `StreamingEtl.withStreamConf` names
  * this class in `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path,
      LocalCheckpointFileManager.noForkConf(hadoopConf))

object LocalCheckpointFileManager {

  private[streaming] def noForkConf(conf: Configuration): Configuration = {
    val c = new Configuration(conf)
    c.setClass("fs.file.impl", classOf[NoForkLocalFileSystem], classOf[FileSystem])
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Hadoop's checksummed local file system over [[NoForkRawLocalFileSystem]]. */
  class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

  /** `RawLocalFileSystem` with its two forking calls done in `java.nio`. */
  class NoForkRawLocalFileSystem extends RawLocalFileSystem {

    /** `chmod` through `java.nio`; a sticky bit (which POSIX file
      * attributes cannot express) or a non-POSIX store takes Hadoop's
      * own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    /** A path that is not a symlink has the status of its file, which
      * is Hadoop's answer once `readlink` prints nothing; a real
      * symlink takes Hadoop's own path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
