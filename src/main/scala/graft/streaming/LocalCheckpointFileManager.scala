package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's FileSystem checkpoint manager over a local file system that
  * sets permissions without forking.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * for every file it creates and every directory `mkdirs` makes: 610
  * forks per `lake_stream` run across offset, commit, source-log and
  * state files (see [[graft.Session.withLeanDrain]] for the cost). Here
  * the raw layer overrides only `setPermission`, with
  * `Files.setPosixFilePermissions`; everything else (create, rename,
  * open, list, delete, the `.crc` sidecars and their verification on
  * read) stays Hadoop's and Spark's code, so the files on disk are the
  * ones Spark's own manager writes and either manager resumes the
  * other's checkpoint. A non-local path keeps its own file system. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override val fs: FileSystem = path.getFileSystem(hadoopConf) match {
    case _: LocalFileSystem =>
      val local = new LocalFileSystem(new LocalCheckpointFileManager.NioChmod)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    case other => other
  }

  /** A no-overwrite atomic write whose target already exists fails at
    * `close`, and Spark's stream then leaves its `.<name>.<uuid>.tmp`
    * and that temp's `.crc` behind; unlink both before the refusal
    * propagates. */
  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit =
    try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    catch {
      case e: FileAlreadyExistsException =>
        fs.delete(srcPath, false) // a checksum file system: the .crc too
        throw e
    }
}

object LocalCheckpointFileManager {

  /** `RawLocalFileSystem` whose `setPermission` is a `java.nio` call. A
    * sticky bit, which `java.nio` cannot set and no checkpoint asks for,
    * fails the call (`fromString` refuses its `t`). */
  private class NioChmod extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
