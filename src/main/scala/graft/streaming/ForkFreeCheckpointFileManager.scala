package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem,
  Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The engine's checkpoint file manager: the files Spark's default
  * manager writes, without forking a process per file.
  *
  * Without native `libhadoop`, Hadoop's `RawLocalFileSystem` forks a
  * child process for two things on the micro-batch path:
  * - `chmod` on every file and directory it creates (`setPermission`);
  * - `readlink` on every `FileContext.rename`
  *   (`getFileLinkStatus` -> `FileUtil.readLink`).
  *
  * Every micro-batch writes an offset log, a commit log and one state
  * delta per partition, so the reference pipeline forked about 112
  * processes per batch, and the metadata-log writes sit serially on the
  * stream thread.
  *
  * On a path the default manager writes through Hadoop's own local file
  * system, this manager publishes through `FileSystem.rename` as Spark's
  * [[FileSystemBasedCheckpointFileManager]] does (no `readlink`), over a
  * `LocalFileSystem` whose raw layer sets the nine rwx bits with
  * `java.nio` (no `chmod`). The `.crc` siblings, Spark's checkpoint
  * checksum files and the modes (files 0644, directories 0755 under the
  * default umask) are the same as under the default manager. Every other
  * path (HDFS, object stores) gets exactly the manager Spark's
  * `CheckpointFileManager.create` picks when no class is configured.
  *
  * Installed by [[ForkFreeCheckpointFileManager.install]]; a session that
  * sets `spark.sql.streaming.checkpointFileManagerClass` itself keeps its
  * own choice.
  */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import ForkFreeCheckpointFileManager._

  private val underlying: CheckpointFileManager =
    if (onHadoopLocalFs(path, hadoopConf)) new LocalManager(path, hadoopConf)
    else sparkDefault(path, hadoopConf)

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object ForkFreeCheckpointFileManager {

  /** Spark's setting naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Sets [[ConfKey]] to this manager unless the session already names
    * one (idempotent, like an extension's `setup`).
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[ForkFreeCheckpointFileManager].getName)

  /** Whether Spark's default manager would write `path` through Hadoop's
    * own checksummed local file system (`LocalFs`, which `FileContext`
    * picks for `file:`). Decided on that binding, not on
    * `path.getFileSystem`: the Hive jars register their own `file:`
    * `FileSystem`, which the default manager never uses.
    */
  private def onHadoopLocalFs(path: Path, conf: Configuration): Boolean = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    scheme == "file" && conf.get("fs.AbstractFileSystem.file.impl") == classOf[LocalFs].getName
  }

  /** `CheckpointFileManager.create`'s choice when no class is configured. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(path, conf) }

  /** Spark's rename-based manager over the shared fork-free file system. */
  private final class LocalManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = localFs(conf)
  }

  /** `RawLocalFileSystem` whose `setPermission` applies the rwx bits
    * in-process; sticky-bit modes keep Hadoop's own path.
    */
  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner r/w/x, group r/w/x, others r/w/x:
        // entry i is mode bit 8 - i
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
          if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }

  // One instance per JVM, initialised from the first manager's conf: the
  // same sharing Hadoop's FileSystem cache gives `file:` paths.
  @volatile private var shared: FileSystem = _

  private def localFs(conf: Configuration): FileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
        fs.setConf(conf)
        fs.initialize(URI.create("file:///"), conf)
        shared = fs
      }
    }
    shared
  }
}
