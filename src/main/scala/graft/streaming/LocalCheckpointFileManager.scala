package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint manager that starts no process on `file:`
  * paths.
  *
  * Without libhadoop, Spark's default manager forks a shell command
  * for most local checkpoint writes:
  *  - its `FileContext` rename goes through
  *    `AbstractFileSystem.renameInternal`, whose link check
  *    (`RawLocalFileSystem.getFileLinkStatus`) forks `readlink`;
  *  - every create and mkdir sets its permission bits through
  *    `RawLocalFileSystem.setPermission`, which forks `chmod`.
  * A stateful stream pays both per state-store delta, per partition,
  * per micro-batch: a JFR `jdk.ProcessStart` census of one lakebench
  * registry_heavy JVM (warm-up plus one pass) counted 3003 such forks,
  * all from q222's stream-stream join checkpoint.
  *
  * On a `file:` path this manager has the semantics of Spark's
  * `FileSystemBasedCheckpointFileManager` (atomic writes are "write a
  * temp file, check the destination, rename(2)" — the same atomicity
  * as the default manager on a local disk), over its own
  * `LocalFileSystem` whose raw layer sets the same permission bits
  * through `java.nio`. Hadoop's `.crc` sidecars and Spark's checkpoint
  * checksum files are kept, so checkpoints move freely between this
  * manager and the default one. Any other scheme gets exactly the
  * manager Spark would have chosen. [[StreamTuning]] installs it for
  * the engine's streams. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  private[graft] val delegate: CheckpointFileManager =
    LocalCheckpointFileManager.managerFor(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {
  /** The session (and Hadoop) key Spark reads to pick the manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The no-fork manager for a `file:` path (an unqualified path
    * resolves against the default filesystem); Spark's own choice for
    * any other scheme. */
  def managerFor(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new NoForkManager(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(ConfKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  /** Spark's file-system manager over a private, no-fork local FS. */
  private final class NoForkManager(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      // what FileSystem.get does for file:, minus the cache
      val lfs = new LocalFileSystem(new NioRawLocalFileSystem)
      lfs.setConf(hadoopConf)
      lfs.initialize(URI.create("file:///"), hadoopConf)
      lfs
    }
  }

  /** `RawLocalFileSystem` that sets permission bits through `java.nio`
    * instead of forking `chmod`. Callers pass bits with the umask
    * already applied, so the result is what `chmod` would leave. The
    * sticky bit has no `java.nio` form and goes to the parent. */
  private[graft] final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posixOf(permission.toShort))
  }

  /** Low nine mode bits as a `PosixFilePermission` set; the enum is
    * declared owner r/w/x, group r/w/x, others r/w/x, i.e. from bit 8
    * down to bit 0. */
  private def posixOf(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }
}
