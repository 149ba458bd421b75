package graft.streaming

import java.io.{File, FileNotFoundException}
import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of the tuned streaming session
  * ([[StreamRunner.tunedSession]]): every metadata-log write (`offsets`,
  * `commits`, `sources/0`) and every HDFS-backed state-store file goes
  * through it, so it sits on each micro-batch's critical path.
  *
  * Hadoop's local file system forks a shell process for `chmod`,
  * `readlink` or `stat` when it has no native library: Spark's default
  * manager makes 10 such forks per checkpoint write, about 28 ms. For
  * `file:` paths this is Spark's own FileSystem-based manager (temp file,
  * then one atomic rename, with its `overwriteIfPossible` checks) over
  * [[LocalCheckpointFileManager.ForkFreeFs]], which starts no process and
  * writes or checks no `.crc` sibling. Any other scheme goes to Spark's
  * `FileContextBasedCheckpointFileManager`. Spark builds the class through
  * this `(Path, Configuration)` constructor.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  private val fm: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) != "file")
      new FileContextBasedCheckpointFileManager(path, conf)
    else new FileSystemBasedCheckpointFileManager(path, conf) {
      override protected val fs: FileSystem = new LocalCheckpointFileManager.ForkFreeFs(conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean) = fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = fm.open(p)
  override def list(p: Path, filter: PathFilter) = fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path) = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal = fm.isLocal
  override def createCheckpointDirectory() = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {
  /** Hadoop's raw local file system without its two forks: a status comes
    * from `java.io` instead of a `stat` process, and a permission is never
    * set (no `chmod`), so files and directories keep the umask's default.
    * A rename drops its target's `.crc` sibling, which an earlier manager
    * may have left, so Spark's default manager can read the file again.
    */
  private final class ForkFreeFs(conf: Configuration) extends RawLocalFileSystem {
    initialize(URI.create("file:///"), conf)

    override def getFileStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      if (!file.exists) throw new FileNotFoundException(s"File $f does not exist")
      new FileStatus(file.length, file.isDirectory, 1, getDefaultBlockSize(f), file.lastModified, makeQualified(f))
    }

    override def setPermission(p: Path, permission: FsPermission): Unit = ()

    override def rename(src: Path, dst: Path): Boolean = super.rename(src, dst) && {
      new File(pathToFile(dst).getParentFile, s".${dst.getName}.crc").delete()
      true
    }
  }
}
