package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FSDataInputStream, FileStatus, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Hadoop's raw local filesystem with permission changes made in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` in a
  * child process, and Hadoop sets a permission on every file and
  * directory it creates with one (Parquet files, their parent dirs,
  * checkpoint files). Here the nine rwx bits go through
  * `Files.setPosixFilePermissions` instead; a sticky bit or a filesystem
  * without POSIX attributes falls back to the inherited path. Like its
  * parent, it writes no `.crc` sidecars: entry integrity is the per-row
  * FNV column plus the Parquet footer, and checkpoint files are re-read
  * through their own format checks. */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeLocalFileSystem.posixBits(permission.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

object ForkFreeLocalFileSystem {

  /** Hadoop options that route `file:` paths to this class. The FileSystem
    * cache is keyed by scheme and user, not by conf, so it is bypassed:
    * otherwise a `file:` instance cached earlier under another class
    * would be handed back. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** A copy of `conf` with [[options]] set. */
  private[io] def conf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    options.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The `PosixFilePermission`s of a mode's low nine bits (`rwxrwxrwx`,
    * in the enum's declaration order). */
  private[io] def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.iterator.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }
}

/** Streaming checkpoint manager that picks by the checkpoint's scheme.
  *
  * `file:` checkpoints use Spark's rename-based
  * `FileSystemBasedCheckpointFileManager` over [[ForkFreeLocalFileSystem]]:
  * write a temp file, then `rename(2)` it over the target, which is atomic
  * on a local POSIX filesystem. Spark's default manager goes through
  * `FileContext`, whose rename runs `readlink` in a child process and
  * whose checksummed local FS sets permissions with `chmod` — six child
  * processes per checkpoint file. Every other scheme gets exactly Spark's
  * default choice (`FileContext`-based, else `FileSystem`-based), so
  * object stores, where rename is not atomic, are unaffected.
  *
  * A checkpoint begun under the default manager carries `.<name>.crc`
  * sidecars. Renaming onto a name or deleting it here also drops that
  * name's sidecar, as Spark's own `mayRemoveCrcFile` does, so a later
  * checksummed reader never checks new bytes against an old checksum.
  *
  * Installed through `spark.sql.streaming.checkpointFileManagerClass`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new LocalCheckpointFileManager.Local(path, ForkFreeLocalFileSystem.conf(hadoopConf))
    else {
      val c = new Configuration(hadoopConf)
      c.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, c)
    }
  }

  /** The manager this one forwards to. */
  private[io] def underlying: CheckpointFileManager = delegate

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
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

  /** Spark's conf key for the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Set this manager on `spark` unless the session already names one. */
  def installIfUnset(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private[io] final class Local(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    private def dropCrc(p: Path): Unit = {
      val crc = new Path(p.getParent, s".${p.getName}.crc")
      if (fs.exists(crc)) fs.delete(crc, false)
    }

    override def renameTempFile(srcPath: Path, dstPath: Path,
        overwriteIfPossible: Boolean): Unit = {
      dropCrc(dstPath)
      super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }

    override def delete(p: Path): Unit = {
      super.delete(p)
      dropCrc(p)
    }
  }
}
