package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

/** Hadoop's checksummed local filesystem with one change: permissions are
  * set by a syscall instead of a child process.
  *
  * On a JVM without libhadoop (most pip and tarball Spark installs),
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process, and
  * the raw filesystem calls it for every file and directory it creates:
  * 22 for a 4-task epoch written through Spark's dynamic-overwrite commit,
  * 2,716 for one `connector` benchmark run. They were a quarter of a queue
  * epoch's publish time. [[graft.PartFiles]], the one part-file writer of
  * graft's epoch sink and `Versioned` table, still creates a part file and
  * a `.crc` sidecar per task. [[LocalFiles.Raw]] maps the same mode onto
  * `Files.setPosixFilePermissions`. It defers to Hadoop where that cannot
  * express the mode (a sticky bit) or where the filesystem has no POSIX
  * attributes. Everything else is Hadoop's own code, `.crc` sidecars
  * included, so the files on disk are byte-identical.
  *
  * The binding is per write and never global: [[writeOptions]] scopes it to
  * the job conf of one [[graft.PartFiles]] write, [[fileSystem]] to one
  * Hadoop handle and
  * [[LocalFiles.CheckpointManager]] to the checkpoint files of one graft
  * stream. No session conf, no `SparkContext.hadoopConfiguration` entry and
  * no environment variable of the caller is changed, so a caller's session
  * resolves `file:` exactly as before.
  */
final class LocalFiles extends LocalFileSystem(new LocalFiles.Raw)

object LocalFiles {

  /** The raw local filesystem with a syscall `setPermission`. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The user/group/other bits of `p` as a POSIX permission set. */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString(
      Seq(p.getUserAction, p.getGroupAction, p.getOtherAction).map(_.SYMBOL).mkString)

  /** True unless `path` names a scheme other than `file:`. */
  private def isLocal(path: String): Boolean =
    Option(new Path(path).toUri.getScheme).forall(_ == "file")

  /** Hadoop conf options that bind this filesystem for one write to
    * `path`: `fs.file.impl`, plus `fs.file.impl.disable.cache`, because
    * Hadoop caches the `file:` instance by scheme, not by class, and would
    * otherwise hand the write whatever instance the JVM cached first. Empty
    * for a path with another scheme. A scheme-less path gets the options;
    * they govern only `file:` lookups, so on a non-local default
    * filesystem they change nothing.
    */
  def writeOptions(path: String): Map[String, String] =
    if (isLocal(path))
      Map("fs.file.impl" -> classOf[LocalFiles].getName,
          "fs.file.impl.disable.cache" -> "true")
    else Map.empty

  /** True when `path` resolves to `file:` under `conf`: its own scheme, or
    * the default filesystem's for a scheme-less path.
    */
  private def resolvesLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The filesystem of `path`: a fresh, uncached [[LocalFiles]] when it
    * resolves to `file:`, otherwise `path.getFileSystem(conf)`. `conf` is
    * read, not changed. The instance holds no thread or handle, so callers
    * drop it without closing it.
    */
  def fileSystem(path: Path, conf: Configuration): FileSystem =
    if (resolvesLocal(path, conf)) {
      val fs = new LocalFiles
      fs.initialize(URI.create("file:///"), conf)
      fs
    } else path.getFileSystem(conf)

  /** The Spark conf that names a session's checkpoint file manager. */
  val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The checkpoint file manager of graft's stream session
    * (`graft.streaming.Epochs.start`), which Spark instantiates per
    * checkpoint log and state store from [[CheckpointManagerKey]].
    *
    * A checkpoint that resolves to `file:` gets Spark's
    * `FileSystemBasedCheckpointFileManager` over [[LocalFiles]], bound
    * through [[writeOptions]] on a copy of `conf`: its renames spawn no
    * `readlink` and its creates no `chmod`. On `file:` it writes a temp
    * file, checks the target and `rename(2)`s it, as Spark's default
    * `FileContext` manager does, so the guarantee is the same. One
    * checkpoint file's `createAtomic` (median of 55, 4 vCPU) took 48 ms with
    * Spark's default manager, 11 ms with the FileSystem manager alone and
    * 2 ms over [[LocalFiles]]. Any other scheme gets what Spark picks
    * without the key: `FileContextBasedCheckpointFileManager`, or its
    * fallback.
    */
  final class CheckpointManager(path: Path, conf: Configuration) extends CheckpointFileManager {
    private[graft] val inner: CheckpointFileManager = {
      val c = new Configuration(conf)
      c.unset(CheckpointManagerKey)
      if (!resolvesLocal(path, conf)) CheckpointFileManager.create(path, c)
      else {
        writeOptions(path.toString).foreach { case (k, v) => c.set(k, v) }
        new FileSystemBasedCheckpointFileManager(path, c)
      }
    }
    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
      inner.createAtomic(p, overwriteIfPossible)
    override def open(p: Path): FSDataInputStream = inner.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = inner.list(p, filter)
    override def mkdirs(p: Path): Unit = inner.mkdirs(p)
    override def exists(p: Path): Boolean = inner.exists(p)
    override def delete(p: Path): Unit = inner.delete(p)
    override def isLocal: Boolean = inner.isLocal
    override def createCheckpointDirectory(): Path = inner.createCheckpointDirectory()
    override def close(): Unit = inner.close()
  }

  private val scratchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A JVM-temp dir named `graft_<name>_…`, one per (name, data dir) and
    * memoized, so callers sharing a JVM over two datasets never touch each
    * other's files while re-runs over one dataset reuse (and overwrite)
    * it. A shutdown hook deletes it with its contents.
    */
  private[graft] def scratchDir(name: String, dataDir: String): String =
    scratchDirs.computeIfAbsent(s"$name:$dataDir", _ => {
      val dir = Files.createTempDirectory(s"graft_${name}_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(dir.toFile)
      }))
      dir.toAbsolutePath.toString
    })
}
