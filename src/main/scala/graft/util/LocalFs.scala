package graft.util

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's local file system without a process start per file.
  *
  * With no libhadoop on the host, the stock `RawLocalFileSystem` shells
  * out `chmod` for every file and directory it creates (parquet part
  * files, their `.crc` side files, committer directories) and `readlink`
  * for every `FileContext` rename (the streaming offset/commit logs and
  * state-store files). Each start costs milliseconds, paid on the stream
  * thread and in every writing task. This subclass answers both
  * in-process with the same results:
  *
  *  - `setPermission` goes through `Files.setPosixFilePermissions`; a
  *    sticky bit, or a file store without POSIX attributes, falls back to
  *    the stock `chmod`.
  *  - `getFileLinkStatus` runs the stock `readlink` only when the path, as
  *    written, names a symbolic link. The stock code resolves
  *    `new File(path.toString)`, which for a qualified `file:/…` path
  *    names nothing, so such a path was never reported as a link, and
  *    still is not.
  *
  * Checksums (`.crc`), permissions and FileContext's atomic rename are
  * the stock code's: [[LocalFs.Checksummed]] is the checksummed
  * `LocalFileSystem` over this class and [[LocalFs.Context]] the
  * `ChecksumFs` FileContext uses, each built as Hadoop builds its own. */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  private val FsKey = "fs.file.impl"
  private val ContextKey = "fs.AbstractFileSystem.file.impl"

  /** `fs.file.impl`: the checksummed local file system over [[LocalFs]]. */
  final class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: FileContext's checksummed local
    * file system over [[LocalFs]], as Hadoop's `local.LocalFs` is over
    * `RawLocalFileSystem`. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Delegate(uri, conf))

  /** Hadoop's `local.RawLocalFs` (whose constructors are package-private)
    * over [[LocalFs]]. */
  private final class Delegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Makes [[LocalFs]] the `file:` scheme of `spark`'s Hadoop
    * configuration, for `FileSystem` and `FileContext` alike. Idempotent
    * and thread-safe; a key the user set to a class other than Hadoop's
    * default is left as it is.
    *
    * The session caches a `file:` `FileSystem` when it is built, so a
    * cached one that is not graft's is evicted with `close()`. That also
    * runs the evicted instance's pending `deleteOnExit` deletions, so call
    * this before the session runs any query: graft does at every entry
    * point (`Orchestrator.run`, `StreamingJobs.start`,
    * `HostMetrics.session`, `run.Main`). */
  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)

  private[graft] def install(conf: Configuration): Unit = synchronized {
    def claim(key: String, stock: String, ours: String): Boolean =
      Option(conf.get(key)) match {
        case Some(v) if v == ours  => true
        case Some(v) if v != stock => false
        case _                     => conf.set(key, ours); true
      }
    claim(ContextKey, "org.apache.hadoop.fs.local.LocalFs", classOf[Context].getName)
    if (claim(FsKey, classOf[LocalFileSystem].getName, classOf[Checksummed].getName)) {
      val cached = FileSystem.getLocal(conf)
      if (!cached.isInstanceOf[Checksummed]) cached.close()
    }
  }

  /** `p` without a sticky bit as NIO's permission set. `FileContext`
    * passes an `FsCreateModes`, whose `toString` is not `rwxr-x---`, so
    * the bits are rebuilt as a plain `FsPermission` first. */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString(new FsPermission(p.toShort).toString)
}
