package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem without a
  * child process per file.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` runs `chmod` in a
  * child process after every file create and every mkdir, and
  * `getFileLinkStatus` runs `readlink` (which `FileContext.rename` calls
  * on both ends of every rename). Each child costs milliseconds; the
  * reference commits a file with one `os.CreateTemp` and one `os.Rename`.
  * [[LocalFs.Raw]] does both without a child, through java.nio, and both
  * Hadoop doors wrap it the way Hadoop wraps its own: `FileSystem.get`
  * gets the checksummed [[LocalFs.Checksummed]] (the same `.crc`
  * sidecars as `LocalFileSystem`), and `FileContext` (Spark's streaming
  * checkpoint and state-store files) gets [[LocalFs.Context]], the twin
  * of `org.apache.hadoop.fs.local.LocalFs`. Mode bits, umask, checksums
  * and rename semantics are Hadoop's; only the child processes go.
  *
  * [[install]] names both doors in a Hadoop conf;
  * `GraftExtensions.register` calls it on the session's conf. Where
  * `fs.file.impl` is unnamed, Hadoop's service loader picks the `file:`
  * class, and with Spark's Hive jars that is hive-exec's
  * `ProxyLocalFileSystem`, a proxy over the same `LocalFileSystem`.
  */
object LocalFs {

  /** `RawLocalFileSystem` with `setPermission` as one `chmod(2)` and a
    * `getFileLinkStatus` that asks for the link target only of a link. */
  class Raw extends RawLocalFileSystem {

    /** Plain rwx bits go through java.nio; a sticky bit or a store
      * without POSIX attributes takes Hadoop's path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, the
        // mode bits from 0400 down to 0001
        val bits = PosixFilePermission.values.toSeq.zipWithIndex.collect {
          case (b, i) if (mode & (0x100 >> i)) != 0 => b
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }

    /** A path that is not a symlink has the status Hadoop returns after
      * an empty `readlink`: its `getFileStatus` (which throws
      * `FileNotFoundException` for a missing path). */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileSystem` door (`fs.file.impl`): `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** The `FileContext` door (`fs.AbstractFileSystem.file.impl`), as
    * Hadoop's `LocalFs`: checksums over [[RawContext]]. Hadoop builds it
    * by its `(URI, Configuration)` constructor; the URI is always `file:///`. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(conf))

  /** Hadoop's `RawLocalFs` over [[Raw]]: no default port, the local
    * server defaults, and every name valid (the OS checks names). */
  private class RawContext(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** Name both doors in `conf`, each only where the conf does not name
    * one already (a value from Hadoop's `core-default.xml` counts as
    * unnamed). A `FileSystem` already in Hadoop's cache stays as it is,
    * so install before the first `FileSystem.get` of `file:`. */
  def install(conf: Configuration): Unit = {
    def unnamed(key: String) =
      Option(conf.getPropertySources(key)).forall(_.forall(_ == "core-default.xml"))
    for ((key, cls) <- Seq("fs.file.impl" -> classOf[Checksummed],
        "fs.AbstractFileSystem.file.impl" -> classOf[Context]) if unnamed(key))
      conf.set(key, cls.getName)
  }
}
