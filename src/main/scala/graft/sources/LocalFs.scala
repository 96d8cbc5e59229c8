package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem of every Hadoop `Configuration` in this
  * engine (wired by `core-site.xml` on the classpath: `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`).
  *
  * Stock Hadoop applies a permission to every file and directory it
  * creates through `RawLocalFileSystem.setPermission`, and without the
  * native libhadoop that method forks a `chmod` process per call: a
  * KB-scale lake commit forked dozens of them, a fixed per-statement
  * cost that did not scale with data. Here the raw filesystem applies
  * the same mode bits through `java.nio` instead; everything else,
  * `.crc` sidecars included, is Hadoop's own `LocalFileSystem` /
  * `ChecksumFs`, so layouts and modes (0644 files, 0755 directories
  * under a 022 umask) are unchanged and `FileSystem.getLocal` casts
  * still hold.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` is a syscall, not a
    * forked `chmod`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  private val Bits = Seq(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  /** The low 9 bits of a mode (rwxrwxrwx, high bit first) as a POSIX
    * permission set; sticky/setuid bits have no `java.nio` spelling and
    * no use on a local lake root. */
  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) => if ((mode & (1 << (8 - i))) != 0) s.add(b) }
    s
  }

  /** The `FileContext` view (Spark's streaming checkpoint manager):
    * Hadoop's checksummed local `AbstractFileSystem` over [[Raw]]. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  private class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
