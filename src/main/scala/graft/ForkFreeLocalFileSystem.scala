package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem (`file:`), with permissions
  * set in-process instead of by a forked `chmod`. Registered by
  * [[GraftSession.forkFreeLocalFs]]; see there for why and what it
  * keeps.
  */
final class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** `RawLocalFileSystem` calls `setPermission` for every file it
    * creates (the checksum layer's `.crc` siblings included) and every
    * directory `mkdirs` makes. Without native Hadoop that call runs
    * `chmod` in a child process; here the same nine mode bits go
    * through `java.nio`. Native Hadoop and the sticky bit, which
    * `java.nio` cannot set, keep Hadoop's own path.
    */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** The same filesystem for Hadoop's `FileContext` API, which
    * Structured Streaming writes its checkpoints and state through:
    * Hadoop's `LocalFs`, a checksum layer over a `RawLocalFs`, with
    * [[Raw]] in place of the stock `RawLocalFileSystem` that
    * `RawLocalFs` wraps. Registered as `fs.AbstractFileSystem.file.impl`
    * by [[GraftSession.forkFreeLocalFs]]; Hadoop constructs it from
    * (URI, Configuration).
    */
  final class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `RawLocalFs`, whose constructors are package-private,
    * over [[Raw]]: the same delegate with the same overrides.
    */
  private final class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The mode's rwx bits as `java.nio` permissions (0400 = owner read
    * … 0001 = others execute, the enum's order).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(p)
    }
    perms
  }
}
