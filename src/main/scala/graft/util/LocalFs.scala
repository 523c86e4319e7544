package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's raw local filesystem without the child processes.
  *
  * Without `libhadoop.so`, stock `RawLocalFileSystem` runs `chmod` in a
  * new process on every `create` and `mkdirs` (through `setPermission`)
  * and `readlink` on every `FileContext` rename (through
  * `getFileLinkStatus`). That process start, not the bytes, sets the
  * latency of stream commits, checkpoint logs and small parquet writes
  * (SCALING.md, "Session posture", has the per-operation costs). These
  * two methods go through `java.nio.file` instead; everything else —
  * umask, rename atomicity, the `.crc` sidecars of the checksummed
  * wrappers below — is the stock code. A sticky-bit mode (NIO cannot
  * set it) and a real symlink still take the stock path.
  *
  * [[graft.Graft.configure]] binds [[LocalFs.Checksummed]] and
  * [[LocalFs.Context]] to the `file:` scheme; other schemes are
  * untouched.
  */
class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  /** A path that is not a symlink has its plain status, as in stock; a
    * missing path throws `FileNotFoundException` from `getFileStatus`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: the checksummed `FileSystem`, as stock
    * `LocalFileSystem`.
    */
  final class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: the checksummed
    * `AbstractFileSystem` that `FileContext` (and so Spark's streaming
    * checkpoint logs) uses, as stock `local.LocalFs`. Hadoop builds it
    * through this (URI, Configuration) constructor; the URI is always
    * `file:///`, as in stock.
    */
  final class Context(uri: URI, conf: Configuration)
      extends ChecksumFs(new Raw(conf))

  /** Stock `local.RawLocalFs` over [[LocalFs]], with its overrides. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def isValidName(src: String): Boolean = true
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  }

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }
}
