package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-call shell processes.
  *
  * Without libhadoop (`NativeIO.isAvailable` false, the usual case for a
  * pip- or tarball-installed Spark) the stock `RawLocalFileSystem` runs
  * `chmod` for every file and directory it creates with a permission
  * (each CSV/parquet write: output dir, `_temporary` levels, attempt
  * dir, part files, `_SUCCESS` and every `.crc`) and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends
  * (streaming offset/commit/source logs and state-store files). Here
  * `setPermission` goes through `java.nio` and `getFileLinkStatus` asks
  * `java.nio` whether the path is a link before anything forks: the
  * same modes and the same statuses, no process. Sticky bits (which
  * `java.nio` cannot set) and real symlinks still take Hadoop's own
  * code.
  *
  * Wired in as `file:` by `graft.LocalSession`: [[LocalFs.Checksummed]]
  * for `FileSystem` (`fs.file.impl`), [[LocalFs.Context]] for
  * `FileContext` (`fs.AbstractFileSystem.file.impl`); both keep the
  * `.crc` side files of Hadoop's checksummed local filesystems.
  */
final class LocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  // the stock code reads the link of `new File(f.toString)` (so a
  // scheme-qualified path never reads as a link); ask about the same
  // file and leave real links to it
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: the checksummed `FileSystem` (Hadoop's
    * `LocalFileSystem`) over [[LocalFs]].
    */
  final class Checksummed extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
    * filesystem (Hadoop's `local.LocalFs`) over [[LocalFs]].
    */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(conf))

  /** Hadoop's `local.RawLocalFs`, whose constructors are package-private,
    * over [[LocalFs]].
    */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new LocalFs, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in Hadoop's AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
