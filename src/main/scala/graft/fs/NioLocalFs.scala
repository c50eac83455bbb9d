package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its subprocesses. Without the
  * native Hadoop library (a stock Spark distribution ships none),
  * `RawLocalFileSystem` forks `chmod` for every file and directory it
  * creates, and `readlink` for every link-status lookup — which every
  * FileContext rename, i.e. every checkpoint commit, makes. Both run
  * in-JVM here. What java.nio cannot reproduce exactly (setuid, setgid
  * and sticky bits, real symlinks, non-POSIX platforms) falls back to
  * Hadoop's own code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // `chmod 0755` keeps a directory's setuid/setgid bits, nio clears
    // them; an unreadable mode also goes to Hadoop for its error
    def special = try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0
      catch { case _: java.io.IOException => true }
    if (!NioRawLocalFileSystem.unix || permission.getStickyBit || special)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val unix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}

/** FileSystem API view (`fs.file.impl`): checksummed like
  * `LocalFileSystem`, over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext API view (`fs.AbstractFileSystem.file.impl`), mirroring
  * Hadoop's `local.LocalFs`: `ChecksumFs` over a delegate.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** Hadoop's `local.RawLocalFs` over [[NioRawLocalFileSystem]]. */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
