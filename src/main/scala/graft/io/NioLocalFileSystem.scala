package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the processes it forks. With no
  * native libhadoop, the stock class runs `chmod` for every file and
  * directory it creates and `readlink` for every link-status check (two
  * per renamed file, four with its `.crc`): a live-chat trigger's offset
  * log, state delta and checksum files, commit log and table writes made
  * about 140 forks. Both go through `java.nio` here; the few cases nio
  * cannot reproduce exactly take the stock code.
  *
  * `core-site.xml` on the classpath registers the `file:` scheme to
  * [[NioLocalFileSystem]] and [[NioLocalFs]], so every Hadoop
  * `Configuration` in the JVM resolves to them.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod(2)` without a `chmod` process. A sticky bit, and a path that
    * carries setuid/setgid (`chmod 0755` keeps those on a directory, nio
    * would clear them), go to the stock code, as does a non-POSIX store.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val setId = (mode & 0xc00) != 0 // S_ISUID | S_ISGID, octal 6000
      if (permission.getStickyBit || setId) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
    } catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }

  /** The stock code forks `readlink` and, for anything but a link,
    * returns `getFileStatus`; only links take that path here.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `FileSystem` view of `file:`: the stock `.crc` checksum layer over
  * [[NioRawLocalFileSystem]]. A rename onto an existing file returns
  * false and replaces nothing, as the `FileSystem` contract says and as
  * Hive's `ProxyLocalFileSystem` (what the Spark jars register for
  * `file:` otherwise) does; `LocalFileSystemSpec` pins it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `FileContext` view of `file:` (what Spark's checkpoint manager uses):
  * the stock `.crc` checksum layer over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (package-private) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults()", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
