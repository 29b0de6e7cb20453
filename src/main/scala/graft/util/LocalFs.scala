package graft.util

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with permissions and link checks done
  * in-process. Without the `libhadoop` native library,
  * `RawLocalFileSystem` forks `chmod` for every file it creates and
  * every directory it makes, and `readlink` for both ends of every
  * FileContext rename. [[Raw]] does both through `java.nio` instead and
  * defers to Hadoop only where the outcome could differ: a sticky bit,
  * a path carrying set-id bits (`chmod` keeps them on a directory,
  * `java.nio` would clear them) and a real symbolic link. [[FileSystem]]
  * and [[Fs]] wrap it the way Hadoop's `LocalFileSystem` and `LocalFs`
  * wrap the stock one; [[Sessions]] installs them for the `file`
  * scheme. */
object LocalFs {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val path = pathToFile(p).toPath
      if (permission.getStickyBit ||
          (Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & 0x0c00) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, posix(permission.toShort))
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  // declared in mode order, owner read (bit 8) to others execute (bit 0)
  private val permissionBits = PosixFilePermission.values.toSeq

  private def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    permissionBits.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(bit)
    }
    set
  }

  /** `fs.file.impl`: the checksummed FileSystem API over [[Raw]]. It
    * keeps the rename rule of the FileSystem it replaces: without this
    * key the `file` scheme resolves to the last service registered for
    * it on the classpath, in the Spark distribution Hive's
    * `ProxyLocalFileSystem`, whose rename fails instead of replacing an
    * existing file, as on HDFS. */
  class FileSystem extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean = {
      val dstIsFile =
        try getFileStatus(dst).isFile
        catch { case _: java.io.FileNotFoundException => false }
      !dstIsFile && super.rename(src, dst)
    }
  }

  /** `fs.AbstractFileSystem.file.impl`: the checksummed FileContext API
    * over [[Raw]]. Hadoop's `RawLocalFs` builds its own stock raw
    * filesystem, so [[RawFs]] repeats its overrides. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  private class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
