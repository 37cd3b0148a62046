package graft.sources

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.{PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{
  ChecksumFs,
  DelegateToFileSystem,
  FileStatus,
  FsConstants,
  FsServerDefaults,
  LocalFileSystem,
  Path,
  RawLocalFileSystem
}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local (`file:`) file system with its three process
  * launches replaced by `java.nio` calls that have the same effect.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` forks a shell
  * command for `chmod` on every file it creates and every directory
  * `mkdirs` makes, for `readlink` on every `getFileLinkStatus` (a
  * `FileContext` rename asks it of both sides of the data file and of
  * its `.crc`), and for `ls -ld` on every listed file whose permission,
  * owner or group is read (`listFiles` reads all three). A warm fork
  * costs about 2.4 ms, and a stream checkpoint file written through
  * Spark's `FileContext` manager took 25 ms, against 0.06 ms for a
  * `java.nio` write and move. Here:
  *  - `setPermission` is `Files.setPosixFilePermissions`;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what Hadoop returns once `readlink`
  *    comes back empty;
  *  - a listed entry's permission, owner and group come from one read
  *    of its `unix:mode`, `owner` and `group` attributes: the `unix`
  *    view carries the sticky bit that `ls -ld` shows and
  *    `PosixFileAttributes` drops.
  *
  * Everything else is Hadoop's own code: the bytes and `.crc` files,
  * the umask applied to each new file and directory, the no-overwrite
  * rename rule, and every symbolic link, sticky-bit mode and file
  * system without POSIX attributes, which take Hadoop's process path.
  *
  * `GraftExtensions` makes these classes the `file:` defaults of every
  * graft session (see its class doc).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  // PosixFilePermission lists owner, group and others, each read, write, execute: mode bits 0400 down to 01
  private def posixBits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    PosixFilePermission.values.zipWithIndex.collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(withOwnership)

  /** `st` with the permission (sticky bit included), owner and group
    * that `ls -ld` would report for it; `st` itself for a symbolic link
    * or when the `unix` attribute view cannot answer.
    */
  private def withOwnership(st: FileStatus): FileStatus =
    try {
      val attrs = Files.readAttributes(pathToFile(st.getPath).toPath, "unix:mode,owner,group", LinkOption.NOFOLLOW_LINKS)
      val mode  = attrs.get("mode").asInstanceOf[Integer].intValue
      if ((mode & 0xf000) == 0xa000) st // S_IFLNK
      else
        new FileStatus(
          st.getLen,
          st.isDirectory,
          st.getReplication.toInt,
          st.getBlockSize,
          st.getModificationTime,
          st.getAccessTime,
          new FsPermission((mode & 0x3ff).toShort), // the rwx and sticky bits, 01777
          attrs.get("owner").asInstanceOf[UserPrincipal].getName,
          attrs.get("group").asInstanceOf[UserPrincipal].getName,
          st.getPath
        )
    } catch { case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => st }
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[NioRawLocalFileSystem]]; `FileSystem.getLocal` returns it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` file system over
  * [[NioRawLocalFileSystem]], with the overrides of Hadoop's
  * `RawLocalFs` (whose constructors are package-private).
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int                       = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("Hadoop deprecates the path-less form", "3.0")
  override def getServerDefaults: FsServerDefaults          = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean            = true
}

/** `FileContext`'s checksummed `file:` file system
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs` builds
  * it: on `file:///` whatever URI it is given.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

object NioLocalFileSystem {

  /** The Hadoop conf keys that make [[NioLocalFileSystem]] and
    * [[NioLocalFs]] the `file:` implementations.
    */
  val HadoopDefaults: Map[String, String] = Map(
    "fs.file.impl"                    -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName
  )
}
