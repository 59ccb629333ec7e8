package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per call.
  *
  * Spark ships without libhadoop, so the stock `RawLocalFileSystem` falls
  * back to the shell: it forks `chmod` for every file, `.crc` file and
  * directory it creates, and `readlink` on every `getFileLinkStatus`,
  * which `FileContext.rename` calls several times per streaming
  * checkpoint commit: ~2 ms per child process from a multi-GB JVM, 616
  * of them per `lob_scaled` benchmark pass. These two overrides do the
  * same through `java.nio.file` and fall back to `super` wherever the
  * result could differ.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` with the 9 permission bits. `super` keeps the cases NIO
    * cannot express: the sticky bit, a store without the `unix` view, and
    * a directory carrying setuid/setgid, which GNU `chmod 0755` keeps on
    * a directory and `chmod(2)` through NIO would clear.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || !LocalFs.UnixStore || LocalFs.setIdDir(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, LocalFs.posix(permission.toShort))
  }

  /** A path that is not a symlink has the same link status as file
    * status: `super` would fork `readlink`, get "" back and return
    * `getFileStatus(f)`. Symlinks keep the stock path. (Stock Hadoop runs
    * `readlink` on `f.toString`, which for a qualified `file:/…` path
    * names no file, so it reports no symlink for qualified paths; deferring
    * to `super` keeps that too.)
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Checksummed (`.crc`) local `FileSystem` over [[NioRawLocalFileSystem]],
  * for `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Checksummed local `AbstractFileSystem` for `fs.AbstractFileSystem.file.impl`,
  * the `FileContext` side (Spark's streaming checkpoint manager): Hadoop's
  * `LocalFs` over [[NioRawLocalFs]].
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (the same four overrides) over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

private[io] object LocalFs {
  val UnixStore = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  def setIdDir(file: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0 // S_IFDIR with S_ISUID or S_ISGID
  }

  // PosixFilePermission's declaration order is the mode's bit order,
  // OWNER_READ (0400) first to OTHERS_EXECUTE (0001) last
  def posix(mode: Short): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}
