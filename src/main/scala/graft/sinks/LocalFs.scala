package graft.sinks

import java.io.{FileNotFoundException, OutputStream}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw `file:` filesystem without the child processes and the
  * in-place truncation of its write paths. Everything else, reads
  * included, is the stock class.
  *
  *  - `setPermission` goes through `java.nio` instead of a `chmod` child
  *    process. Without the native hadoop library the stock class runs
  *    `Shell.execCommand("chmod …")` for every file (data and `.crc`) and
  *    every directory it creates. The mode it receives already has the
  *    umask applied, so the modes on disk are unchanged. A sticky bit
  *    (no `PosixFilePermission` for it), an available `NativeIO` (no
  *    process anyway) or a non-POSIX platform keeps the stock path.
  *  - Overwriting an existing regular file deletes it and creates a new
  *    one, as HDFS `create(overwrite)` replaces a file, instead of
  *    truncating it in place. On ext4 (default `auto_da_alloc`) closing a
  *    truncated non-empty file starts writeback of it, e.g. the 8-byte
  *    `._SUCCESS.crc` every append commit rewrites; what that costs is
  *    the device's (0.5 ms against 0.3 ms for unlink + create on a quiet
  *    VM disk, tens of ms on a busy one). Append, `overwrite = false`, a
  *    directory or a symlink target behave as before. As on HDFS, the
  *    replacement needs write permission on the directory. The local FS
  *    never fsyncs, so a replaced file has a new part file's crash
  *    guarantee.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, as in the stock class, without the `readlink`
  *    process it starts first. `FileContext.rename` asks for it twice.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  import GraftRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit || !Posix)
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }

  // createOutputStream and every create/append path end here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
                                                    permission: FsPermission): OutputStream = {
    if (!append) {
      val file = pathToFile(f).toPath
      if (Files.isRegularFile(file, LinkOption.NOFOLLOW_LINKS)) Files.deleteIfExists(file)
    }
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The rwx bits of `p`; `PosixFilePermission.values` runs from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((p.toShort & (0x100 >> i)) != 0) set.add(bit)
    }
    set
  }
}

/** The engine's `fs.file.impl`: stock `LocalFileSystem` checksumming
  * (`.crc` files written and verified) over [[GraftRawLocalFileSystem]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** [[GraftRawLocalFileSystem]] as a `FileContext` filesystem; mirrors
  * `org.apache.hadoop.fs.local.RawLocalFs`, whose constructors are
  * package-private.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)

  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what a valid name is; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** The engine's `fs.AbstractFileSystem.file.impl` (streaming checkpoints
  * and `_spark_metadata` write through `FileContext`): checksummed like
  * `org.apache.hadoop.fs.local.LocalFs`, over [[GraftRawLocalFs]].
  */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
