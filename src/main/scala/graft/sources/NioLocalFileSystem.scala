package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file process spawns.
  *
  * Without `libhadoop` (Spark's jars ship none), the stock class forks
  * `chmod` for every file and directory it creates and `readlink` for
  * every link-status probe. This subclass does both in-process and leaves
  * everything else (checksums, renames, listing) to Hadoop:
  *  - `setPermission` makes the same chmod(2) call as Hadoop's NativeIO
  *    path, through `java.nio`. A permission with a bit beyond the nine
  *    rwx bits (sticky) takes Hadoop's own route.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what the stock class returns for it after
  *    the `readlink` fork. Real symlinks take Hadoop's own route.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE: bits 8 to 0.
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) bits.add(PosixFilePermission.values()(i))
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` API that stream
  * checkpoints use): Hadoop's `LocalFs` over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
