package graft.storage

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without an OS process per file.
  *
  * Without `libhadoop`, Hadoop's `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates and `readlink` for every link
  * status a `FileContext` rename asks for. Each process blocks its
  * thread for milliseconds, and a micro-batch creates dozens of files
  * (parquet parts, state-store deltas, offset and commit log entries).
  * This class answers both in the JVM:
  *
  *  - `setPermission` sets the mode with `Files.setPosixFilePermissions`.
  *    A mode above 0777 (sticky, setuid, setgid) and a filesystem
  *    without POSIX attributes go to the stock `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what the stock code returns once
  *    `readlink` prints nothing. The probe is the stock one: the path's
  *    string as a `java.io.File`. For a qualified `file:/…` path that is
  *    never a link, so the stock answer there is also the plain status.
  *    A symlink goes to the stock code.
  *
  * Everything else, checksums included, is the stock class: the
  * `file:` scheme uses it through [[ForkFreeLocalFileSystem]] (a
  * `LocalFileSystem`, so `.crc` sidecars are written and verified) and
  * [[ForkFreeLocalFs]] (a `ChecksumFs`, for `FileContext`, which also
  * verifies a read opened without a buffer size).
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val rwx = permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[ForkFreeRawLocalFileSystem]], as `LocalFileSystem` is over
  * `RawLocalFileSystem`. A `LocalFileSystem`, so `FileSystem.getLocal`
  * keeps working.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {

  /** Refuses to replace an existing file, as HDFS does. So does the
    * `file:` class the Spark distribution resolves without this setting:
    * Hive's `ProxyLocalFileSystem`, which Hadoop finds by ServiceLoader.
    */
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile = try getFileStatus(dst).isFile catch { case _: FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** The `FileContext` side of [[ForkFreeRawLocalFileSystem]], mirroring
  * Hadoop's `local.RawLocalFs`. Hadoop constructs it reflectively with
  * `(URI, Configuration)`; the URI of the `file:` scheme is fixed.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1 // no default port for file:///

  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  /** Local filesystems differ in what names they accept; the OS decides. */
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem over [[ForkFreeRawLocalFs]], mirroring Hadoop's
  * `local.LocalFs`. Spark's checkpoint file manager (offset and commit
  * logs, state-store deltas) writes and reads through it.
  *
  * `open(path)` verifies checksums, as `open(path, bufferSize)` does.
  * The stock `ChecksumFs` inherits `FilterFs.open(path)`, which reads
  * the raw file and never its `.crc`; Spark's checkpoint manager opens
  * files that way, so its sidecars would be written and never checked.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {

  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
