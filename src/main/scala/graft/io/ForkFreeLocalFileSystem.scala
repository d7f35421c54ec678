package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem the CDC lifecycle runs on.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem` starts a `chmod`
  * process for every `setPermission` (each file or dir it creates with a
  * permission) and a `readlink` process for every `getFileLinkStatus`
  * (every `FileContext.rename`, i.e. every checkpoint-log and state-store
  * commit). Each fork costs milliseconds from a multi-GB JVM; the same
  * answers cost microseconds through `java.nio`. This subclass gives them
  * through `java.nio` and keeps Hadoop's code only where `java.nio` does
  * not answer the same question: real symlinks, modes with the sticky bit
  * and filesystems without POSIX attributes.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: ordinal i is mode bit 8 - i
      PosixFilePermission.values.foreach { bit =>
        if ((mode & (0x100 >> bit.ordinal)) != 0) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** A path that is not a symlink has the same link status as status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the fork-free
  * raw filesystem, for `FileSystem` users (Parquet writes, the output
  * committer, the RocksDB checkpoint upload).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw `AbstractFileSystem` over the fork-free raw filesystem; the
  * overrides are those of Hadoop's `RawLocalFs`, whose constructors are
  * package-private.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem (Hadoop's `LocalFs` shape), for Spark's streaming
  * `CheckpointFileManager`, whose offset and commit logs and state-store
  * files are written to a temp file and renamed into place.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {

  /** `FilterFs` sends the one-argument `open`, the one Spark's checkpoint
    * reads use, straight to the raw filesystem: verify its `.crc` as the
    * buffered `open` does.
    */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object ForkFreeLocalFileSystem {

  /** Hadoop conf keys that put the fork-free filesystem behind `file:`.
    * `FileSystem.get` caches one instance per scheme and user, not per
    * conf, so an instance created before these keys were set would keep
    * being served: the cache is off for `file:` wherever they are set.
    */
  val confKeys: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
