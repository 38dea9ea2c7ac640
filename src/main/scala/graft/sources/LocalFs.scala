package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's raw local filesystem with
  * the two calls that fork a process when libhadoop is absent done in
  * java.nio instead. Stock `setPermission` runs `chmod` on every create
  * and mkdirs, and stock `getFileLinkStatus` runs `readlink` on every
  * `FileContext` create and rename; together they cost ~160 processes per
  * micro-batch on the spool, checkpoint-log, state-store and parquet
  * commit path. Everything else (checksums, `.crc` files, bytes written,
  * tmp→rename atomicity, the permission bits themselves) is the stock
  * code; `LocalFsSpec` holds the two differentially. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions` (which,
    * like `chmod`, follows a link); a sticky bit or a store without POSIX
    * attributes takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posixBits(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** A path that is not a link has the status of `getFileStatus`, which
    * is what the stock call returns once `readlink` answers "not a link";
    * a real link (dangling ones too) takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side, as
  * `org.apache.hadoop.fs.local.LocalFs` builds it (checksums over a raw
  * delegate; the URI argument is ignored there too). */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** The raw `FileContext` delegate, with the overrides of
  * `org.apache.hadoop.fs.local.RawLocalFs`. */
class GraftRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  /** The Hadoop keys that select the two wrappers above. `graft.Session`
    * sets them as `spark.hadoop.*`, and the build passes the same pairs
    * as `-Dspark.hadoop.*` to every JVM it forks. */
  val hadoopConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  private val ownerToOthers = attribute.PosixFilePermission.values() // 0400 first

  private[sources] def posixBits(mode: Int): java.util.Set[attribute.PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    for (i <- ownerToOthers.indices if (mode & (0x100 >> i)) != 0) s.add(ownerToOthers(i))
    s
  }
}
