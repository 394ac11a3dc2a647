package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** The `file:` file system graft sessions run on ([[graft.GraftSession]] sets
  * `fs.file.impl` and `fs.AbstractFileSystem.file.impl` to the two classes
  * below). Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and every local write calls it once per created
  * directory level, data file and `.crc` file: about 22 forks per small
  * hourly overwrite. [[GraftRawLocalFileSystem]] sets the same bits in-process;
  * the wrappers keep checksums exactly as the stock `LocalFileSystem` /
  * `LocalFs` do. Other schemes are untouched.
  */
object LocalFileSystems {
  /** Hadoop conf key -> class, as set through `spark.hadoop.*`. */
  val Confs: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}

/** `RawLocalFileSystem` whose `setPermission` is a `chmod(2)` through NIO
  * instead of a forked `chmod` process. NIO cannot express the sticky bit,
  * and a store without POSIX attributes cannot take the call at all; both
  * keep Hadoop's own path.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try {
      // without the sticky bit, toString is the nine-letter form ("rwxr-x---")
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` over the
  * in-process permission setter, so `.crc` files are written and verified
  * as before. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext`'s raw `file:` layer over the same setter; mirrors Hadoop's
  * `RawLocalFs`, whose constructors are package-private. */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Spark's streaming checkpoint manager
  * writes through `FileContext`, which never reads `fs.file.impl`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
