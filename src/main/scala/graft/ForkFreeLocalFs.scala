package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every file
  * and directory it creates (a checksummed file is two: data and
  * `.crc`), and `getFileLinkStatus` — which `FileContext` renames of
  * streaming checkpoints call — forks `readlink`. At 1.7–3.5 ms a fork,
  * that was ~9 forks per one-file append and ~35 per micro-batch. This
  * subclass sets modes through `java.nio` (the same umask-derived modes
  * the `chmod` path gave) and reads a link only when the path is one.
  * The checksum wrappers stay, so `.crc` side files are written and
  * verified as before.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API's `file:` scheme: checksummed, over the
  * fork-free raw file system. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API's raw `file:` scheme, with `RawLocalFs`'s
  * overrides (no default port, every name valid, local server
  * defaults); symlink support is delegated to the raw file system. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` API's `file:` scheme (streaming checkpoints and
  * state stores): checksummed like Hadoop's `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  /** Session settings that route both Hadoop file APIs' `file:` paths
    * through the fork-free classes. Every session builder applies these. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
