package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's local filesystem with its
  * two shell-outs done in-process.
  *
  * Without libhadoop (`NativeIO.isAvailable()` false), `RawLocalFileSystem`
  * forks `chmod` for every file and directory it creates, and its link
  * check forks `readlink` for every status FileContext's rename takes.
  * Every index commit, streaming offset/commit/state file and MR output
  * file paid those forks (about 160 per IVF write, 325 per streaming-row
  * run, measured with JFR `jdk.ProcessStart`).
  *
  * `src/main/resources/core-site.xml` binds the `file` scheme to these
  * classes (`fs.file.impl` for `FileSystem`, `fs.AbstractFileSystem.file.impl`
  * for FileContext), so every `Configuration` in the JVM resolves to them.
  * Checksums, permission bits and rename semantics are Hadoop's own;
  * only the way the mode is applied and a link is detected changes.
  */
class RawNioFileSystem extends RawLocalFileSystem {

  /** The post-umask mode Hadoop hands in, applied by `java.nio`. A mode
    * with bits beyond rwxrwxrwx (sticky) keeps Hadoop's `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
  }

  /** Hadoop's link status only for a real link. On any other path the
    * stock answer is `getFileStatus` already (its `readlink` fork fails
    * on the `file:` URI it is handed, and an empty target means "not a
    * link"), so that is called directly. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `file://` (`.crc` sidecars written
  * and verified as by Hadoop's). A `LocalFileSystem`, because
  * `FileSystem.getLocal` casts to it. */
class NioLocalFileSystem extends LocalFileSystem(new RawNioFileSystem)

/** The raw FileContext filesystem: Hadoop's `RawLocalFs` (whose
  * constructors are package-private) over [[RawNioFileSystem]]. */
class RawNioFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawNioFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext filesystem for `file://`, as Hadoop's
  * `LocalFs`. Spark's streaming checkpoint manager and state stores
  * write through it. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawNioFs(uri, conf))
