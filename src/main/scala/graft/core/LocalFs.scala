package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system `Tables.session` uses for `file:` paths.
  *
  * Without the native libhadoop, Hadoop's `RawLocalFileSystem` starts a
  * `chmod` process for every file it creates and every directory it makes,
  * and a `readlink` process for every `FileContext.rename`: about 130
  * process starts per live `ingest_mv` micro-batch (state-store delta and
  * checksum files, the offset/commit logs, the MV write), 1.5–1.7 ms each
  * from a 6 GB JVM on 4 cores. Here the two calls go through `java.nio`,
  * and through Hadoop's own path wherever the two could differ. */
object LocalFs {
  private class Raw extends RawLocalFileSystem {
    /** `chmod` keeps a directory's setuid/setgid bits and can set the
      * sticky bit; `setPosixFilePermissions` writes the nine rwx bits only. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val setIdBits = 0xc00 // 06000
      if (permission.getStickyBit ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & setIdBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
    }

    /** Hadoop's version asks `readlink` whether `f` is a symlink and, when
      * it is not (or when `f` is a `file:` URI, which `readlink` cannot
      * open), returns `getFileStatus(f)`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** For `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]].
    * Unset, `file:` resolves to Hive's `ProxyLocalFileSystem` (hive-exec
    * registers it for the scheme), a path-translating wrapper around the
    * same `LocalFileSystem`. */
  class FileSystem extends org.apache.hadoop.fs.LocalFileSystem(new Raw)

  /** For `fs.AbstractFileSystem.file.impl` (`FileContext`, which Spark's
    * checkpoint file manager uses): Hadoop's `LocalFs` over [[Raw]].
    * Hadoop calls the (URI, Configuration) constructor by reflection. */
  class AbstractFileSystem(uri: URI, conf: Configuration) extends ChecksumFs(new RawAbstract(conf))

  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private class RawAbstract(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
