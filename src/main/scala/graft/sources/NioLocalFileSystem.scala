package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem, with permissions set through
  * `java.nio` instead of a `chmod` process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `Shell.execCommand("chmod", …)`, and it is called on every file
  * create and every mkdirs: one small pipeline DAG started 420 `chmod`
  * processes (JFR `jdk.ProcessStart`), each ~1.7 ms against ~0.01 ms for
  * `Files.setPosixFilePermissions`. Modes are unchanged (0644 files,
  * 0755 directories under the default umask). Registered as
  * `fs.file.impl` by the session builders, and its `FileContext` twin
  * [[NioLocalFileSystem.Fs]] as `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw (checksum-free) half: only `setPermission` differs. A
    * sticky mode, which NIO cannot spell, goes to Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** The local filesystem of Hadoop's `FileContext` API (Spark's
    * streaming checkpoint writes through it), over [[Raw]]: Hadoop's
    * `LocalFs`, whose raw half `RawLocalFs` cannot be given another
    * `RawLocalFileSystem` (its constructors are package-private). The
    * `(URI, Configuration)` constructor is the one `FileContext` calls. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  /** `RawLocalFs` over [[Raw]], with `RawLocalFs`'s overrides (the
    * deprecated no-argument `getServerDefaults` is not called through
    * `FileContext`). */
  private class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
