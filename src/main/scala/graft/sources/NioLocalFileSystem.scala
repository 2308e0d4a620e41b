package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
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

  /** The raw (checksum-free) half: `setPermission` and the link lookups
    * differ. A sticky mode, which NIO cannot spell, goes to Hadoop's own
    * path.
    *
    * Without the native library, Hadoop's link-status lookup runs a
    * `readlink` process per call (`FileUtil.readLink`), and passes it
    * the `file:` URI string, which `readlink` cannot resolve, so a real
    * symlink comes back as a plain file. Spark's streaming checkpoint
    * asks `FileContext` for link status on every metadata write (32
    * processes per small pipeline DAG). Here `java.nio` reads the link:
    * a regular file or directory gets its `getFileStatus`, a symlink
    * its target's status with the link's target, as Hadoop documents. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    override def getFileLinkStatus(p: Path): FileStatus = {
      val f = pathToFile(p).toPath
      if (!Files.isSymbolicLink(f)) getFileStatus(p)
      else {
        val target = FSLinkResolver.qualifySymlinkTarget(getUri, p, getLinkTarget(p))
        if (!Files.exists(f)) // dangling: Hadoop's zero status
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
        else {
          val st = getFileStatus(p)
          new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
            st.getGroup, target, p)
        }
      }
    }

    /** The unqualified target; a path that is not a link throws. */
    override def getLinkTarget(p: Path): Path =
      new Path(Files.readSymbolicLink(pathToFile(p).toPath).toString)
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
