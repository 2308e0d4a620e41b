package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem the sessions register as `fs.file.impl` sets
  * the same modes as Hadoop's own, which starts a `chmod` per call. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  /** Modes of a directory pair, a created file and its checksum, and a
    * file set to 0600, as `impl` leaves them. */
  private def modes(impl: Class[_ <: FileSystem]): Seq[String] = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val root = Files.createTempDirectory("graft_nio_fs")
    val fs = FileSystem.get(root.toUri, conf)
    try {
      assert(fs.getClass == impl)
      val base = new Path(root.toUri)
      assert(fs.mkdirs(new Path(base, "a/b")))
      fs.create(new Path(base, "a/b/f")).close()
      fs.create(new Path(base, "a/g")).close()
      fs.setPermission(new Path(base, "a/g"), new FsPermission("600"))
      def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "a/g").map(r => mode(root.resolve(r)))
    } finally fs.close()
  }

  test("files get 0644 and directories 0755, as Hadoop's own filesystem sets them") {
    val nio = modes(classOf[NioLocalFileSystem])
    assert(nio == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--", "rw-------"))
    assert(nio == modes(classOf[LocalFileSystem]))
  }
}
