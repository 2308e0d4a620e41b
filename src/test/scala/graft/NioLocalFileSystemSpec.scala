package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import graft.sources.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The local filesystem the sessions register as `fs.file.impl` (and
  * its `FileContext` twin, `fs.AbstractFileSystem.file.impl`) sets the
  * same modes as Hadoop's own, which starts a `chmod` per call. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

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
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "a/g").map(r => mode(root.resolve(r)))
    } finally fs.close()
  }

  test("files get 0644 and directories 0755, as Hadoop's own filesystem sets them") {
    val nio = modes(classOf[NioLocalFileSystem])
    assert(nio == Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--", "rw-------"))
    assert(nio == modes(classOf[LocalFileSystem]))
  }

  test("a FileContext create resolves to the NIO filesystem and writes mode 0644") {
    // Spark's streaming checkpoint writes through FileContext, whose file
    // scheme reads fs.AbstractFileSystem.file.impl, not fs.file.impl
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFileSystem.Fs].getName)
    val root = Files.createTempDirectory("graft_nio_fc")
    val fc = FileContext.getFileContext(root.toUri, conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFileSystem.Fs])
    fc.create(new Path(new Path(root.toUri), "f"), EnumSet.of(CreateFlag.CREATE)).close()
    assert(Seq("f", ".f.crc").map(r => mode(root.resolve(r))) == Seq("rw-r--r--", "rw-r--r--"))
  }

  test("link status through FileContext: a file is its own status, a symlink names its target") {
    // Spark's streaming checkpoint asks FileContext for link status;
    // Hadoop's lookup starts a readlink process per call without the
    // native library
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFileSystem.Fs].getName)
    val root = Files.createTempDirectory("graft_nio_link")
    val fc = FileContext.getFileContext(root.toUri, conf)
    val f = new Path(new Path(root.toUri), "f")
    val out = fc.create(f, EnumSet.of(CreateFlag.CREATE))
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val (link, st) = (fc.getFileLinkStatus(f), fc.getFileStatus(f))
    assert(!link.isSymlink && link.isFile)
    assert((link.getPath, link.getLen, link.getModificationTime, link.getPermission) ==
      (st.getPath, st.getLen, st.getModificationTime, st.getPermission))
    Files.createSymbolicLink(root.resolve("l"), root.resolve("f"))
    val l = fc.getFileLinkStatus(new Path(new Path(root.toUri), "l"))
    assert(l.isSymlink, s"a symlink reported as $l")
    assert(l.getSymlink.toUri.getPath == root.resolve("f").toString)
    assert(fc.getLinkTarget(new Path(new Path(root.toUri), "l")).toUri.getPath ==
      root.resolve("f").toString)
  }
}
