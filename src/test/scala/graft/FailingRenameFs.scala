package graft

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

/** The local filesystem under its own `failrename` scheme, whose
  * `rename` reports failure (returns false, as Hadoop renames do) for
  * every source path [[FailingRenameFs.failing]] selects. Register it
  * with `fs.failrename.impl` and address paths as `failrename:///…`. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    !FailingRenameFs.failing.get()(src) && super.rename(src, dst)
}

object FailingRenameFs {
  val failing = new AtomicReference[Path => Boolean](_ => false)
}
