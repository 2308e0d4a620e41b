package graft.sim

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.Paths

/** Persisted index artifacts — the build/serve separation every trained
  * ANN structure needs at scale. Training an IVF coarse quantizer or a
  * PQ codebook is a multi-pass job over the collection; SERVING a query
  * is a few joins against the trained tables. A 100 TB deployment
  * builds the index once per collection vintage and answers millions of
  * queries against the stored artifact — retraining inline per query
  * batch (what [[Pq.search]] and [[Ivfpq.search]] did through round 9)
  * conflates the two costs and re-pays the expensive one every call.
  *
  * The store is deliberately dumb: each index is a directory of parquet
  * tables plus a `_manifest` file written LAST (the commit marker). A
  * manifest records the artifact VERSION (index family + every training
  * hyperparameter baked into the layout) and a cheap FINGERPRINT of the
  * source collection; a load whose manifest is missing or disagrees on
  * either string rebuilds. Because every build is deterministic (fixed
  * Lloyd iterations, integer-grid arithmetic, total tie-break orders —
  * the property the DuckDB oracles already verify), load-or-build is
  * referentially transparent: the served tables are bit-identical to
  * what an inline retrain would produce, so the oracle replay of the
  * TRAINING still hash-proves the SERVED index.
  *
  * Fingerprint = a digest of the source table's file METADATA (sorted
  * path/length/mtime triples — see [[tableFingerprint]]): any rewrite
  * of the collection produces new part-file names, so a regenerated
  * collection invalidates the index however little of its content
  * changed (a first-component-only content probe missed exactly the
  * in-place-regeneration case), while the serve-path cost is an
  * O(#files) listing — decoupled from collection size, which content
  * checksums are not (measured ~7 s/serve at the 300× rung). A vintage
  * system with real mutation tracking would key on a table version
  * instead; plain parquet directories have none.
  *
  * Durability protocol (what makes the commit marker honest on a real
  * deployment): EVERYTHING — tables and manifest — goes through the
  * Hadoop FileSystem of the index root's scheme, so a cluster whose
  * default FS is not the driver's local disk keeps marker and data on
  * the SAME filesystem. A build writes tables into a fresh temp
  * directory, writes the manifest there LAST, then swaps the temp dir
  * into place with a rename-aside (old vintage parked under a unique
  * name, temp renamed in, parked copy deleted) — a reader in another
  * process sees either the complete old vintage, nothing (rebuilds),
  * or the complete new vintage, never a half-overwritten table, and
  * the destination is unoccupied only between the two renames
  * ([[swapIn]], which [[graft.sources.Sources.compactParquet]] shares).
  * In-JVM builds additionally serialize on the index's [[graft.Memo]]
  * slot lock.
  *
  * Location: `GRAFT_INDEX_DIR` (default: a `graft-indexes` directory
  * under java.io.tmpdir), keyed by the canonical data directory — the
  * read-only source tables are never written to.
  */
object IndexStore {

  def root: String = sys.env.getOrElse("GRAFT_INDEX_DIR",
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-indexes")

  /** One directory per (collection dir, index family). URI-style data
    * dirs (scheme://…) are keyed verbatim — nio canonicalization would
    * resolve them against the driver cwd, which is meaningless for a
    * remote scheme and unstable across processes. */
  private[graft] def indexDir(dataDir: String, name: String): String = {
    val canon =
      if (dataDir.contains("://")) dataDir
      else Paths.get(dataDir).toAbsolutePath.normalize.toString
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"$root/${canon.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(48)}-$key/$name"
  }

  /** The vintage of a set of source tables: each table's staleness
    * fingerprint, joined by `|` — for one table exactly its fingerprint,
    * the string stored manifests record. Every stored asset and every
    * [[graft.Memo]] slot keyed on source data names its vintage here. */
  def vintage(spark: SparkSession, dataDir: String, tables: Seq[String]): String =
    tables.map(tableFingerprint(spark, dataDir, _)).mkString("|")

  /** Total length of the data files of a set of source tables: the
    * files [[vintage]] fingerprints, from the same listing. An absent
    * table counts zero. */
  def sourceBytes(spark: SparkSession, dataDir: String, tables: Seq[String]): Long =
    tables.flatMap(dataFiles(spark, dataDir, _).getOrElse(Nil)).map(_._2.getLen).sum

  /** Staleness fingerprint of one source table: an MD5 over the sorted
    * (path, length, modification time) of every data file under the
    * table directory — file METADATA, no content scan.
    *
    * Why this catches every regeneration: Spark (and every parquet
    * writer in this lineage) writes part files with fresh task UUIDs in
    * their names, so an in-place rewrite changes the path set itself —
    * content never changes under an unchanged (path, length, mtime)
    * triple short of deliberate filesystem surgery, and the failure
    * direction of any residual doubt is a spurious REBUILD (safe), not
    * a stale serve. Earlier rounds checksummed vector components
    * instead; that read the whole collection per serve call (~7 s of
    * interpreted lambdas at the 300× rung, charged to every query
    * batch) — metadata listing is O(#files) and keeps the serve path
    * truly decoupled from collection size, which at 100 TB is the only
    * option anyway. */
  private def tableFingerprint(spark: SparkSession, dataDir: String,
                               table: String): String =
    dataFiles(spark, dataDir, table) match {
      case None => s"$table:absent"
      case Some(files) =>
        val entries = files.map { case (rel, s) => s"$rel|${s.getLen}|${s.getModificationTime}" }
        val md = java.security.MessageDigest.getInstance("MD5")
        entries.sorted.foreach(e => md.update(e.getBytes(StandardCharsets.UTF_8)))
        s"$table:n=${entries.size};md5=" +
          md.digest().map("%02x".format(_)).mkString
    }

  /** The data files of source table `<dataDir>/<table>.parquet`, each
    * with its path relative to the table root, or None when the table
    * is absent. */
  private def dataFiles(spark: SparkSession, dataDir: String,
                        table: String): Option[Seq[(String, FileStatus)]] = {
    val p = new HPath(s"$dataDir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = scala.collection.mutable.ArrayBuffer.empty[(String, FileStatus)]
      // each file is keyed on its path RELATIVE to the table root, not the
      // basename: in a partitioned layout two files in different
      // subdirectories with equal (name, length, mtime) could swap
      // without a basename-keyed fingerprint noticing
      val rootUri = p.toUri.getPath
      // the files `listFiles(p, recursive = true)` yields, walked with
      // plain `listStatus`: listFiles wraps each status in a
      // LocatedFileStatus, which on the local filesystem without
      // Hadoop's native library starts a `stat` process per file for
      // permissions this walk never reads (measured ~5 ms per
      // single-file table against ~0.02 ms)
      def walk(s: FileStatus): Unit =
        if (s.isDirectory) fs.listStatus(s.getPath).foreach(walk)
        // _SUCCESS/.crc markers churn without data meaning; data files
        // (part-*.parquet) are what the scan reads
        else if (!s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")) {
          val full = s.getPath.toUri.getPath
          val rel =
            if (full.startsWith(rootUri)) full.drop(rootUri.length).stripPrefix("/")
            else full
          files += rel -> s
        }
      fs.listStatus(p).foreach(walk)
      Some(files.toSeq)
    }
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readManifest(fs: FileSystem, p: HPath): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }

  /** Load the named index's tables if a committed build for this
    * (version, fingerprint) exists; otherwise run `build`, persist each
    * returned table into a temp directory, commit via manifest-last +
    * atomic directory rename, and read the tables back — so the caller
    * ALWAYS serves from the stored parquet (identical plans on the hit
    * and miss paths).
    *
    * The serve HANDLES are memoized per application in the index
    * directory's [[graft.Memo]] slot, with version, tables and
    * fingerprint as the vintage: a hit costs a map lookup instead of a
    * stale-vintage sweep + manifest read + one `spark.read.parquet`
    * (file listing + footer) PER TABLE — measured 0.29–0.37 s per serve
    * call on a 4-table store at sf0.1. The memo holds DataFrame
    * handles, not results: every action still reads the stored parquet.
    * Staleness detection is untouched because callers compute the
    * source fingerprint per call (an O(#files) listing, [[vintage]]),
    * and any collection rewrite changes it, misses the memo and
    * re-enters the manifest/rebuild path. */
  def loadOrBuild(spark: SparkSession, dataDir: String, name: String,
                  version: String, fingerprint: String, tables: Seq[String])
                 (build: => Map[String, DataFrame]): Map[String, DataFrame] = {
    val dir = indexDir(dataDir, name)
    graft.Memo(spark, ("index", dir), s"$version\n${tables.mkString(",")}\n$fingerprint")(
      loadOrBuildLocked(spark, dir, name, version, fingerprint, tables)(build))
  }

  /** The manifest check and, on a miss, the build and commit; the
    * caller holds `dir`'s memo slot. */
  private def loadOrBuildLocked(spark: SparkSession, dir: String, name: String,
                                version: String, fingerprint: String, tables: Seq[String])
                 (build: => Map[String, DataFrame]): Map[String, DataFrame] = {
    val fs = fsOf(spark, dir)
    val dirP = new HPath(dir)
    // sweep vintages stranded by a crash mid-commit: a `.tmp-*` whose
    // build never swapped in, or a `.old-*` parked copy whose final
    // delete (or best-effort restore) failed — both are dead weight
    // that would otherwise accumulate on disk indefinitely. Under the
    // index's memo slot lock, and only siblings of THIS index's directory.
    val parent = dirP.getParent
    if (parent != null && fs.exists(parent)) {
      val base = dirP.getName
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(base + ".tmp-") || n.startsWith(base + ".old-")) {
          if (!fs.delete(st.getPath, true))
            System.err.println(s"[indexstore] could not sweep stale vintage ${st.getPath}")
        }
      }
    }
    val manifest = new HPath(dirP, "_manifest")
    val want = s"version=$version\nfingerprint=$fingerprint\ntables=${tables.mkString(",")}"
    // a vintage built here is served with the schemas it was written
    // with; a stored one is read with inference (one footer job per table)
    val written: Map[String, StructType] =
      if (readManifest(fs, manifest).contains(want)) Map.empty
      else {
        val built = build
        require(tables.forall(built.contains),
          s"index build for $name must produce ${tables.mkString(",")}; got ${built.keys.mkString(",")}")
        // stage the whole vintage in a temp sibling, manifest LAST,
        // then swap it in with one directory rename — another process
        // never observes tables without their manifest or a mix of
        // vintages
        val tmpP = new HPath(s"$dir.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        tables.foreach(t =>
          built(t).write.mode("overwrite").parquet(new HPath(tmpP, t).toString))
        val out = fs.create(new HPath(tmpP, "_manifest"), true)
        try out.write(want.getBytes(StandardCharsets.UTF_8)) finally out.close()
        fs.mkdirs(dirP.getParent)
        swapIn(fs, tmpP, dirP)
        tables.map(t => t -> built(t).schema).toMap
      }
    tables.map { t =>
      val path = new HPath(dirP, t).toString
      t -> written.get(t).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    }.toMap
  }

  /** Commit `staged` as `dest` with a rename-ASIDE swap (not
    * delete-then-rename): park the old `dest` under a unique `.old-*`
    * sibling, rename `staged` in, then delete the parked copy. The
    * destination is unoccupied only between the two renames, so a
    * concurrent writer in another process recreating it mid-commit
    * (which would make Hadoop rename NEST `staged` inside it) has the
    * narrowest possible window. Any failed rename throws, and a failed
    * swap first restores the parked copy — `dest` is never left
    * without a complete version while one existed. */
  private[graft] def swapIn(fs: FileSystem, staged: HPath, dest: HPath): Unit = {
    val oldP = new HPath(s"$dest.old-${java.util.UUID.randomUUID().toString.take(8)}")
    val parked = fs.exists(dest)
    if (parked && !fs.rename(dest, oldP))
      throw new java.io.IOException(s"could not commit $staged: rename $dest -> $oldP failed; $dest unchanged")
    if (!fs.rename(staged, dest)) {
      // restore the parked copy; a failed restore must be LOUD —
      // silently losing it would leave no committed version at all
      val restored = parked && fs.rename(oldP, dest)
      throw new java.io.IOException(
        s"could not commit $staged: rename $staged -> $dest failed" +
          (if (parked && !restored) s"; restore of parked copy $oldP ALSO failed — stranded aside"
          else if (restored) "; old copy restored"
          else ""))
    }
    if (parked && !fs.delete(oldP, true))
      System.err.println(s"[indexstore] could not delete parked copy $oldP")
  }
}
