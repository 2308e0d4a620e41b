package graft.sim

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
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
  * the destination is unoccupied only between the two renames.
  * In-JVM builds additionally serialize on a per-path lock.
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
  private def indexDir(dataDir: String, name: String): String = {
    val canon =
      if (dataDir.contains("://")) dataDir
      else Paths.get(dataDir).toAbsolutePath.normalize.toString
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"$root/${canon.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(48)}-$key/$name"
  }

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
  def tableFingerprint(spark: SparkSession, dataDir: String,
                       table: String): String = {
    val p = new HPath(s"$dataDir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) s"$table:absent"
    else {
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      // entries key on the path RELATIVE to the table root, not the
      // basename: in a partitioned layout two files in different
      // subdirectories with equal (name, length, mtime) could swap
      // without a basename-keyed fingerprint noticing
      val rootUri = p.toUri.getPath
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        // _SUCCESS/.crc markers churn without data meaning; data files
        // (part-*.parquet) are what the scan reads
        if (!s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")) {
          val full = s.getPath.toUri.getPath
          val rel =
            if (full.startsWith(rootUri)) full.drop(rootUri.length).stripPrefix("/")
            else full
          entries += s"$rel|${s.getLen}|${s.getModificationTime}"
        }
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.sorted.foreach(e => md.update(e.getBytes(StandardCharsets.UTF_8)))
      s"$table:n=${entries.size};md5=" +
        md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The embeddings collection's staleness guard (vector indexes). */
  def embeddingsFingerprint(spark: SparkSession, dataDir: String): String =
    tableFingerprint(spark, dataDir, "embeddings")

  /** The documents corpus's staleness guard ([[graft.text.Relevance]]'s
    * BM25 postings). */
  def documentsFingerprint(spark: SparkSession, dataDir: String): String =
    tableFingerprint(spark, dataDir, "documents")

  /** Serialize build-once semantics per index path within this JVM; the
    * temp-dir + rename protocol covers cross-process readers. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-session memo of the SERVE handles — the warehouse-store
    * pattern ([[graft.warehouse.Warehouse]]'s `cache`), hoisted into the
    * store itself so every family gets it: a hit costs a map lookup
    * instead of a stale-vintage sweep + manifest read + one
    * `spark.read.parquet` (file listing + footer) PER TABLE — measured
    * 0.29–0.37 s per serve call on a 4-table store at sf0.1, pure
    * metadata IO repeated identically on every call. The memo holds
    * DataFrame HANDLES, not results: every action still reads the
    * stored parquet. Staleness detection is untouched because the
    * caller-computed source FINGERPRINT is part of the key — callers
    * still fingerprint their source tables per call (O(#files)
    * listing), and any collection rewrite changes the fingerprint,
    * missing the memo and re-entering the full manifest/rebuild path.
    * Keyed by applicationId and evicted across sessions so a stopped
    * session's plans are never served to a new one. */
  private val served = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, String, String), Map[String, DataFrame]]()

  /** Test hook: the memo's current keys
    * (appId, dataDir, name, version+tables, fingerprint). */
  private[graft] def servedKeys: Set[(String, String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    served.keySet().asScala.toSet
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
    * and miss paths). */
  def loadOrBuild(spark: SparkSession, dataDir: String, name: String,
                  version: String, fingerprint: String, tables: Seq[String])
                 (build: => Map[String, DataFrame]): Map[String, DataFrame] = {
    val appId = spark.sparkContext.applicationId
    val key = (appId, dataDir, name,
      s"$version\n${tables.mkString(",")}", fingerprint)
    val hit = served.get(key)
    if (hit != null) return hit
    val dir = indexDir(dataDir, name)
    locks.computeIfAbsent(dir, _ => new Object).synchronized {
      // a thread that waited here while another built this vintage
      // serves that thread's handles instead of reading the store again
      val built = served.get(key)
      if (built != null) built
      else {
        // Eviction on the miss path, two rules:
        //  - SUPERSEDED vintages of THIS index for THIS app (same dataDir +
        //    name, different version/fingerprint) can never hit again — a
        //    collection rewrite changed the fingerprint — and would
        //    otherwise pin their DataFrame plans for the session's
        //    lifetime.
        //  - entries of STOPPED applications only: a blanket
        //    "everything foreign" sweep made two live sessions in one JVM
        //    mutually evict each other's memo on every miss, defeating it.
        //    Liveness is read off the stored handles themselves (a
        //    DataFrame carries its session); a handle-less entry is dead
        //    weight either way.
        served.entrySet().removeIf { e =>
          val k = e.getKey
          (k._1 == appId && k._2 == dataDir && k._3 == name && k != key) ||
            (k._1 != appId && e.getValue.values.headOption.forall(
              _.sparkSession.sparkContext.isStopped))
        }
        val loaded = loadOrBuildLocked(spark, dir, name, version, fingerprint, tables)(build)
        served.put(key, loaded)
        loaded
      }
    }
  }

  /** The manifest check and, on a miss, the build and commit; the
    * caller holds `dir`'s lock. */
  private def loadOrBuildLocked(spark: SparkSession, dir: String, name: String,
                                version: String, fingerprint: String, tables: Seq[String])
                 (build: => Map[String, DataFrame]): Map[String, DataFrame] = {
    val fs = fsOf(spark, dir)
    val dirP = new HPath(dir)
    // sweep vintages stranded by a crash mid-commit: a `.tmp-*` whose
    // build never swapped in, or a `.old-*` parked copy whose final
    // delete (or best-effort restore) failed — both are dead weight
    // that would otherwise accumulate on disk indefinitely. Under the
    // per-path lock, and only siblings of THIS index's directory.
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
        // rename-ASIDE commit (not delete-then-rename): park the old
        // vintage under a unique .old name, swap the temp dir in, then
        // delete the parked copy — the destination is unoccupied for
        // only the instant between two renames, so a concurrent builder
        // in another process recreating it mid-commit (which would make
        // Hadoop rename NEST tmp inside it) has the narrowest possible
        // window, and a failed swap restores the old vintage instead of
        // leaving nothing
        fs.mkdirs(dirP.getParent)
        val oldP = new HPath(s"$dir.old-${java.util.UUID.randomUUID().toString.take(8)}")
        val parked = fs.exists(dirP) && fs.rename(dirP, oldP)
        if (!fs.rename(tmpP, dirP)) {
          // restore the parked vintage; a failed restore must be LOUD —
          // silently losing it would leave no committed index at all
          // (the stranded .old-* is swept at next loadOrBuild entry)
          val restored = parked && fs.rename(oldP, dirP)
          throw new java.io.IOException(
            s"could not commit index build: rename $tmpP -> $dirP failed" +
              (if (parked && !restored)
                s"; restore of parked vintage $oldP ALSO failed — old index stranded aside"
              else if (restored) "; old vintage restored"
              else ""))
        }
        if (parked && !fs.delete(oldP, true))
          System.err.println(s"[indexstore] could not delete parked vintage $oldP (swept at next entry)")
        tables.map(t => t -> built(t).schema).toMap
      }
    tables.map { t =>
      val path = new HPath(dirP, t).toString
      t -> written.get(t).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    }.toMap
  }
}
