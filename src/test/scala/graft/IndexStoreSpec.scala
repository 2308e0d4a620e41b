package graft

import graft.sim.{IndexStore, Pq}
import org.apache.spark.sql.functions._

/** The persisted-index store's contract: build once, serve the stored
  * artifact, and NEVER serve a stale one — a collection that changed
  * under the same directory must be detected by the fingerprint and
  * trigger a rebuild (the failure mode that would silently break the
  * oracle's training-replay equality). */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(dir: String, shift: Float): Unit =
    (0 until 64).map { i =>
      (i.toLong, (0 until 64).map(d => (i * 64 + d) / 4096.0f + shift), s"l${i % 3}")
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("source bytes sum the data files the vintage lists, and an absent table counts zero") {
    val dir = java.nio.file.Files.createTempDirectory("idxbytes").toString
    writeCorpus(dir, 0.0f)
    val table = new java.io.File(s"$dir/embeddings.parquet")
    // part files only: _SUCCESS and the .crc checksums are not data
    val parts = table.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && table.listFiles().exists(_.getName.startsWith(".")))
    assert(IndexStore.sourceBytes(spark, dir, Seq("embeddings", "absent")) == parts.map(_.length).sum)
  }

  test("a changed collection under the same path rebuilds the index") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore").toString
    writeCorpus(dir, 0.0f)
    val v1 = canon(Pq.index(spark, dir).codes)
    // same bytes → fingerprint hit → served artifact identical
    assert(canon(Pq.index(spark, dir).codes) == v1)
    // regenerate the collection IN PLACE (same row count, same vec_ids,
    // different components) — count+key checksums alone would miss it;
    // the component checksum must not
    writeCorpus(dir, 0.25f)
    val v2 = canon(Pq.index(spark, dir).codes)
    val fresh = canon(Pq.buildIndex(spark, dir).codes)
    assert(v2 == fresh, "served index must equal a fresh build on the new collection")
    // and the codebooks really differ across the two collection vintages
    val cb2 = canon(Pq.index(spark, dir).codebook)
    writeCorpus(dir, 0.0f)
    assert(canon(Pq.index(spark, dir).codebook) != cb2,
      "reverting the collection must revert the served codebook")
  }

  test("fingerprint distinguishes component changes at fixed count and keys") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fp").toString
    writeCorpus(dir, 0.0f)
    val f0 = IndexStore.vintage(spark, dir, Seq("embeddings"))
    writeCorpus(dir, 0.25f)
    assert(IndexStore.vintage(spark, dir, Seq("embeddings")) != f0)
  }

  test("fingerprint sees a change confined to one non-zero dimension") {
    // regression: a first-component-only content checksum passed any
    // in-place regeneration that left dim 0 untouched — the
    // file-status fingerprint catches EVERY rewrite because parquet
    // writers mint fresh part-file names
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fp1").toString
    def write(bump: Float): Unit =
      (0 until 64).map { i =>
        (i.toLong,
          (0 until 64).map(d =>
            (i * 64 + d) / 4096.0f + (if (d == 7) bump else 0.0f)),
          s"l${i % 3}")
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(0.0f)
    val f0 = IndexStore.vintage(spark, dir, Seq("embeddings"))
    write(0.5f)
    assert(IndexStore.vintage(spark, dir, Seq("embeddings")) != f0,
      "a dim-7-only edit must change the fingerprint")
  }

  test("fingerprint sees a dimension permutation at fixed component sums") {
    // swapping two components per row would fool a plain component-sum
    // checksum; the rewrite itself must invalidate
    val dir = java.nio.file.Files.createTempDirectory("idxstore-fpperm").toString
    def write(swap: Boolean): Unit =
      (0 until 64).map { i =>
        val base = (0 until 64).map(d => (i * 64 + d) / 4096.0f)
        val emb = if (swap) base.updated(0, base(1)).updated(1, base(0)) else base
        (i.toLong, emb, s"l${i % 3}")
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    write(swap = false)
    val f0 = IndexStore.vintage(spark, dir, Seq("embeddings"))
    write(swap = true)
    assert(IndexStore.vintage(spark, dir, Seq("embeddings")) != f0,
      "a component swap must change the fingerprint")
  }

  test("vintage is the recursive-listing digest stored manifests record") {
    // the digest over `listFiles(recursive)` — the form every stored
    // manifest's fingerprint was written with — recomputed here, on a
    // partitioned layout with a nested marker directory and on a
    // single-file table, so a change of listing cannot silently
    // invalidate (or, worse, alias) stored vintages
    val dir = java.nio.file.Files.createTempDirectory("idxstore-digest").toString
    Tables.lineitem(spark, sf).repartition(3).write.partitionBy("l_returnflag")
      .parquet(s"$dir/parted.parquet")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/parted.parquet/_temporary/0"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/parted.parquet/_temporary/0/part-x.parquet"), "x")
    def listed(dataDir: String, table: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$dataDir/$table.parquet")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = p.toUri.getPath
      val it = fs.listFiles(p, true)
      val entries = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .map { s =>
          val full = s.getPath.toUri.getPath
          val rel = if (full.startsWith(root)) full.drop(root.length).stripPrefix("/") else full
          s"$rel|${s.getLen}|${s.getModificationTime}"
        }.toSeq.sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      entries.foreach(e => md.update(e.getBytes("UTF-8")))
      s"$table:n=${entries.size};md5=" + md.digest().map("%02x".format(_)).mkString
    }
    assert(IndexStore.vintage(spark, dir, Seq("parted")) == listed(dir, "parted"))
    assert(IndexStore.vintage(spark, sf, Seq("orders", "part")) ==
      listed(sf, "orders") + "|" + listed(sf, "part"))
    assert(IndexStore.vintage(spark, dir, Seq("missing")) == "missing:absent")
  }

  test("serve memo evicts superseded vintages, keeps this session's other indexes") {
    // within one long-lived session a collection rewrite changes the
    // fingerprint; the superseded entry can never hit again and must
    // not pin its DataFrame plans — while a MISS on one index must not
    // evict this session's memo for other indexes (nor a sibling
    // session's, which shares the application: only other
    // applications' entries are swept, MemoSpec).
    val dir = java.nio.file.Files.createTempDirectory("idxstore-memo").toString
    def build = Map("t" -> spark.range(3).toDF("v"))
    // the fingerprint is the last line of the index slot's vintage
    def vintages(name: String): Set[String] =
      Memo.entries.get(("index", IndexStore.indexDir(dir, name)))
        .map(_._2.linesIterator.toSeq.last).toSet
    IndexStore.loadOrBuild(spark, dir, "memo_probe", "v1", "fpA", Seq("t"))(build)
    assert(vintages("memo_probe") == Set("fpA"))
    IndexStore.loadOrBuild(spark, dir, "memo_probe", "v1", "fpB", Seq("t"))(build)
    assert(vintages("memo_probe") == Set("fpB"),
      s"superseded vintage must be evicted on insert, got ${vintages("memo_probe")}")
    IndexStore.loadOrBuild(spark, dir, "memo_probe2", "v1", "fpC", Seq("t"))(build)
    assert(vintages("memo_probe") == Set("fpB"),
      "a miss on another index must not evict this session's live entries")
  }

  test("a built vintage is served with the schema its files read back with") {
    // a private copy of the warehouse's sources, so every asset builds here
    val dir = java.nio.file.Files.createTempDirectory("idxstore-wh").toString
    Seq("region", "nation", "customer", "part", "orders", "lineitem").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    import graft.warehouse.Warehouse
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "dim_part" -> Warehouse.dimPart, "dim_customer" -> Warehouse.dimCustomer,
      "dim_date" -> Warehouse.dimDate, "dim_payment" -> Warehouse.dimPayment,
      "fact" -> Warehouse.fact).foreach { case (name, asset) =>
      val served = asset(spark, dir)
      val stored = new org.apache.hadoop.fs.Path(served.inputFiles.head).getParent.toString
      assert(stored.endsWith(s"warehouse_$name/$name"), stored)
      assert(served.schema == spark.read.parquet(stored).schema, name)
    }
  }

  test("a source rewritten within one session serves the new warehouse vintage") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-rewrite").toString
    Seq("region", "nation", "customer", "part", "orders", "lineitem").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    import graft.warehouse.Warehouse
    val all = Warehouse.dimPart(spark, dir).count()
    assert(all == Tables.part(spark, sf).count())
    // rewrite part.parquet in place with fewer rows, same session
    val kept = Tables.part(spark, sf).filter(col("p_partkey") <= all / 2)
    kept.write.parquet(s"$dir/part_new.parquet")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/part.parquet"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/part_new.parquet"),
      new org.apache.hadoop.fs.Path(s"$dir/part.parquet")))
    val served = Warehouse.dimPart(spark, dir)
    assert(served.count() == kept.count() && kept.count() < all,
      "the served dim_part must be the rewritten source's vintage")
    assert(served.exceptAll(Warehouse.buildDimPart(spark, dir)).isEmpty)
  }

  test("a thread that waited on the build lock serves the handles built meanwhile") {
    val dir = java.nio.file.Files.createTempDirectory("idxstore-wait").toString
    val building = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val waiterBuilt = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var fromOwner: Map[String, org.apache.spark.sql.DataFrame] = null
    @volatile var fromWaiter: Map[String, org.apache.spark.sql.DataFrame] = null
    @volatile var waiterJobs = -1
    def load(onBuild: => Unit) =
      IndexStore.loadOrBuild(spark, dir, "wait_probe", "v1", "fp", Seq("t")) {
        onBuild
        Map("t" -> spark.range(3).toDF("v"))
      }
    val owner = new Thread(() => fromOwner = load { building.countDown(); release.await() })
    owner.start()
    assert(building.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val waiter = new Thread(() =>
      waiterJobs = jobsIn("idxstore-waiter") { fromWaiter = load(waiterBuilt.set(true)) })
    waiter.start()
    // the owner holds the lock until released: wait until the waiter blocks on it
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (waiter.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(waiter.getState == Thread.State.BLOCKED, "waiter never blocked on the build lock")
    release.countDown()
    owner.join(120000); waiter.join(120000)
    assert(!waiterBuilt.get, "the waiter must not build again")
    assert(fromOwner != null && (fromWaiter eq fromOwner))
    assert(waiterJobs == 0, s"the waiter started $waiterJobs jobs")
    assert(fromWaiter("t").count() == 3)
  }
}
