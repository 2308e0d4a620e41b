package graft

import org.apache.spark.sql.SparkSession

/** Materialize every persisted store for a data directory in ITS OWN
  * JVM — the scale-ladder's "build phase", run strictly before the
  * timed bench JVM starts.
  *
  * Why a separate process and not just warm-up: a store build is the
  * one place the engine legitimately shuffles corpus-sized data (the
  * fact build's two full-fact sort-merge exchanges, the co-purchase
  * pair distinct — ~53 GB and ~270 M pairs at the dim-scaled 300×
  * rung), and a running JVM's shuffle files are live until the
  * periodic cleaner collects the finished jobs. Round 14 lost three
  * 300× medians to ENOSPC because the pair build's spill coexisted
  * with a timed query's fact-wide shuffle. Building in a dedicated
  * JVM sequences the disk peaks: every build's scratch space is
  * force-freed at process exit, and the bench JVM that follows serves
  * all of these from parquet with zero build shuffle on its own disk
  * ledger.
  *
  * Each step loads-or-builds through the stores' own fingerprint
  * guards ([[graft.sim.IndexStore]]), so a second run (or the bench's
  * warm-up re-touch) is a cheap manifest check — this main is
  * idempotent and safe to run on an already-built vintage.
  */
object Prebuild {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Sessions.fromEnv()

    val t0 = System.nanoTime()
    var failed = 0
    def step(name: String)(f: => Any): Unit = {
      val s = System.nanoTime()
      try {
        f
        println(f"[prebuild] $name%-12s ${(System.nanoTime() - s) / 1e9}%8.1f s")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[prebuild] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
      // A finished build's ShuffleDependencies become unreachable the
      // moment its plan references drop, but the FILES live until the
      // ContextCleaner processes the reference queue — which needs a GC
      // to enqueue them. Without this, the 300× warehouse build's
      // ~50 GB of sort-merge shuffle coexisted on disk with the
      // co-purchase pair build's peak and ENOSPC'd it (measured r15:
      // the two builds fit individually in ~40 GB of headroom, not
      // stacked). One GC + a beat for the async deletion between steps
      // sequences the DISK peaks, not just the CPU phases.
      System.gc()
      Thread.sleep(5000)
    }

    buildAll(spark, dir, step)

    println(f"[prebuild] total ${(System.nanoTime() - t0) / 1e9}%.1f s, failures $failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** The store inventory, each triggered through its public serve
    * entry (the entry's own loadOrBuild persists on first touch). */
  private[graft] def buildAll(spark: SparkSession, dir: String,
      step: String => (=> Any) => Unit): Unit = {
    step("warehouse") { warehouse.Warehouse.fact(spark, dir).count() } // dims build first, fact consumes them
    step("copurchase") { analytics.CopurchaseStore.tables(spark, dir) }
    step("bpe_vocab") { text.TextOps.bpeSourceTokenAccounting(spark, dir).count() }
    step("bm25") { text.Relevance.bm25Search(spark, dir).count() }
    step("ivf") { sim.Ivf.index(spark, dir) }
    step("ivf_base") { sim.Ivf.baseCentroids(spark, dir) }
    step("pq") { sim.Pq.index(spark, dir) }
  }
}
