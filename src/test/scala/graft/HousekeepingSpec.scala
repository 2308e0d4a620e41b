package graft

import graft.datagen.DataGen
import graft.orchestrate.{Housekeeping, Scheduler}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.time.LocalDate

class HousekeepingSpec extends SparkSpec {

  test("retention cleanup deletes only old unprotected files") {
    val dir = Files.createTempDirectory("graft_clean")
    val today = LocalDate.of(2026, 8, 12)
    def mk(name: String, ageDays: Int) = {
      val p = dir.resolve(name)
      Files.writeString(p, "x")
      val t = today.minusDays(ageDays.toLong).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      Files.setLastModifiedTime(p, FileTime.from(t))
      p
    }
    val old = mk("old_data.csv", 10)
    val recent = mk("recent_data.csv", 2)
    val protectedOld = mk("quality_report.json", 30)
    val metadataOld = mk("generation_metadata.json", 30)
    val deleted = Housekeeping.cleanupOldFiles(dir.toString, 7, today)
    assert(deleted.map(_.getFileName.toString) == Seq("old_data.csv"))
    assert(!Files.exists(old) && Files.exists(recent)
      && Files.exists(protectedOld) && Files.exists(metadataOld))
  }

  test("lockfile mutual exclusion: second acquisition skips, stale locks reclaim") {
    val lock = java.nio.file.Files.createTempDirectory("graft_lock").toString + "/run.lock"
    // held lock blocks a concurrent run
    val result = Housekeeping.withLock(lock) {
      assert(Housekeeping.withLock(lock) { "inner" }.isEmpty)
      "outer"
    }
    assert(result.contains("outer"))
    // released after the body — a new run acquires
    assert(Housekeeping.withLock(lock) { 1 }.contains(1))
    // released even when the body throws
    intercept[RuntimeException] {
      Housekeeping.withLock(lock) { throw new RuntimeException("boom") }
    }
    assert(Housekeeping.withLock(lock) { 2 }.contains(2))
    // a stale lock (older than the threshold) is reclaimed
    java.nio.file.Files.createFile(java.nio.file.Paths.get(lock))
    java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(lock),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3L * 3600 * 1000))
    assert(Housekeeping.withLock(lock) { 3 }.contains(3))
  }

  test("config loads flat yaml keys with env override winning") {
    val p = Files.createTempFile("graft_cfg", ".yaml")
    Files.writeString(p, "db.host: localhost\nbatch_size: 1000\n# comment\n")
    val cfg = Housekeeping.loadConfig(p.toString, env = Map("DB_HOST" -> "prod-db"))
    assert(cfg("db.host") == "prod-db")
    assert(cfg("batch_size") == "1000")
  }

  test("documents generator is deterministic with the testdata's shape") {
    val d = graft.datagen.DataGen.documents(spark, 500).cache()
    assert(d.count() == 500)
    assert(d.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    // token lengths inside the generator's 15-60 band (+16 passage
    // tokens on passage-pile members, ids b+20..b+22 per 50-block)
    val stats = d.selectExpr(
      "min(size(split(text, ' '))) AS mn", "max(size(split(text, ' '))) AS mx",
      "max(CASE WHEN doc_id % 50 < 20 OR doc_id % 50 >= 23 THEN size(split(text, ' ')) END) AS mx_plain",
      "count(distinct lang) AS langs", "count(distinct source) AS srcs").head()
    assert(stats.getAs[Int]("mn") >= 15 && stats.getAs[Int]("mx") <= 77)
    assert(stats.getAs[Int]("mx_plain") <= 61)
    assert(stats.getAs[Long]("langs") == 5 && stats.getAs[Long]("srcs") == 20)
    // deterministic across regeneration, no exact-dup degeneracy
    assert(graft.datagen.DataGen.documents(spark, 500).except(d).count() == 0)
    assert(d.select("text").distinct().count() > 490)
    d.unpersist()
  }

  test("documents generator plants clone piles that the dedup family can detect") {
    val texts = graft.datagen.DataGen.documents(spark, 200)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    def posIdentity(a: Array[String], b: Array[String]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / math.max(a.length, b.length)
    // piles: ids [b, b+5) for b % 50 == 0 — members are 1-3 token edits
    // off their base, everyone else is an unrelated stream
    Seq(0L, 50L, 100L, 150L).foreach { b =>
      (1 to 4).foreach { c =>
        val id = b + c
        assert(texts(id).length == texts(b).length, s"clone $id must keep base length")
        val ident = posIdentity(texts(b), texts(id))
        assert(ident >= 0.8, s"clone $id only $ident positionally identical to base $b")
      }
      // the guaranteed edit keeps MOST clones textually distinct (the
      // substituted token matches the original w.p. 1/29 — a low exact-dup
      // rate is itself realistic)
      val exact = (1 to 4).count(c => texts(b + c).sameElements(texts(b)))
      assert(exact <= 2, s"pile $b: $exact of 4 clones exactly equal the base")
      val unrelated = posIdentity(texts(b), texts(b + 7))
      assert(unrelated <= 0.5, s"non-member ${b + 7} too similar to base $b: $unrelated")
    }
  }

  test("datagen is deterministic, FK-consistent, with correct totals") {
    val c = DataGen.customers(spark, 50)
    val t = DataGen.transactions(spark, 200, 50)
    val p = DataGen.products(spark, 30)
    val i = DataGen.transactionItems(spark, 200, 30)
    assert(c.count() == 50 && t.count() == 200 && p.count() == 30)
    // FK integrity
    assert(t.join(c, t("customer_id") === c("customer_id"), "left_anti").count() == 0)
    assert(i.join(p, i("product_id") === p("product_id"), "left_anti").count() == 0)
    // determinism across regeneration
    assert(DataGen.transactionItems(spark, 200, 30).except(i).count() == 0)
    // totals roll up
    val withT = DataGen.withTotals(t, i)
    val direct = i.groupBy("transaction_id").agg(sum("line_total").as("s"))
    val joined = withT.join(direct, "transaction_id")
    assert(joined.filter(col("total_amount") =!= col("s")).count() == 0)
    // cost < price invariant (U(0.5,0.8) multiplier)
    assert(p.filter(col("cost") >= col("price")).count() == 0)
  }

  test("scheduler sleeps until the configured time, runs, and survives failure") {
    import java.time.{Duration, Instant, LocalTime}
    val lock = java.nio.file.Files.createTempDirectory("graft_sched")
      .resolve("pipeline.lock").toString
    // virtual clock starting 01:00 UTC; sleeping advances it
    var now = Instant.parse("2026-01-01T01:00:00Z")
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Duration]
    val runsAt = scala.collection.mutable.ArrayBuffer.empty[Instant]
    var cleanups = 0
    var failFirst = true
    val outcomes = Scheduler.runDaily(
      LocalTime.of(2, 0), lock,
      job = () => {
        runsAt += now
        if (failFirst) { failFirst = false; sys.error("transient") }
      },
      cleanup = () => cleanups += 1,
      clock = () => now,
      sleeper = d => { sleeps += d; now = now.plus(d) },
      ticks = 3)
    // first sleep is exactly the hour to 02:00; later ticks a full day
    assert(sleeps.head == Duration.ofHours(1), s"slept ${sleeps.head}")
    assert(sleeps.tail.forall(_ == Duration.ofDays(1)), sleeps.mkString(", "))
    assert(runsAt.forall(_.toString.contains("T02:00")), runsAt.mkString(", "))
    // the failing first job is contained; cleanup runs every executed tick
    assert(outcomes == Seq(Scheduler.Failed, Scheduler.Ran, Scheduler.Ran))
    assert(cleanups == 3)
    // the lock is always released afterwards
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(lock)))
  }

  test("scheduler skips the tick when another run holds a fresh lock") {
    import java.time.{Instant, LocalTime}
    val lock = java.nio.file.Files.createTempDirectory("graft_sched")
      .resolve("pipeline.lock")
    java.nio.file.Files.createFile(lock) // fresh foreign lock
    var ran = 0
    val outcomes = Scheduler.runDaily(
      LocalTime.of(2, 0), lock.toString,
      job = () => ran += 1,
      clock = () => Instant.parse("2026-01-01T01:00:00Z"),
      sleeper = _ => (),
      ticks = 1)
    assert(outcomes == Seq(Scheduler.Skipped) && ran == 0)
    // a skipped tick must not release someone else's lock
    assert(java.nio.file.Files.exists(lock))
  }
}
