package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

/** [[Memo]]'s contract: each slot is built at most once per
  * (application, vintage) however many threads or sessions ask for it
  * first, a new vintage replaces the slot's entry, and a miss drops
  * every entry of a foreign (stopped) application. */
class MemoSpec extends SparkSpec {

  /** Run `call` on `n` threads released together; their results. */
  private def racing[T](n: Int)(call: => T): Seq[T] = {
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[T]()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => { start.await(); results.add(call) })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a racing call never returned")
    import scala.jdk.CollectionConverters._
    results.asScala.toSeq
  }

  private def freshSlot(tag: String) = ("memo_spec", tag, java.util.UUID.randomUUID().toString)

  test("concurrent first calls on one cold slot run the build once") {
    val slot = freshSlot("race")
    val builds = new AtomicInteger(0)
    val got = racing(8) {
      Memo(spark, slot, "v1") { builds.incrementAndGet(); Thread.sleep(200); 42 }
    }
    assert(got == Seq.fill(8)(42))
    assert(builds.get == 1, s"the build ran ${builds.get} times")
  }

  test("a new session shares the application's entries") {
    val slot = freshSlot("session")
    val builds = new AtomicInteger(0)
    val first = Memo(spark, slot, "v1") { builds.incrementAndGet(); new Object }
    val other = spark.newSession()
    assert(other.sparkContext.applicationId == spark.sparkContext.applicationId)
    assert(Memo(other, slot, "v1") { builds.incrementAndGet(); new Object } eq first)
    assert(builds.get == 1)
  }

  test("a new vintage replaces the slot's entry; other slots keep theirs") {
    val slot = freshSlot("vintage")
    val sibling = freshSlot("sibling")
    val app = spark.sparkContext.applicationId
    Memo(spark, slot, "v1")("a")
    Memo(spark, sibling, "v1")("s")
    assert(Memo(spark, slot, "v2")("b") == "b")
    assert(Memo.entries.get(slot).contains((app, "v2")))
    assert(Memo.entries.get(sibling).contains((app, "v1")))
    // back to the superseded vintage: it was dropped, so it builds again
    assert(Memo(spark, slot, "v1")("c") == "c")
  }

  test("a miss drops every entry of another application") {
    val app = spark.sparkContext.applicationId
    val foreign = freshSlot("foreign")
    // a miss under another application id sweeps this application's
    // entries as well (each is rebuilt on its next call)
    Memo.forApp("app-stopped-earlier", foreign, "v1")("stale")
    assert(Memo.entries.values.forall(_._1 == "app-stopped-earlier"))
    // and this application's next miss sweeps the foreign entry
    val live = freshSlot("live")
    Memo(spark, live, "v1")("x")
    assert(!Memo.entries.contains(foreign))
    assert(Memo.entries.values.forall(_._1 == app))
    assert(Memo.entries.get(live).contains((app, "v1")))
  }

  test("concurrent first gates of one projection start one count") {
    import spark.implicits._
    def dim = (1 to 23).map(i => (i.toLong, s"race$i")).toDF("k", "v")
    // the jobs one count of this shape starts, measured on an equal
    // shape that no other call has gated
    def twin = (1 to 23).map(i => (i.toLong, s"twin$i")).toDF("k", "v")
    val oneCount = jobsIn("memo-gate-single")(Joins.broadcastIfSmall(twin, maxRows = 100))
    assert(oneCount >= 1)
    // the racing threads inherit this thread's job group
    val racedJobs = jobsIn("memo-gate-race") {
      racing(6)(Joins.broadcastIfSmall(dim, maxRows = 100))
    }
    assert(racedJobs == oneCount, s"6 racing gates started $racedJobs jobs, one count starts $oneCount")
    assert(jobsIn("memo-gate-again")(Joins.broadcastIfSmall(dim, maxRows = 100)) == 0)
  }

  test("no other main source names applicationId or TrieMap") {
    // the build-once-per-application policy lives in Memo alone
    val offenders = SessionsSpec.mainSourcesMatching("""applicationId|TrieMap""".r,
      allowed = Set("Memo.scala"))
    assert(offenders.isEmpty, s"per-application memo outside Memo (route it through Memo): $offenders")
  }
}
