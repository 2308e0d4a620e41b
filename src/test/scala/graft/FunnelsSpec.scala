package graft

import graft.analytics.Funnels

class FunnelsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $m:00")

  test("funnel counts only users whose steps occur in order") {
    val ev = Seq(
      // u1: full ordered journey
      (1L, "view", ts("09:00")), (1L, "click", ts("09:05")), (1L, "purchase", ts("09:30")),
      // u2: purchase BEFORE click — reaches step 2, not step 3
      (2L, "view", ts("10:00")), (2L, "purchase", ts("10:01")), (2L, "click", ts("10:02")),
      // u3: click before any view — reaches step 1 only
      (3L, "click", ts("11:00")), (3L, "view", ts("11:05")),
      // u4: view only
      (4L, "view", ts("12:00")),
      // u5: no view at all — outside the funnel entirely
      (5L, "click", ts("13:00")), (5L, "purchase", ts("13:05")))
      .toDF("user_id", "event_type", "ts")
    val out = Funnels.eventsUserFunnelOver(ev)
      .as[(String, Long)].collect().toMap
    assert(out == Map(
      "1_view" -> 4L,
      "2_click_after_view" -> 2L,
      "3_purchase_after_click" -> 1L))
  }

  test("registered funnel and retention frames are sane on the corpus") {
    val funnel = Funnels.eventsUserFunnel(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(funnel.size == 3)
    assert(funnel("1_view") >= funnel("2_click_after_view"))
    assert(funnel("2_click_after_view") >= funnel("3_purchase_after_click"))

    val ret = Funnels.cohortRetention(spark, sf).collect()
    assert(ret.nonEmpty)
    // offset-0 retention includes every cohort member active in their
    // own signup week — the signup itself qualifies, so cohort size ==
    // offset-0 actives
    val byCohort = ret.groupBy(_.getString(0))
    byCohort.foreach { case (_, rows) =>
      val offsets = rows.map(_.getInt(1)).sorted
      assert(offsets.head == 0, "every cohort has its own signup week")
      val week0 = rows.find(_.getInt(1) == 0).get.getLong(2)
      rows.foreach(r => assert(r.getLong(2) <= week0,
        "no offset can retain more users than the cohort has"))
    }
  }

  test("transition matrix counts consecutive pairs in timeline order") {
    val ev = Seq(
      // u1: view -> click -> purchase (two transitions)
      (1L, 10L, "view", ts("09:00")), (1L, 11L, "click", ts("09:05")),
      (1L, 12L, "purchase", ts("09:30")),
      // u2: view -> view (self-transition)
      (2L, 20L, "view", ts("10:00")), (2L, 21L, "view", ts("10:05")),
      // u3: tie on ts broken by event_id: click (id 30) before view (id 31)
      (3L, 30L, "click", ts("11:00")), (3L, 31L, "view", ts("11:00")),
      // u4: single event, no transition
      (4L, 40L, "purchase", ts("12:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = Funnels.typeTransitionsOver(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("view", "click") -> 1L, ("click", "purchase") -> 1L,
      ("view", "view") -> 1L, ("click", "view") -> 1L))
  }

  test("time-to-convert quantiles select the exact per-user latencies") {
    val ev = Seq(
      // three converting users with view->purchase latencies 30, 60, 90 min
      (1L, "view", ts("09:00")), (1L, "click", ts("09:10")), (1L, "purchase", ts("09:30")),
      (2L, "view", ts("10:00")), (2L, "click", ts("10:30")), (2L, "purchase", ts("11:00")),
      (3L, "view", ts("08:00")), (3L, "click", ts("08:45")), (3L, "purchase", ts("09:30")),
      // a non-converter (purchase before click) must not contribute
      (4L, "view", ts("12:00")), (4L, "purchase", ts("12:01")), (4L, "click", ts("12:02")))
      .toDF("user_id", "event_type", "ts")
    val r = Funnels.funnelTimeToConvertOver(ev).head()
    assert(r.getAs[Long]("n_users") == 3L)
    def mins(n: Long) = n * 60L * 1000000L
    // type-1 quantiles over {30, 60, 90} min: rank ceil(.5*3)=2 -> 60,
    // rank ceil(.9*3)=3 -> 90, rank ceil(.99*3)=3 -> 90
    assert(r.getAs[Long]("p50_micros") == mins(60))
    assert(r.getAs[Long]("p90_micros") == mins(90))
    assert(r.getAs[Long]("p99_micros") == mins(90))
  }

  test("active users: trailing distinct windows, hand-computed") {
    def d(day: String) = java.sql.Timestamp.valueOf(s"2024-01-$day 10:00:00")
    // A active Jan 2 only; B active Jan 2 and Jan 9
    val ev = Seq((1L, d("02")), (2L, d("02")), (2L, d("02")), (2L, d("09")))
      .toDF("user_id", "ts")
    val rows = Funnels.activeUsersOver(ev).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == (2 to 9).map(i => f"2024-01-$i%02d").toSet)
    val jan2 = rows("2024-01-02")
    assert(jan2.getAs[Long]("dau") == 2 && jan2.getAs[Long]("wau") == 2
      && jan2.getAs[Long]("mau") == 2)
    val jan8 = rows("2024-01-08") // trailing week Jan 2-8 still holds both
    assert(jan8.getAs[Long]("dau") == 0 && jan8.getAs[Long]("wau") == 2
      && jan8.getAs[Long]("mau") == 2)
    val jan9 = rows("2024-01-09") // week Jan 3-9: only B; month: both
    assert(jan9.getAs[Long]("dau") == 1 && jan9.getAs[Long]("wau") == 1
      && jan9.getAs[Long]("mau") == 2)
    assert(jan9.getAs[Double]("stickiness") == 0.5)
  }

  test("transition probabilities row-normalize to 1 per from_type") {
    val rows = Funnels.typeTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val s = rs.map(_.getAs[Double]("transition_prob")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"$from row sums to $s")
    }
  }
}
