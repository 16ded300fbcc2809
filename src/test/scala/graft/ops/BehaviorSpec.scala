package graft.ops

import graft.SparkSpec

class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  test("funnelSteps: strict ordering gates depth; same-timestamp step " +
      "does not count; skipped steps block later ones") {
    val ev = Seq(
      // u1 completes the funnel in order
      (1L, 1.0, "signup"), (1L, 2.0, "click"), (1L, 3.0, "purchase"),
      // u2: pre-signup click ignored; click AT signup's ts is not
      // strictly after; later purchase can't count without a click
      (2L, 1.0, "click"), (2L, 2.0, "signup"), (2L, 2.0, "click"),
      (2L, 5.0, "purchase"),
      // u3: signup then purchase but no click → depth 1
      (3L, 1.0, "signup"), (3L, 2.0, "purchase"),
      // u4: never signs up → depth 0
      (4L, 1.0, "click"),
      // noise event types are ignored entirely
      (1L, 0.5, "error"),
    ).toDF("user_id", "ts", "event_type")
    val out = Behavior.funnelSteps(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .collect().map(r => r.getAs[Int]("step_idx") ->
        ((r.getAs[String]("step"), r.getAs[Long]("n_reached"),
          r.getAs[Long]("conv_from_prev_pm"),
          r.getAs[Long]("conv_from_first_pm")))).toMap
    assert(out(1) == (("signup", 3L, 1000L, 1000L)))
    assert(out(2) == (("click", 1L, 333L, 333L)))
    assert(out(3) == (("purchase", 1L, 1000L, 333L)))
  }

  test("funnelSteps rejects repeated step types loudly") {
    // the fold maps each event type to its LAST index, so a repeated
    // type would silently make the earlier step unreachable (r9
    // advice) — reject instead
    val ev = Seq((1L, 1.0, "click")).toDF("user_id", "ts", "event_type")
    val e = intercept[IllegalArgumentException] {
      Behavior.funnelSteps(ev, "user_id", "ts", "event_type",
        Seq("click", "view", "click"))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("funnelSteps maxPerStep bounds a hot user and keeps earliest " +
      "occurrences") {
    // u1 is a bot: 1,000 clicks before ever signing up, then one more
    // click and a purchase. Unbounded semantics: signup@2000, the
    // click at 2001 (the 1,001st) advances, purchase@2002 → depth 3.
    val bot = (0 until 1000).map(i => (1L, i.toDouble, "click")) ++
      Seq((1L, 2000.0, "signup"), (1L, 2001.0, "click"),
        (1L, 2002.0, "purchase"))
    // u2 is a normal user completing the funnel
    val ev = (bot ++ Seq((2L, 1.0, "signup"), (2L, 2.0, "click"),
      (2L, 3.0, "purchase"))).toDF("user_id", "ts", "event_type")
    val steps = Seq("signup", "click", "purchase")
    def depths(maxPerStep: Int): Map[Int, Long] =
      Behavior.funnelSteps(ev, "user_id", "ts", "event_type", steps,
          maxPerStep = maxPerStep)
        .collect().map(r => r.getAs[Int]("step_idx") ->
          r.getAs[Long]("n_reached")).toMap
    // unbounded: both users reach depth 3
    assert(depths(0) == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
    // capped at 8 earliest per (user, step): the bot's qualifying
    // click (its 1,001st) is truncated away, so it stalls at signup —
    // the documented "earliest maxPerStep occurrences" semantics —
    // while the normal user is untouched
    assert(depths(8) == Map(1 -> 2L, 2 -> 1L, 3 -> 1L))
  }

  test("cohortRetention floors negative epochs (pre-1970 timestamps)") {
    val day = 86400.0
    // day -3 → floor(-3/7) = -1, NOT the truncated 0; day 0 → 0
    val ev = Seq((1L, -3 * day), (1L, 0.0), (2L, 0.0))
      .toDF("user_id", "ts")
    val out = Behavior.cohortRetention(ev, "user_id", "ts", periodDays = 7)
      .collect().map(r => (r.getAs[Long]("cohort_period"),
        r.getAs[Long]("period_offset")) ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"))))
      .toMap
    // u1's cohort is week -1 (floor), active again at offset 1 (week 0)
    assert(out((-1L, 0L)) == ((1L, 1L)))
    assert(out((-1L, 1L)) == ((1L, 1L)))
    assert(out((0L, 0L)) == ((1L, 1L)))
    assert(out.size == 3)
  }

  test("cohortRetention: first-activity cohorts, offset counts, exact " +
      "per-mille") {
    val day = 86400.0
    val ev = Seq(
      (1L, 0.0), (1L, 8 * day),   // cohort week 0, active weeks 0 and 1
      (2L, 1 * day),              // cohort week 0, week 0 only
      (3L, 14 * day),             // cohort week 2
      (1L, 2 * day),              // duplicate week-0 activity — distinct
    ).toDF("user_id", "ts")
    val out = Behavior.cohortRetention(ev, "user_id", "ts", periodDays = 7)
      .collect().map(r => (r.getAs[Long]("cohort_period"),
        r.getAs[Long]("period_offset")) ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
          r.getAs[Long]("retention_pm")))).toMap
    assert(out((0L, 0L)) == ((2L, 2L, 1000L)))
    assert(out((0L, 1L)) == ((1L, 2L, 500L)))
    assert(out((2L, 0L)) == ((1L, 1L, 1000L)))
    assert(out.size == 3)
  }

  test("funnelSteps: reach counts are monotonically non-increasing " +
      "down the funnel on random event streams") {
    val rnd = new scala.util.Random(37)
    val types = Seq("signup", "click", "purchase", "error")
    val ev = (1 to 800).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(1000).toDouble,
        types(rnd.nextInt(types.size))) }
    val out = Behavior.funnelSteps(ev.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))
      .orderBy($"step_idx").collect().map(_.getAs[Long]("n_reached"))
    assert(out.length == 3)
    assert(out.sliding(2).forall(p => p(0) >= p(1)))
  }
}
