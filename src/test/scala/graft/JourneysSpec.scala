package graft

import org.apache.spark.sql.functions._
import graft.operators.Journeys
import java.sql.Timestamp

class JourneysSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("funnelSteps: strict ordering, broken funnels, out-of-order events") {
    val events = Seq(
      // A: clean view → click → purchase
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      // B: click BEFORE the first view must not count; later click does
      (2L, ts("2024-01-02 09:00:00"), "click"),
      (2L, ts("2024-01-02 10:00:00"), "view"),
      (2L, ts("2024-01-02 11:00:00"), "click"),
      // C: purchase only — not a funnel entrant
      (3L, ts("2024-01-03 10:00:00"), "purchase"),
      // D: view only
      (4L, ts("2024-01-04 10:00:00"), "view"),
      // E: click at EXACTLY the view time — strictly-after excludes it
      (5L, ts("2024-01-05 10:00:00"), "view"),
      (5L, ts("2024-01-05 10:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Journeys.funnelSteps(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .select("user_id", "steps_reached").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (2L, 2L), (4L, 1L), (5L, 1L)))

    // B's matched click must be the post-view one
    val b = Journeys.funnelSteps(events, "user_id", "ts", "event_type",
        Seq("view", "click"))
      .filter(col("user_id") === 2L)
      .select("t0", "t1").as[(Timestamp, Timestamp)].head()
    assert(b == ((ts("2024-01-02 10:00:00"), ts("2024-01-02 11:00:00"))))
  }

  test("funnelSteps rejects duplicate step types") {
    val events = Seq((1L, ts("2024-01-01 00:00:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    intercept[IllegalArgumentException] {
      Journeys.funnelSteps(events, "user_id", "ts", "event_type",
        Seq("view", "view"))
    }
  }

  test("funnelSteps ≡ a plain-Scala k-pass reference: fixture and soup") {
    // the fixture from the ordering test: ties, broken funnels, pre-step
    // events, non-entrants
    val fixture = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 11:00:00"), "click"),
      (1L, ts("2024-01-01 12:00:00"), "purchase"),
      (2L, ts("2024-01-02 09:00:00"), "click"),
      (2L, ts("2024-01-02 10:00:00"), "view"),
      (2L, ts("2024-01-02 11:00:00"), "click"),
      (3L, ts("2024-01-03 10:00:00"), "purchase"),
      (4L, ts("2024-01-04 10:00:00"), "view"),
      (5L, ts("2024-01-05 10:00:00"), "view"),
      (5L, ts("2024-01-05 10:00:00"), "click"))
    val steps = Seq("view", "click", "purchase")
    def rows(events: Seq[(Long, Timestamp, String)]) =
      Journeys.funnelSteps(events.toDF("user_id", "ts", "event_type"),
          "user_id", "ts", "event_type", steps)
        .select("user_id", "t0", "t1", "t2", "steps_reached")
        .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp],
          Long)].collect().toSet
    // k passes per user: step k's match is the earliest step-k event
    // strictly after step k−1's match; only step-0 entrants appear
    def kPass(events: Seq[(Long, Timestamp, String)]) =
      events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val m = steps.indices.foldLeft(Vector.empty[Option[Timestamp]]) {
          (acc, k) =>
            val prev = acc.lastOption.flatten
            acc :+ (if (k > 0 && prev.isEmpty) None
              else es.collect { case (_, t, e)
                  if e == steps(k) && prev.forall(t.after) => t }
                .minByOption(_.getTime))
        }
        m.head.map(_ => (u, m(0), m(1), m(2), m.count(_.isDefined).toLong))
      }.toSet
    assert(rows(fixture) == kPass(fixture))

    // deterministic pseudo-random soup: 40 users × 30 events over 4 types
    // (one type OUTSIDE the funnel), second-granularity times with heavy
    // ties — every chain shape shows up
    val rnd = new scala.util.Random(7)
    val types = Seq("view", "click", "purchase", "noise")
    val soup = (1 to 40).flatMap { u =>
      (1 to 30).map { _ =>
        (u.toLong,
          ts(f"2024-02-01 10:00:${rnd.nextInt(40)}%02d"),
          types(rnd.nextInt(types.size)))
      }
    }
    assert(rows(soup) == kPass(soup))
  }

  test("cohortRetention: week-0 full, later periods counted per cohort") {
    // cohort week of 2024-01-01 (a Monday): users 1,2; user 3 starts a
    // week later. user 1 returns in weeks 1 and 2; user 2 never returns;
    // user 3 returns in its own week 1.
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-08 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      (2L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-08 10:00:00")), (3L, ts("2024-01-15 10:00:00"))
    ).toDF("user_id", "ts")
    val got = Journeys.cohortRetention(events, "user_id", "ts")
      .select("cohort_wk", "period_wk", "active_users", "cohort_size",
        "retention_e4")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val w = got.map(_._1).min // cohort week index of 2024-01-01
    assert(got == Set(
      (w, 0L, 2L, 2L, 10000L),      // both cohort members active week 0
      (w, 1L, 1L, 2L, 5000L),       // user 1 returned
      (w, 2L, 1L, 2L, 5000L),
      (w + 1, 0L, 1L, 1L, 10000L),  // user 3's own cohort
      (w + 1, 1L, 1L, 1L, 10000L)))
  }
}
