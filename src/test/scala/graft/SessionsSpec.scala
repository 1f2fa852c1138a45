package graft

import graft.ops.Sessions

/** The gaps-and-islands rule every session query shares: the gap bound is
  * inclusive, one microsecond past it opens a session, and events tied on
  * `us` are ordered by `event_id`.
  */
class SessionsSpec extends SparkSpecBase {

  test("flag: a gap of exactly 30 min stays in the session, 30 min + 1 µs opens one, us ties order by event_id") {
    val s = spark
    import s.implicits._
    val g = Sessions.GapUs
    assert(g == 30L * 60 * 1000000L)
    val events = Seq(
      (1L, 1L, 0L),
      (1L, 2L, g),         // exactly the gap
      (1L, 3L, 2 * g + 1), // the gap + 1 µs
      (1L, 5L, 4 * g),     // tied on us after a long gap: event 4 comes first
      (1L, 4L, 4 * g),
      (2L, 6L, 0L)).toDF("user_id", "event_id", "us")
    val got = Sessions.flag(events)
      .select("event_id", "new_sess", "session_id").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L, 0L), (2L, 0L, 0L), (3L, 1L, 1L), (4L, 1L, 2L), (5L, 0L, 2L),
      (6L, 0L, 0L)))
  }
}
