package graft

import graft.operators.StatefulTwins
import org.apache.spark.sql.functions._

class StatefulTwinsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, Long, String)*) =
    rows.toDF("event_id", "ms", "user_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")

  test("intervalAlert fires only for consecutive deletes inside the threshold") {
    val df = ev(
      (1, 1000, 1, "error"), (2, 5000, 1, "error"), // gap 4000 < 10000 → alert
      (3, 20000, 1, "error"), // gap 15000 → no alert
      (4, 21000, 1, "view"), // non-delete: ignored entirely
      (5, 22000, 1, "error"), // gap vs event 3 = 2000 → alert
      (6, 1000, 2, "error")) // other key, first delete → no alert
    val got = StatefulTwins.intervalAlert(df, "user_id", "ts", "event_id",
        "event_type", "error", 10000)
      .select("user_id", "ts_ms", "gap_ms").orderBy("ts_ms")
      .as[(Long, Long, Long)].collect.toSeq
    assert(got == Seq((1L, 5000L, 4000L), (1L, 22000L, 2000L)))
  }

  test("actionDurations emits prev-action spans, resets on logout, skips login") {
    val df = ev(
      (1, 1000, 1, "signup"), // login-kind: never emitted as current
      (2, 3000, 1, "view"),   // prev=signup → (signup, 2000)
      (3, 6000, 1, "purchase"), // logout-kind: emits (view, 3000) then clears
      (4, 7000, 1, "view"))   // prev cleared → nothing
    val got = StatefulTwins.actionDurations(df, "user_id", "ts", "event_id",
        "event_type", "signup", "purchase")
      .orderBy("duration_ms").as[(Long, String, Long)].collect.toSeq
    assert(got == Seq((1L, "signup", 2000L), (1L, "view", 3000L)))
  }

  test("withLateFlag marks exactly the rows older than the running-max watermark") {
    // arrival order = arr; event time = ms. lateness 1000.
    val df = Seq(
      (1L, 1000L, 100L), // first row: no watermark yet → not late
      (2L, 5000L, 200L), // wm = 1000-1000 = 0 → not late
      (3L, 1500L, 300L), // wm = 5000-1000 = 4000 → 1500 < 4000 → LATE
      (4L, 4100L, 400L), // wm still 4000 → 4100 ≥ 4000 → not late
      (5L, 2000L, 500L)  // wm 4000 → LATE
    ).toDF("event_id", "ms", "arr")
      .withColumn("ts", timestamp_millis(col("ms")))
    val got = StatefulTwins.withLateFlag(df, "ts", "arr", "event_id", 1000)
      .select("event_id", "is_late").orderBy("event_id")
      .as[(Long, Boolean)].collect.toSeq
    assert(got == Seq((1L, false), (2L, false), (3L, true), (4L, false), (5L, true)))
  }

  test("withLateFlag on an empty input returns no rows (and does not throw)") {
    val df = Seq.empty[(Long, Long, Long)].toDF("event_id", "ms", "arr")
      .withColumn("ts", timestamp_millis(col("ms")))
    assert(StatefulTwins.withLateFlag(df, "ts", "arr", "event_id", 1000).count() == 0)
  }
}
