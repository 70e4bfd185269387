package graft.analysis

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SloSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Boolean)*) =
    rows.map { case (t, bad) =>
      (new Timestamp(t * 1000L), if (bad) "error" else "ok")
    }.toDF("ts", "kind")

  private def run(df: org.apache.spark.sql.DataFrame, windows: Seq[Long],
      step: Long = 60L, budget: Double = 0.1) =
    Slo.burnRates(df, "ts", col("kind") === "error", step, windows, budget)

  test("trailing window sums cover (B - w, B] and gap-fill the spine") {
    // buckets 0 and 180 populated; spine 0..180 at step 60
    val df = ev((10L, true), (20L, false), (190L, false))
    val got = run(df, Seq(120L)).orderBy("bucket")
      .select("bucket", "total_120s", "err_120s")
      .as[(Long, Long, Long)].collect().toSeq
    // b=0: [(-120,0] -> bucket 0 only] = 2 events 1 err; b=60 window
    // {0,60} -> still the 2; b=120 window {60,120} -> none; b=180
    // window {120,180} -> 1 event
    assert(got == Seq((0L, 2L, 1L), (60L, 2L, 1L), (120L, 0L, 0L),
      (180L, 1L, 0L)))
  }

  test("burn = (err/total)/budget, null where the window saw nothing") {
    val df = ev((0L, true), (1L, false), (2L, false), (3L, false),
      (130L, false))
    val got = run(df, Seq(60L)).orderBy("bucket")
      .select("bucket", "burn_60s")
      .as[(Long, Option[Double])].collect().toSeq
    assert(got == Seq((0L, Some((1.0 / 4) / 0.1)), (60L, None),
      (120L, Some(0.0))))
  }

  test("multiWindowAlert fires only when BOTH windows breach") {
    // minute 0-4: clean; minutes 5-9 all errors. budget .1 threshold 2
    // => burn > 2 needs ratio > .2
    val rows = (0L until 300L by 30L).map(t => (t, false)) ++
      (300L until 600L by 30L).map(t => (t, true))
    val got = Slo.multiWindowAlert(ev(rows: _*), "ts",
        col("kind") === "error", 60L, 120L, 600L, 0.1, 2.0)
      .orderBy("bucket")
      .select("bucket", "firing").as[(Long, Long)].collect().toMap
    // short window saturates by minute 6; long (600s) ratio crosses .2
    // once >=3 of the trailing 10 minutes are errors (minute 7: 5 of 20
    // events in (t-600, t] ... ratio grows 2/12 @6 -> fires when both >2
    assert(got(0L) == 0L && got(300L) == 0L)
    assert(got(540L) == 1L, s"got=$got")
    // recovery asymmetry is the design: the short window de-asserts
    // fast — append clean minutes and the alert must clear even though
    // the long window still remembers the burn
    val rows2 = rows ++ (600L until 900L by 30L).map(t => (t, false))
    val got2 = Slo.multiWindowAlert(ev(rows2: _*), "ts",
        col("kind") === "error", 60L, 120L, 600L, 0.1, 2.0)
      .orderBy("bucket")
      .select("bucket", "firing").as[(Long, Long)].collect().toMap
    assert(got2(540L) == 1L && got2(840L) == 0L, s"got2=$got2")
  }

  test("window validation is loud") {
    val df = ev((0L, false))
    intercept[IllegalArgumentException] { run(df, Seq(90L)) }
    intercept[IllegalArgumentException] { run(df, Seq()) }
    // duplicate lengths would collide on output column names
    intercept[IllegalArgumentException] { run(df, Seq(120L, 120L)) }
    // the two-window policy needs genuinely different windows
    intercept[IllegalArgumentException] {
      Slo.multiWindowAlert(df, "ts", col("kind") === "error",
        60L, 300L, 300L, 0.1, 2.0)
    }
  }
}
