package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-window SLO burn-rate evaluation (the Google SRE-workbook
  * alerting policy): at every step, the error ratio over each trailing
  * window divided by the error budget; an alert fires only when EVERY
  * window's burn rate exceeds the threshold — the long window provides
  * the sustained-burn evidence, the short window de-asserts quickly
  * after recovery.
  *
  * The reference's alerting evaluates single tumbling windows
  * (packages/api/src/tasks/checkAlerts — threshold over the chart
  * window); the multi-window burn-rate shape is what its users build on
  * top with PromQL dashboards. Here it is a first-class operator over
  * any event frame.
  *
  * Plan shape (the PromQL sliding-window plan, `metrics/PromQl.scala`
  * explode-to-steps): raw events collapse FIRST to one row per step
  * bucket (map-side-combined count shuffle — the only pass over the
  * data); each bucket row then fans out to the ⌈window/step⌉ steps whose
  * trailing window it enters, and a second hash aggregation sums per
  * step. Fan-out is a query-shape constant (window/step), never data
  * volume, and it operates on the bucket frame (≤ time-range/step rows),
  * not the corpus. At 100 TB the event scan dominates and the window
  * machinery is bounded by the dashboard's time range.
  */
object Slo {

  /** Step-aligned epoch-second bucket of `tsCol` — the ONE bucketing
    * expression both the batch and streaming burn-rate twins use
    * ([[graft.streaming.SloStream]]); a fidelity change here changes
    * both in lockstep. */
  private[graft] def stepBucket(tsCol: String, stepSeconds: Long): Column =
    (floor(unix_timestamp(col(tsCol)) / stepSeconds) * stepSeconds)
      .cast("long")

  /** The trailing-window membership fan-out both twins share: a bucket
    * `b` enters window `w`'s trailing sums at steps b .. b+w−step. */
  private[graft] def memberSteps(bucket: Column, window: Column,
      stepSeconds: Long): Column =
    explode(sequence(bucket, bucket + window - lit(stepSeconds),
      lit(stepSeconds)))

  private[graft] def validateWindows(stepSeconds: Long,
      windows: Seq[Long]): Unit = {
    require(stepSeconds > 0, "stepSeconds must be positive")
    require(windows.nonEmpty && windows.forall(w =>
      w >= stepSeconds && w % stepSeconds == 0),
      s"every window must be a positive multiple of step=$stepSeconds")
    require(windows.distinct.size == windows.size,
      s"windows must be distinct, got $windows — duplicate lengths " +
        "would collide on output column names")
  }

  /** Per-step trailing-window burn rates. For each window `w` in
    * `windows` (seconds, each a multiple of `stepSeconds`, all
    * distinct), emits `total_<w>s`, `err_<w>s`, and `burn_<w>s` =
    * (err/total)/budget (null where the window saw no events) on the
    * gap-filled step spine of the observed range. Buckets are
    * step-aligned epoch seconds; the trailing window at step B covers
    * buckets (B − w, B] — the Prometheus range-selector convention.
    *
    * One chain, no cache: the step-bucket counts (≤ range/step rows)
    * pass one ordered window that finds each bucket's next observed
    * bucket, so the gap-filled spine rides the same fan-out as the
    * windows — a spine row covers its bucket up to the next observed
    * one — and one hash aggregation sums every family conditionally,
    * keeping the steps the spine reached.
    */
  def burnRates(events: DataFrame, tsCol: String, isError: Column,
      stepSeconds: Long, windows: Seq[Long],
      errorBudget: Double): DataFrame = {
    validateWindows(stepSeconds, windows)
    // the ONLY pass over the data: map-side-combined counts per step
    // bucket — KB-scale, so the spine's ordered window runs in one task
    val counts = events
      .select(stepBucket(tsCol, stepSeconds).as("__b"),
        when(isError, 1L).otherwise(0L).as("__e"))
      .groupBy("__b")
      .agg(count(lit(1)).as("__n"), sum(col("__e")).as("__err"))
    // window 0 is the spine: bucket b stands for the empty steps up to
    // the next observed bucket (just itself when it is the last)
    val next = lead(col("__b"), 1).over(
      org.apache.spark.sql.expressions.Window.orderBy("__b"))
    val span = when(col("__w") === 0L,
      coalesce(col("__next") - col("__b"), lit(stepSeconds)))
      .otherwise(col("__w"))
    val fams = windows.flatMap(w => Seq(
      sum(when(col("__w") === w, col("__n")).otherwise(0L))
        .as(s"total_${w}s"),
      sum(when(col("__w") === w, col("__err")).otherwise(0L))
        .as(s"err_${w}s")))
    val slid = counts
      .withColumn("__next", next)
      .withColumn("__w", explode(array((0L +: windows).map(lit(_)): _*)))
      .select(memberSteps(col("__b"), span, stepSeconds).as("bucket"),
        col("__w"), col("__n"), col("__err"))
      .groupBy("bucket")
      .agg(max(col("__w") === 0L).as("__spine"), fams: _*)
      .filter(col("__spine"))
    val sums = windows.flatMap(w =>
      Seq(col(s"total_${w}s"), col(s"err_${w}s")))
    val burns = windows.map(w => when(col(s"total_${w}s") > 0,
      (col(s"err_${w}s").cast("double") / col(s"total_${w}s")) /
        errorBudget).as(s"burn_${w}s"))
    slid.select((col("bucket") +: sums) ++ burns: _*)
  }

  /** The two-window policy: burn rates for (shortWindow, longWindow)
    * plus `firing` = 1 when BOTH exceed `threshold` STRICTLY (0
    * otherwise, including no-data steps). Note the strict `>`: the
    * count-threshold alert paths (`Alerts.evaluate` Above) fire on
    * `>=` — a burn exactly at threshold does NOT fire here. */
  def multiWindowAlert(events: DataFrame, tsCol: String, isError: Column,
      stepSeconds: Long, shortWindow: Long, longWindow: Long,
      errorBudget: Double, threshold: Double): DataFrame = {
    require(shortWindow < longWindow,
      s"shortWindow ($shortWindow) must be strictly shorter than " +
        s"longWindow ($longWindow)")
    burnRates(events, tsCol, isError, stepSeconds,
      Seq(shortWindow, longWindow), errorBudget)
      .withColumn("firing",
        when(col(s"burn_${shortWindow}s") > threshold &&
          col(s"burn_${longWindow}s") > threshold, 1L).otherwise(0L))
  }
}
