package graft.analysis

import java.time.Instant

import org.apache.spark.sql.functions._

import graft.compile.{Catalog, QueryCompiler}
import graft.functions.CoreFunctions.TimeBucketAlias
import graft.ir._

/** End-to-end alert evaluation — the reference's check-alerts task
  * (SURVEY §3.3): assemble a count-per-bucket ChartConfig from the alert's
  * saved search, run it through the engine, evaluate thresholds per group
  * with the consecutive-window state machine. */
object AlertRunner {

  final case class AlertConfig(
      source: String,
      where: Option[Cond],
      groupBy: Seq[String] = Nil,
      intervalMinutes: Int = 5,
      threshold: Double,
      thresholdType: Alerts.ThresholdType = Alerts.ThresholdType.Above,
      thresholdMax: Option[Double] = None,
      numConsecutiveWindows: Int = 1,
      scheduleOffsetMinutes: Int = 0,
      /** Firing suppressed until this instant (the reference's
        * `alert.silenced.until`, checkAlerts/index.ts:1056-1063):
        * evaluation still runs — state stays observable — but
        * [[firing]] returns nothing while silenced. */
      silencedUntil: Option[Instant] = None)

  final case class AlertResult(group: Seq[String], state: Alerts.AlertState,
      windowValues: Seq[(Instant, Double)])

  /** Is the alert silenced at `now`? Mirrors the reference's check
    * `silenced.until > Date.now()` — an elapsed silence self-expires
    * with no cleanup step. */
  def isSilenced(cfg: AlertConfig, now: Instant): Boolean =
    cfg.silencedUntil.exists(_.isAfter(now))

  /** The results a notifier should fire on: ALERT states only, and
    * nothing while the alert is silenced (the reference's
    * `skipped_silenced` outcome — evaluation happened, notification
    * suppressed). */
  def firing(results: Seq[AlertResult], cfg: AlertConfig, now: Instant)
      : Seq[AlertResult] =
    if (isSilenced(cfg, now)) Nil
    else results.filter(_.state == Alerts.ALERT)

  /** Evaluate at `now`: queries the lookback window
    * (numConsecutiveWindows closed windows), compares per group. The
    * engine query is the reference's ALERT_COUNT_DEFAULT_SELECT — count per
    * interval bucket (searchChartConfig.ts:48-55). */
  def evaluate(catalog: Catalog, cfg: AlertConfig, now: Instant)
      : Seq[AlertResult] = {
    val windowSecs = cfg.intervalMinutes * 60L
    val currentStart = Alerts.getScheduledWindowStart(now,
      cfg.intervalMinutes, cfg.scheduleOffsetMinutes)
    // closed windows only: [currentStart - n·w, currentStart)
    val windowStarts = (cfg.numConsecutiveWindows to 1 by -1)
      .map(i => currentStart.minusSeconds(i * windowSecs))
    val q = Query(
      select = Seq(SelectItem("", Some("value"), Some(AggFn.Count))),
      from = cfg.source,
      where = cfg.where,
      groupBy = cfg.groupBy,
      granularity = Some(Granularity.Fixed(windowSecs)),
      dateRange = Some(DateRange(windowStarts.head, currentStart,
        inclusiveEnd = false)))
    val rows = QueryCompiler.compile(q, catalog).collect()
    threshold(rows, cfg.groupBy, windowStarts, cfg)
  }

  /** Evaluate a PromQL expression as the alert source (the metric-side
    * twin of the chart-config path): the metric frame is scoped to the
    * closed lookback windows, evaluated at the alert interval, and each
    * result series (every non-bucket/value column is a group label) runs
    * through the same consecutive-window threshold machine.
    *
    * The scan padding for sliding range functions is derived from the
    * parsed expression (`PromQl.maxLookback`) — a `max_over_time(m[1h])`
    * alert automatically scans one hour before the first window, so edge
    * windows never aggregate truncated data. rate()/increase() take
    * PromQl's one sliding semantics (Prometheus's extrapolatedRate). All
    * PromQl vector families bucket at window STARTS, the same
    * convention the threshold machine compares against — no re-keying
    * flag. */
  def evaluatePromQl(df: org.apache.spark.sql.DataFrame, promql: String,
      cfg: AlertConfig, now: Instant): Seq[AlertResult] = {
    val windowSecs = cfg.intervalMinutes * 60L
    val currentStart = Alerts.getScheduledWindowStart(now,
      cfg.intervalMinutes, cfg.scheduleOffsetMinutes)
    val windowStarts = (cfg.numConsecutiveWindows to 1 by -1)
      .map(i => currentStart.minusSeconds(i * windowSecs))
    val lookback = graft.metrics.PromQl.maxLookback(promql)
    val scoped = df.filter(
      col("TimeUnix") >= lit(java.sql.Timestamp.from(
        windowStarts.head.minusSeconds(lookback))) &&
        col("TimeUnix") < lit(java.sql.Timestamp.from(currentStart)))
    val out = graft.metrics.PromQl.eval(scoped, promql, windowSecs)
    val groupCols = out.columns.toSeq
      .filterNot(c => c == TimeBucketAlias || c == "value")
    threshold(out.collect(), groupCols, windowStarts, cfg)
  }

  /** Template-novelty alert — the deploy-triage question "did a log
    * shape appear that did not exist before?" as a scheduled
    * evaluation: masked templates ([[Patterns.templateDiff]]) whose
    * status is `new` (plus `surge` when `includeSurge`) in the current
    * window [now − current, now) versus the baseline window before it,
    * with at least `minCount` current occurrences (one noisy line is
    * not an incident). One scan bounded to baseline+current; one
    * AlertResult per offending template (group = the template, state
    * ALERT, windowValue = the current window's count), worst templates
    * first, capped at `maxTemplates`. */
  def evaluateNovelty(df: org.apache.spark.sql.DataFrame, tsCol: String,
      lineCol: String, now: Instant, baselineSeconds: Long,
      currentSeconds: Long, minCount: Long = 3,
      includeSurge: Boolean = false, surgeRatio: Double = 2.0,
      maxTemplates: Int = 100): Seq[AlertResult] = {
    require(minCount >= 1, "minCount must be at least 1")
    require(maxTemplates >= 1, "maxTemplates must be at least 1")
    require(baselineSeconds > 0 && currentSeconds > 0,
      "baselineSeconds and currentSeconds must be positive")
    // snap to the window grid like every evaluate* here: the CLOSED
    // current window ending at the last currentSeconds boundary, so a
    // retry within the same tick sees the identical windows (no
    // boundary flapping)
    val end = Instant.ofEpochSecond(
      math.floorDiv(now.getEpochSecond, currentSeconds) * currentSeconds)
    val split = end.minusSeconds(currentSeconds)
    val from = split.minusSeconds(baselineSeconds)
    val statuses = if (includeSurge) Seq("new", "surge") else Seq("new")
    val offenders = Patterns.templateDiff(df.filter(col(lineCol).isNotNull),
        lineCol, tsCol, from.toString, split.toString, end.toString,
        surgeRatio)
      .filter(col("status").isin(statuses: _*) &&
        col("cur_n") >= minCount)
      .orderBy(desc("cur_n"), col("template"))
      .limit(maxTemplates)
      .select("template", "cur_n")
      .collect()
    offenders.toSeq.map { r =>
      AlertResult(Seq(r.getString(0)), Alerts.ALERT,
        Seq(split -> r.getLong(1).toDouble))
    }
  }

  /** Shared per-group consecutive-window threshold evaluation. PromQL
    * series buckets are window STARTS already; chart buckets likewise. */
  private def threshold(rows: Array[org.apache.spark.sql.Row],
      groupCols: Seq[String], windowStarts: Seq[Instant],
      cfg: AlertConfig): Seq[AlertResult] = {
    val byGroup = rows.groupBy(r =>
      groupCols.map(g => String.valueOf(r.getAs[Any](g))))
    val groups = if (groupCols.isEmpty) Map(Seq.empty[String] ->
      byGroup.values.flatten.toArray) else byGroup
    groups.map { case (g, rs) =>
      // NULL values (x/0, ln of a non-positive, …) drop out as missing
      // points rather than erroring; note the threshold machine then
      // treats a missing window as 0.0 (Alerts.evaluate), matching the
      // chart path's empty-bucket behavior
      val series = rs.flatMap { r =>
        val ts = r.getAs[java.sql.Timestamp](TimeBucketAlias).toInstant
        r.getAs[Any]("value") match {
          case null => None
          case n: Number => Some(ts -> n.doubleValue())
          case other => Some(ts -> String.valueOf(other).toDouble)
        }
      }.toMap
      val state = Alerts.evaluate(series, windowStarts, cfg.thresholdType,
        cfg.threshold, cfg.thresholdMax, cfg.numConsecutiveWindows)
      AlertResult(g, state,
        windowStarts.map(w => w -> series.getOrElse(w, 0.0)))
    }.toSeq.sortBy(_.group.mkString(","))
  }

  /** Multi-window burn-rate alert evaluation ([[Slo]] as an alert
    * source): the SRE-workbook policy is its own state rule — ALERT when
    * BOTH windows burn STRICTLY above `cfg.threshold` at the last
    * closed step (the Slo firing rule; note the count-threshold paths
    * above fire on `>=`) — so it does not reuse the consecutive-window
    * machine, and `cfg.groupBy` / `thresholdType` / `thresholdMax`
    * do not apply (rejected loudly rather than silently ignored; for
    * per-group burn alerts partition the frame upstream and evaluate
    * each slice). The scan is scoped to exactly the data the reported
    * steps and the firing decision can use; `windowValues` reports the
    * recent closed steps' SHORT-window burn (the fast-moving signal a
    * responder watches), most recent last. Missing steps (no traffic)
    * report burn 0 and never fire. The [[Slo]] bucket cache is
    * released before returning, so a repeating scheduler does not
    * accumulate cache entries. */
  def evaluateBurnRate(df: org.apache.spark.sql.DataFrame, tsCol: String,
      isError: org.apache.spark.sql.Column, cfg: AlertConfig, now: Instant,
      shortWindowSeconds: Long, longWindowSeconds: Long,
      errorBudget: Double, reportSteps: Int = 3): Seq[AlertResult] = {
    require(cfg.groupBy.isEmpty,
      "burn-rate alerts are ungrouped — filter the frame per group " +
        "upstream and evaluate each slice")
    require(cfg.thresholdType == Alerts.ThresholdType.Above &&
      cfg.thresholdMax.isEmpty,
      "burn-rate alerts support only a plain upper threshold")
    require(reportSteps >= 1, "reportSteps must be at least 1")
    val step = cfg.intervalMinutes * 60L
    val currentStart = Alerts.getScheduledWindowStart(now,
      cfg.intervalMinutes, cfg.scheduleOffsetMinutes)
    val lastClosed = currentStart.minusSeconds(step)
    val steps = (reportSteps to 1 by -1)
      .map(i => currentStart.minusSeconds(i * step))
    // the oldest REPORTED step's short window and the last closed
    // step's long window both bound the scan — truncating either would
    // silently undercount a burn
    val scanFrom = Seq(
      lastClosed.minusSeconds(longWindowSeconds - step),
      steps.head.minusSeconds(shortWindowSeconds - step)).min
    val scoped = df.filter(
      col(tsCol) >= lit(java.sql.Timestamp.from(scanFrom)) &&
        col(tsCol) < lit(java.sql.Timestamp.from(currentStart)))
    val (alert, release) = Slo.multiWindowAlertReleasable(scoped, tsCol,
      isError, step, shortWindowSeconds, longWindowSeconds, errorBudget,
      cfg.threshold)
    val out =
      try alert
        .select(col("bucket"), col(s"burn_${shortWindowSeconds}s"),
          col("firing"))
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) 0.0 else r.getDouble(1), r.getLong(2)))
      finally release()
    val byBucket = out.map { case (b, burn, firing) =>
      b -> (burn, firing) }.toMap
    val fire = byBucket.get(lastClosed.getEpochSecond)
      .exists(_._2 == 1L)
    Seq(AlertResult(Nil,
      if (fire) Alerts.ALERT else Alerts.OK,
      steps.map(s => s ->
        byBucket.get(s.getEpochSecond).map(_._1).getOrElse(0.0))))
  }
}
