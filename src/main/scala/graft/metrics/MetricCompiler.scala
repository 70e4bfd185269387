package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._

/** Metric-semantics compiler — the Spark-native equivalent of the
  * reference's `translateMetricChartConfig`
  * (packages/common-utils/src/core/renderChartConfig.ts:1686-2173).
  *
  * Input frames follow the OTel metric shapes (FIXTURES.md §3):
  * gauge/sum: MetricName, ServiceName, TimeUnix, Value,
  * ResourceAttributes/ScopeAttributes/Attributes maps,
  * sum adds AggregationTemporality (1=delta, 2=cumulative), IsMonotonic.
  *
  * All passes are window + groupBy pipelines — shuffle once per stage on the
  * series key, no driver-side loops; at scale the series-key partitioning is
  * exactly the layout the reference's storage ORDER BY provides.
  */
object MetricCompiler {

  /** Opaque per-series key: hash of the attribute maps + identity columns.
    * The reference uses cityHash64(ScopeAttributes, ResourceAttributes,
    * Attributes) (renderChartConfig.ts:1774, histogram.ts:56-62) — the value
    * differs here (xxhash64) but it is only ever used as an opaque key. */
  def attributesHash(df: DataFrame): Column = {
    import org.apache.spark.sql.types.{MapType, StructType, ArrayType}
    val parts = Seq("MetricName", "ServiceName", "ScopeAttributes",
      "ResourceAttributes", "Attributes")
      .flatMap(c => df.schema.fields.find(_.name == c))
      .map(f => f.dataType match {
        case _: MapType =>
          // maps have no canonical order and to_json preserves stored
          // insertion order, so hash sorted entries for a stable series key
          to_json(array_sort(map_entries(col(f.name))))
        case _: StructType | _: ArrayType =>
          to_json(col(f.name))
        case _ => col(f.name).cast("string")
      })
    xxhash64(parts: _*)
  }

  /** OTel semantic-convention metric renames (reference
    * METRIC_NAME_MIGRATIONS, app/src/otelSemanticConventions.ts:11-30):
    * collectors before/after v0.125.0 record the same metric under the
    * old or new name, so a chart for the old name must match both. */
  private val MetricNameMigrations: Map[String, String] = Map(
    "k8s.pod.cpu.utilization" -> "k8s.pod.cpu.usage",
    "k8s.node.cpu.utilization" -> "k8s.node.cpu.usage",
    "container.cpu.utilization" -> "container.cpu.usage")

  /** Predicate selecting a metric by name, widened to `IN (old, new)`
    * when a semantic-convention migration exists (the reference's
    * getMetricNameSql) — a fleet mid-upgrade emits under both names and
    * the chart must not lose half its series. */
  def metricNameFilter(name: String): Column =
    MetricNameMigrations.get(name) match {
      case Some(renamed) => col("MetricName").isin(name, renamed)
      case None => col("MetricName") === name
    }

  private val SeriesKey = "__series"
  private val Bucket = TimeBucketAlias

  private def withSeriesAndBucket(df: DataFrame, stepSeconds: Long)
      : DataFrame =
    df.withColumn(SeriesKey, attributesHash(df))
      .withColumn(Bucket, timeBucket(col("TimeUnix"), stepSeconds))

  // ------------------------------------------------------------------ gauge

  /** Gauge: per-series per-bucket `last_value(Value)`, then the user's
    * aggregate across series per bucket/group
    * (reference renderChartConfig.ts:1725-1819). */
  def gauge(df: DataFrame, stepSeconds: Long, userAgg: String,
      groupBy: Seq[String] = Nil): DataFrame = {
    val perSeries = withSeriesAndBucket(df, stepSeconds)
      .groupBy((col(SeriesKey) +: col(Bucket) +: groupBy.map(col)): _*)
      .agg(max_by(col("Value"), col("TimeUnix")).as("last_value"))
    applyUserAgg(perSeries, col("last_value"), userAgg, groupBy)
  }

  /** Gauge delta (`isDelta`): Prometheus-style extrapolated delta per
    * series/bucket — `(argMax - argMin) * step / date_diff(max,min)`,
    * 0 when a bucket has a single point
    * (reference renderDeltaExpression renderChartConfig.ts:1655-1684). */
  def gaugeDelta(df: DataFrame, stepSeconds: Long, userAgg: String,
      groupBy: Seq[String] = Nil): DataFrame = {
    val perSeries = withSeriesAndBucket(df, stepSeconds)
      .groupBy((col(SeriesKey) +: col(Bucket) +: groupBy.map(col)): _*)
      .agg(
        max_by(col("Value"), col("TimeUnix")).as("__vmax"),
        min_by(col("Value"), col("TimeUnix")).as("__vmin"),
        max(col("TimeUnix")).as("__tmax"), min(col("TimeUnix")).as("__tmin"))
      .withColumn("__secs",
        unix_timestamp(col("__tmax")) - unix_timestamp(col("__tmin")))
      .withColumn("delta",
        when(col("__secs") === 0, lit(0.0))
          .otherwise((col("__vmax") - col("__vmin")) * lit(stepSeconds) /
            col("__secs")))
    applyUserAgg(perSeries, col("delta"), userAgg, groupBy)
  }

  // ---------------------------------------------------------------- counter

  /** Counter (sum metric) per-row rate: delta rows pass through, cumulative
    * rows diff against the previous point of the same series with
    * counter-reset clamping to 0; first point contributes 0 (NULL lag)
    * (reference renderChartConfig.ts:1864-1965). */
  def counterRatePerRow(df: DataFrame): DataFrame = {
    val src = df.withColumn(SeriesKey, attributesHash(df))
    val w = Window.partitionBy(col(SeriesKey)).orderBy(col("TimeUnix"))
    src.withColumn("__prev", lag(col("Value"), 1).over(w))
      .withColumn("Rate",
        when(col("AggregationTemporality") === 1, col("Value"))
          .otherwise(greatest(col("Value") - coalesce(col("__prev"),
            col("Value")), lit(0.0))))
      .drop("__prev")
  }

  /** Counter rate bucketed: sum of per-row rates per bucket/group. */
  def counterRate(df: DataFrame, stepSeconds: Long,
      groupBy: Seq[String] = Nil): DataFrame = {
    val rated = counterRatePerRow(df)
      .withColumn(Bucket, timeBucket(col("TimeUnix"), stepSeconds))
    rated
      .groupBy((col(Bucket) +: groupBy.map(col)): _*)
      .agg(sum(col("Rate")).as("rate"))
  }

  /** Counter rate over a bounded chart range: the scan is padded one step
    * EARLIER than the range so the first in-range bucket's lag-delta diffs
    * against the last pre-range point instead of starting at 0, then the
    * output is trimmed to the requested buckets (reference
    * includedDataInterval, renderChartConfig.ts:1838-1860). */
  def counterRateInRange(df: DataFrame, stepSeconds: Long,
      fromEpochSec: Long, toEpochSec: Long,
      groupBy: Seq[String] = Nil): DataFrame = {
    val fromBucket = math.floorDiv(fromEpochSec, stepSeconds) * stepSeconds
    val padded = df.filter(
      unix_timestamp(col("TimeUnix")) >= fromBucket - stepSeconds &&
        unix_timestamp(col("TimeUnix")) <= toEpochSec)
    counterRate(padded, stepSeconds, groupBy)
      .filter(unix_timestamp(col(Bucket)) >= fromBucket &&
        unix_timestamp(col(Bucket)) <= toEpochSec)
  }

  /** `increase`: sum of rates per user group, capped to the top-N groups by
    * total increase (reference INCREASE_MAX_NUM_GROUPS=20 + ranking CTE,
    * renderChartConfig.ts:1971-2075). */
  def increase(df: DataFrame, stepSeconds: Long, groupBy: Seq[String],
      maxGroups: Int = 20): DataFrame = {
    val perBucket = counterRate(df, stepSeconds, groupBy)
    if (groupBy.isEmpty) perBucket
    else {
      val gcols = groupBy.map(col)
      val top = perBucket.groupBy(gcols: _*)
        .agg(max(col("rate")).as("__rank_val"))
        .orderBy(desc("__rank_val") +: gcols.map(_.asc): _*)
        .limit(maxGroups)
        .select(gcols: _*)
      perBucket.join(broadcast(top), groupBy, "left_semi")
    }
  }

  // ------------------------------------------------------------------ util

  private def applyUserAgg(perSeries: DataFrame, value: Column,
      userAgg: String, groupBy: Seq[String]): DataFrame = {
    val v = toFloat64OrDefault(value)
    val agg = userAgg match {
      case "avg" => avg(v)
      case "sum" => sum(v)
      case "min" => min(v)
      case "max" => max(v)
      case "count" => count(v)
      // PromQL `group` aggregation: constant 1 per output group
      case "group" => max(org.apache.spark.sql.functions.lit(1.0))
      // the bucket is the group key (constant within each group), so the
      // cross-series pick orders by the series key — deterministic across
      // runs/partitionings, unlike an arbitrary-row pick
      case "last_value" => max_by(v, col(SeriesKey))
      // exact interpolated percentile across series (reference aggFnExpr
      // quantile over gauge last_values, renderChartConfig.ts:648-657)
      case q if q.startsWith("quantile:") =>
        call_function("percentile", v, lit(q.drop("quantile:".length).toDouble))
      // population statistics (PromQL stddev/stdvar aggregations)
      case "stddev" => stddev_pop(v)
      case "stdvar" => var_pop(v)
      case other =>
        throw new IllegalArgumentException(s"unsupported gauge agg: $other")
    }
    perSeries
      .groupBy((col(Bucket) +: groupBy.map(col)): _*)
      .agg(agg.as("value"))
  }
}
