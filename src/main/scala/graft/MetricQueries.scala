package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._
import graft.metrics.{ExpHistograms, Histograms, MetricCompiler}

/** Metric-semantics queries (SURVEY §2.5) exposed through the driver
  * contract. The testdata has no OTel metric tables, so each query first
  * derives a deterministic metric-shaped frame from `events`, then runs the
  * real pipeline (MetricCompiler / Histograms); the oracle SQL re-derives
  * the same frame and result with window functions in DuckDB. */
object MetricQueries {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Queries.cat(spark, dir)("events").df

  private def epochBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", unix_timestamp(col(TimeBucketAlias)))
      .drop(TimeBucketAlias)

  /** Gauge: per-series (user) last value per hour, avg across series per
    * event_type (reference renderChartConfig.ts:1725-1819). The avg is
    * derived from the ROUNDED sum / count so both engines divide identical
    * doubles — series counts can be powers of two, where raw avgs land on
    * exact rounding half-boundaries and ulp-different sums flip the digit. */
  def q13_gauge(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("value").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(MetricCompiler.gauge(g, 3600, "sum", Seq("ServiceName"))
      .withColumnRenamed("value", "sum_v"))
      .join(epochBucket(
        MetricCompiler.gauge(g, 3600, "count", Seq("ServiceName"))
          .withColumnRenamed("value", "n_series")),
        Seq("bucket", "ServiceName"))
      .withColumn("sum_v", round(col("sum_v"), 2))
      .withColumn("value", round(col("sum_v") / col("n_series"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q13_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket, event_type,
      |  round(round(sum(v),2) / count(*), 6) AS value
      |FROM last GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Gauge delta: Prometheus-style extrapolated per-series delta —
    * `(argMax − argMin) · step / (tmax − tmin)` per (series, hour) bucket,
    * 0 for single-point buckets — summed across series per event_type
    * (reference renderDeltaExpression renderChartConfig.ts:1655-1684). */
  def q48_gauge_delta(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("value").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(
      MetricCompiler.gaugeDelta(g, 3600, "sum", Seq("ServiceName")))
      .withColumn("delta_sum", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "delta_sum")
      .orderBy("bucket", "event_type")
  }

  val q48_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |d AS (
      |  SELECT bucket, event_type, user_id,
      |    arg_max(value, ts) AS vmax, arg_min(value, ts) AS vmin,
      |    CAST(floor(epoch(max(ts))) AS BIGINT) -
      |      CAST(floor(epoch(min(ts))) AS BIGINT) AS secs
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket, event_type,
      |  round(sum(CASE WHEN secs = 0 THEN 0.0
      |                 ELSE (vmax - vmin) * 3600 / secs END), 2)
      |    AS delta_sum
      |FROM d GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Counter rate: cumulative per-user counters (running sum of value),
    * lag-diff with reset clamp, summed per day
    * (reference renderChartConfig.ts:1864-1965). */
  def q14_rate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val counter = events(spark, dir)
      .withColumn("cum", sum(col("value")).over(w))
      .select(
        lit("requests").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("ts").as("TimeUnix"),
        col("cum").as("Value"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"),
        lit(2).as("AggregationTemporality"),
        lit(true).as("IsMonotonic"))
    epochBucket(MetricCompiler.counterRate(counter, 86400))
      .withColumn("rate", round(col("rate"), 2))
      .select("bucket", "rate")
      .orderBy("bucket")
  }

  val q14_sql: String =
    """WITH c AS (
      |  SELECT user_id, ts,
      |    sum(value) OVER (PARTITION BY user_id ORDER BY ts) AS v
      |  FROM events),
      |r AS (
      |  SELECT ts,
      |    CASE WHEN lag(v) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      THEN 0
      |      ELSE greatest(v - lag(v) OVER (PARTITION BY user_id ORDER BY ts),
      |                    0) END AS rate
      |  FROM c)
      |SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |  round(sum(rate),2) AS rate
      |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin

  /** increase: per-event_type counters, top-3 groups cap via ranked
    * semi-join (reference INCREASE_MAX_NUM_GROUPS,
    * renderChartConfig.ts:1971-2075). */
  def q15_increase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts"))
    val counter = events(spark, dir)
      .withColumn("cum", sum(col("value")).over(w))
      .select(
        lit("requests").as("MetricName"),
        col("event_type").as("ServiceName"),
        col("ts").as("TimeUnix"),
        col("cum").as("Value"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"),
        lit(2).as("AggregationTemporality"),
        lit(true).as("IsMonotonic"))
    epochBucket(
      MetricCompiler.increase(counter, 86400, Seq("ServiceName"),
        maxGroups = 3))
      .withColumn("rate", round(col("rate"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "rate")
      .orderBy("bucket", "event_type")
  }

  val q15_sql: String =
    """WITH c AS (
      |  SELECT event_type, user_id, ts, sum(value) OVER
      |    (PARTITION BY event_type, user_id ORDER BY ts) AS v
      |  FROM events),
      |r AS (
      |  SELECT event_type, ts,
      |    CASE WHEN lag(v) OVER
      |        (PARTITION BY event_type, user_id ORDER BY ts) IS NULL
      |      THEN 0
      |      ELSE greatest(v - lag(v) OVER
      |        (PARTITION BY event_type, user_id ORDER BY ts), 0) END AS rate
      |  FROM c),
      |agg AS (
      |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    event_type, sum(rate) AS rate
      |  FROM r GROUP BY bucket, event_type),
      |top3 AS (
      |  SELECT event_type FROM (
      |    SELECT event_type, max(rate) AS m FROM agg GROUP BY event_type)
      |  ORDER BY m DESC, event_type LIMIT 3)
      |SELECT bucket, event_type, round(rate,2) AS rate FROM agg
      |WHERE event_type IN (SELECT event_type FROM top3)
      |ORDER BY bucket, event_type""".stripMargin

  /** Histogram quantile p50: per-(user, day) explicit-bounds histograms
    * (bounds 10/50/100/200) merged across series and interpolated
    * (reference histogram.ts:137-250). */
  def q16_hist_quantile(spark: SparkSession, dir: String): DataFrame = {
    val day = timeBucket(col("ts"), 86400)
    val hist = events(spark, dir)
      .groupBy(day.as("TimeUnix"), col("user_id"))
      .agg(array(
        count_if(col("value") <= 10).cast("long"),
        count_if(col("value") > 10 && col("value") <= 50).cast("long"),
        count_if(col("value") > 50 && col("value") <= 100).cast("long"),
        count_if(col("value") > 100 && col("value") <= 200).cast("long"),
        count_if(col("value") > 200).cast("long")).as("BucketCounts"))
      .select(
        lit("latency").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        lit(1).as("AggregationTemporality"),
        aggregate(col("BucketCounts"), lit(0L), (a, b) => a + b).as("Count"),
        col("BucketCounts"),
        array(lit(10.0), lit(50.0), lit(100.0), lit(200.0))
          .as("ExplicitBounds"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(Histograms.quantile(hist, 0.5, 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  val q16_sql: String =
    """WITH h AS (
      |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    count(*) FILTER (WHERE value <= 10) AS c1,
      |    count(*) FILTER (WHERE value > 10 AND value <= 50) AS c2,
      |    count(*) FILTER (WHERE value > 50 AND value <= 100) AS c3,
      |    count(*) FILTER (WHERE value > 100 AND value <= 200) AS c4,
      |    count(*) FILTER (WHERE value > 200) AS c5
      |  FROM events GROUP BY bucket),
      |p AS (
      |  SELECT bucket, CAST(c1 AS DOUBLE) AS s1,
      |    CAST(c1+c2 AS DOUBLE) AS s2, CAST(c1+c2+c3 AS DOUBLE) AS s3,
      |    CAST(c1+c2+c3+c4 AS DOUBLE) AS s4,
      |    CAST(c1+c2+c3+c4+c5 AS DOUBLE) AS total
      |  FROM h)
      |SELECT bucket, round(CASE
      |    WHEN s1 > 0.5*total THEN 0 + 10.0*((0.5*total)/s1)
      |    WHEN s2 > 0.5*total THEN 10 + 40.0*((0.5*total - s1)/(s2-s1))
      |    WHEN s3 > 0.5*total THEN 50 + 50.0*((0.5*total - s2)/(s3-s2))
      |    WHEN s4 > 0.5*total THEN 100 + 100.0*((0.5*total - s3)/(s4-s3))
      |    ELSE 200 END, 6) AS value
      |FROM p WHERE total > 0 ORDER BY bucket""".stripMargin

  /** Exponential-histogram quantile p50: per-(user, day) scale-0 exp
    * histograms of value (bucket i = (2^i, 2^(i+1)], values ≤ 1 dropped),
    * merged across series and log-linearly interpolated
    * (reference histogram.ts:252-661). */
  def q17_exp_quantile(spark: SparkSession, dir: String): DataFrame = {
    val day = timeBucket(col("ts"), 86400)
    // bucket i = (2^i, 2^(i+1)] via explicit range comparisons (a float
    // log2 would misplace exact powers of two by one ulp)
    val counts = array((0 to 7).map(i =>
      count_if(col("value") > (1 << i).toDouble &&
        col("value") <= (1 << (i + 1)).toDouble).cast("long")): _*)
    val hist = events(spark, dir)
      .filter(col("value") > 1)
      .groupBy(day.as("TimeUnix"), col("user_id"))
      .agg(counts.as("PositiveBucketCounts"))
      .select(
        lit("latency").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("TimeUnix").as("StartTimeUnix"),
        lit(1).as("AggregationTemporality"),
        lit(0).as("Scale"),
        aggregate(col("PositiveBucketCounts"), lit(0L), _ + _).as("Count"),
        lit(0L).as("ZeroCount"),
        lit(0).as("PositiveOffset"),
        col("PositiveBucketCounts"),
        lit(0).as("NegativeOffset"),
        array().cast("array<long>").as("NegativeBucketCounts"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(ExpHistograms.quantile(hist, 0.5, 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  /** Oracle: same bucketing + the reference's rank-selection/interpolation
    * unrolled as a CASE chain over the 8 buckets. */
  val q17_sql: String = {
    val cs = (0 to 7).map(i =>
      s"count(*) FILTER (WHERE value > ${1 << i}.0 AND value <= ${1 << (i + 1)}.0) AS c$i")
      .mkString(",\n    ")
    val sums = (0 to 7).map(i =>
      s"CAST(${(0 to i).map(j => s"c$j").mkString("+")} AS DOUBLE) AS s$i")
      .mkString(",\n    ")
    val cases = (0 to 7).map { i =>
      val prev = if (i == 0) "0" else s"s${i - 1}"
      s"WHEN c$i > 0 AND s$i >= 0.5*s7 THEN pow(2, $i + (0.5*s7 - $prev)/c$i)"
    }.mkString("\n    ")
    s"""WITH h AS (
       |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
       |    $cs
       |  FROM events WHERE value > 1 GROUP BY bucket),
       |p AS (
       |  SELECT bucket, c0, c1, c2, c3, c4, c5, c6, c7,
       |    $sums
       |  FROM h)
       |SELECT bucket, round(CASE
       |    $cases
       |    END, 6) AS value
       |FROM p WHERE s7 > 0 ORDER BY bucket""".stripMargin
  }

  /** Histogram count over CUMULATIVE-temporality series: per-user daily
    * cumulative observation counts lag-diffed with the histogram reset
    * rule, summed per bucket (reference histogram.ts:89-135). */
  def q18_hist_count(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("TimeUnix"))
    val hist = events(spark, dir)
      .groupBy(timeBucket(col("ts"), 86400).as("TimeUnix"), col("user_id"))
      .agg(count(lit(1)).as("__daily"))
      .withColumn("Count", sum(col("__daily")).over(w))
      .select(
        lit("obs").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        lit(2).as("AggregationTemporality"),
        col("Count"),
        array(lit(1.0)).as("ExplicitBounds"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(Histograms.count(hist, 86400))
      .select("bucket", "count")
      .orderBy("bucket")
  }

  val q18_sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(floor(epoch(ts)/86400)*86400 AS BIGINT)
      |    AS bucket, count(*) AS c
      |  FROM events GROUP BY user_id, bucket),
      |cum AS (
      |  SELECT user_id, bucket,
      |    sum(c) OVER (PARTITION BY user_id ORDER BY bucket) AS v
      |  FROM daily),
      |d AS (
      |  SELECT bucket,
      |    CASE WHEN lag(v) OVER (PARTITION BY user_id ORDER BY bucket)
      |      IS NULL THEN 0
      |      ELSE v - lag(v) OVER (PARTITION BY user_id ORDER BY bucket)
      |      END AS delta
      |  FROM cum)
      |SELECT bucket, CAST(sum(delta) AS BIGINT) AS count FROM d
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Exp-histogram count over cumulative series with a mid-series
    * StartTimeUnix change: the reset rule takes the current count
    * (reference histogram.ts:279-330). Series restart their StartTimeUnix
    * every 10 days → deterministic resets in real data. */
  def q19_exp_count(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("era"))
      .orderBy(col("TimeUnix"))
    val hist = events(spark, dir)
      .withColumn("day", timeBucket(col("ts"), 86400))
      .withColumn("era", timeBucket(col("ts"), 10 * 86400))
      .groupBy(col("day").as("TimeUnix"), col("era"), col("user_id"))
      .agg(count(lit(1)).as("__daily"))
      .withColumn("Count", sum(col("__daily")).over(w))
      .select(
        lit("obs").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("era").as("StartTimeUnix"),
        lit(2).as("AggregationTemporality"),
        lit(0).as("Scale"),
        col("Count"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(ExpHistograms.count(hist, 86400))
      .select("bucket", "count")
      .orderBy("bucket")
  }

  /** Oracle mirrors the reset rules: first point of a series or
    * StartTimeUnix==TimeUnix → 0; era (start) change → take current. */
  val q19_sql: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    CAST(floor(epoch(ts)/864000)*864000 AS BIGINT) AS era,
      |    count(*) AS c
      |  FROM events GROUP BY user_id, bucket, era),
      |cum AS (
      |  SELECT user_id, bucket, era,
      |    sum(c) OVER (PARTITION BY user_id, era ORDER BY bucket) AS v
      |  FROM daily),
      |d AS (
      |  SELECT bucket,
      |    CASE
      |      WHEN lag(v) OVER w IS NULL OR era = bucket THEN 0
      |      WHEN era != lag(era) OVER w OR v < lag(v) OVER w THEN v
      |      ELSE v - lag(v) OVER w END AS delta
      |  FROM cum
      |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
      |SELECT bucket, CAST(sum(delta) AS BIGINT) AS count FROM d
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Exp-histogram quantile over MIXED scales: odd users emit scale-0
    * histograms, even users scale-1 (√2-boundary buckets) — the pipeline
    * must downscale the scale-1 series (floor-div index coalescing) before
    * merging. Coalescing scale-1 counts reproduces the scale-0 bucketing of
    * the same values, so the oracle is the scale-0 interpolation over all
    * values (histogram.ts:368-424 normalization exercised at the gate). */
  def q37_exp_mixed_scale(spark: SparkSession, dir: String): DataFrame = {
    val day = timeBucket(col("ts"), 86400)
    // scale 0: bucket i = (2^i, 2^(i+1)], i in 0..7
    val counts0 = array((0 to 7).map(i =>
      count_if(col("value") > (1 << i).toDouble &&
        col("value") <= (1 << (i + 1)).toDouble).cast("long")): _*)
    // scale 1: bucket j = (2^(j/2), 2^((j+1)/2)], j in 0..15
    val counts1 = array((0 to 15).map { j =>
      val lo = math.pow(2.0, j / 2.0)
      val hi = math.pow(2.0, (j + 1) / 2.0)
      count_if(col("value") > lo && col("value") <= hi).cast("long")
    }: _*)
    val base = events(spark, dir).filter(col("value") > 1)
    def side(parity: Int, scale: Int, counts: Column) = base
      .filter(col("user_id") % 2 === parity)
      .groupBy(day.as("TimeUnix"), col("user_id"))
      .agg(counts.as("PositiveBucketCounts"))
      .select(
        lit("latency").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("TimeUnix").as("StartTimeUnix"),
        lit(1).as("AggregationTemporality"),
        lit(scale).as("Scale"),
        aggregate(col("PositiveBucketCounts"), lit(0L), _ + _).as("Count"),
        lit(0L).as("ZeroCount"),
        lit(0).as("PositiveOffset"),
        col("PositiveBucketCounts"),
        lit(0).as("NegativeOffset"),
        array().cast("array<long>").as("NegativeBucketCounts"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    val hist = side(1, 0, counts0).unionByName(side(0, 1, counts1))
    epochBucket(ExpHistograms.quantile(hist, 0.5, 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  /** Same oracle math as q17 (scale-0 interpolation over all values). */
  val q37_sql: String = q17_sql

  /** Exp-histogram quantile with NEGATIVE buckets and negative offsets:
    * values shifted to straddle zero (v−35), bucketed at scale 0 with
    * indexes −7..7 on both sides plus an exact-zero bucket; exercises the
    * ordered neg|zero|pos concat, negative-side log interpolation
    * −exp2((idx+1−frac)·w), and negative-offset handling
    * (histogram.ts:604-660). */
  def q38_exp_negative(spark: SparkSession, dir: String): DataFrame = {
    val v = col("value") - 35.0
    def b(i: Int): Double = // 2^i for i possibly negative
      math.pow(2.0, i)
    val posCounts = array((-7 to 7).map(i =>
      count_if(v > b(i) && v <= b(i + 1)).cast("long")): _*)
    val negCounts = array((-7 to 7).map(i =>
      count_if(-v > b(i) && -v <= b(i + 1)).cast("long")): _*)
    val hist = events(spark, dir)
      .groupBy(timeBucket(col("ts"), 86400).as("TimeUnix"))
      .agg(posCounts.as("PositiveBucketCounts"),
        negCounts.as("NegativeBucketCounts"),
        count_if(v === 0.0).cast("long").as("ZeroCount"))
      .select(
        lit("delta").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("TimeUnix").as("StartTimeUnix"),
        lit(1).as("AggregationTemporality"),
        lit(0).as("Scale"),
        lit(0L).as("Count"),
        col("ZeroCount"),
        lit(-7).as("PositiveOffset"),
        col("PositiveBucketCounts"),
        lit(-7).as("NegativeOffset"),
        col("NegativeBucketCounts"),
        map(lit("k"), lit("v")).as("Attributes"))
    epochBucket(ExpHistograms.quantile(hist, 0.5, 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  /** Oracle: ordered buckets = negative idx 7..−7, zero, positive −7..7;
    * generated cumulative-sum CASE chain mirroring the reference's rank
    * selection and log-linear interpolation. */
  val q38_sql: String = {
    def p(i: Int): String = // 2^i literal
      if (i >= 0) s"${(1L << i)}.0" else s"${math.pow(2.0, i)}"
    // counts in ascending value order: c0..c14 neg (idx 7 down to -7),
    // c15 zero, c16..c30 pos (idx -7 up to 7)
    val negDefs = (0 until 15).map { k =>
      val i = 7 - k // bucket index
      s"count(*) FILTER (WHERE -(value-35.0) > ${p(i)} AND -(value-35.0) <= ${p(i + 1)}) AS c$k"
    }
    val zeroDef = Seq("count(*) FILTER (WHERE value-35.0 = 0.0) AS c15")
    val posDefs = (0 until 15).map { k =>
      val i = k - 7
      s"count(*) FILTER (WHERE (value-35.0) > ${p(i)} AND (value-35.0) <= ${p(i + 1)}) AS c${16 + k}"
    }
    val sums = (0 to 30).map(k =>
      s"CAST(${(0 to k).map(j => s"c$j").mkString("+")} AS DOUBLE) AS s$k")
    val cases = (0 to 30).map { k =>
      val prev = if (k == 0) "0" else s"s${k - 1}"
      val expr =
        if (k < 15) { val i = 7 - k; s"-pow(2, ${i + 1} - (0.5*s30 - $prev)/c$k)" }
        else if (k == 15) "0"
        else { val i = k - 16 - 7; s"pow(2, $i + (0.5*s30 - $prev)/c$k)" }
      s"WHEN c$k > 0 AND s$k >= 0.5*s30 THEN $expr"
    }
    s"""WITH h AS (
       |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
       |    ${(negDefs ++ zeroDef ++ posDefs).mkString(",\n    ")}
       |  FROM events GROUP BY bucket),
       |p AS (
       |  SELECT bucket, ${(0 to 30).map(k => s"c$k").mkString(", ")},
       |    ${sums.mkString(",\n    ")}
       |  FROM h)
       |SELECT bucket, round(CASE
       |    ${cases.mkString("\n    ")}
       |    END, 6) AS value
       |FROM p WHERE s30 > 0 ORDER BY bucket""".stripMargin
  }

  /** The per-(event_type, user) cumulative counter frame shared by
    * q40/q50: per-second value sums (one sample per series-second, so the
    * sliding first/last picks are deterministic on both engines), then a
    * running cumulative per series — a clean monotone OTel sum metric. */
  private def userCounter(spark: SparkSession, dir: String): DataFrame = {
    val perSec = events(spark, dir)
      .groupBy(col("event_type"), col("user_id"),
        unix_timestamp(col("ts")).as("u"))
      .agg(sum(col("value")).as("c"))
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("u"))
    perSec.withColumn("v", sum(col("c")).over(w))
      .select(
        lit("requests_total").as("MetricName"),
        col("event_type").as("ServiceName"),
        timestamp_seconds(col("u")).as("TimeUnix"),
        col("v").as("Value"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"),
        lit(2).as("AggregationTemporality"),
        lit(true).as("IsMonotonic"))
  }

  /** The shared oracle CTE chain for q40/q50: Prometheus extrapolatedRate
    * per (event_type, user) series over (t − 1d, t] windows at 1d steps
    * (range = step ⇒ each sample feeds exactly one eval time), increase
    * summed across user series per type, window-start labels. */
  private val userCounterIncreaseSql: String =
    """WITH sec AS (
      |  SELECT event_type, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         sum(value) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |cumt AS (
      |  SELECT event_type, user_id, u,
      |    sum(c) OVER (PARTITION BY event_type, user_id ORDER BY u) AS v
      |  FROM sec),
      |ex AS (
      |  SELECT event_type, user_id, u, v,
      |    ((u + 86399) // 86400) * 86400 AS t
      |  FROM cumt),
      |g AS (
      |  SELECT t, event_type, user_id, count(*) AS n,
      |    min(u) AS tf, max(u) AS tl,
      |    arg_min(v, u) AS af, arg_max(v, u) AS al
      |  FROM ex GROUP BY 1, 2, 3
      |  HAVING count(*) >= 2 AND max(u) > min(u)),
      |calc AS (
      |  SELECT t, event_type, user_id,
      |    CAST(tl - tf AS DOUBLE) AS sampled,
      |    CAST(tl - tf AS DOUBLE) / (n - 1) AS avgiv,
      |    al - af AS delta,
      |    CAST(tf - (t - 86400) AS DOUBLE) AS sgap,
      |    CAST(t - tl AS DOUBLE) AS egap,
      |    af AS vf
      |  FROM g),
      |capped AS (
      |  -- zero-crossing cap BEFORE the extrapolation threshold, like
      |  -- promql extrapolatedRate
      |  SELECT t, event_type, user_id, delta, sampled, avgiv, egap,
      |    CASE WHEN delta > 0 AND vf >= 0
      |              AND sampled * (vf / delta) < sgap
      |         THEN sampled * (vf / delta) ELSE sgap END AS sgap2
      |  FROM calc),
      |fin AS (
      |  SELECT t, event_type,
      |    delta * (sampled +
      |      CASE WHEN sgap2 >= avgiv * 1.1 THEN avgiv / 2 ELSE sgap2 END +
      |      CASE WHEN egap >= avgiv * 1.1 THEN avgiv / 2 ELSE egap END)
      |      / sampled AS inc
      |  FROM capped),
      |-- eval time minus one step: window-start labels
      |s AS (
      |  SELECT t - 86400 AS bucket, event_type, sum(inc) AS sv
      |  FROM fin GROUP BY 1, 2)
      |""".stripMargin

  /** PromQL at the driver gate: `sum by (ServiceName)
    * (increase(requests_total[1d]))` through the parser + compiler over
    * per-(event_type, user) cumulative counters, under the DEFAULT
    * Prometheus-exact sliding extrapolatedRate semantics — the oracle
    * replicates the gap/threshold/zero-cap math per series before the
    * cross-series sum (reference proxies PromQL,
    * api/src/routers/api/prometheus.ts:413,534). */
  def q40_promql_increase(spark: SparkSession, dir: String): DataFrame = {
    epochBucket(graft.metrics.PromQl.eval(userCounter(spark, dir),
      "sum by (ServiceName) (increase(requests_total[1d]))", 86400))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q40_sql: String =
    userCounterIncreaseSql +
      """SELECT bucket, event_type, round(sv, 2) AS value
        |FROM s ORDER BY bucket, event_type""".stripMargin

  /** PromQL topk over the aggregated sliding increase vector: the 3
    * highest event_types per day bucket (rank on unrounded values, label
    * tie-break — mirrored by the oracle's window rank). */
  def q50_promql_topk(spark: SparkSession, dir: String): DataFrame = {
    epochBucket(graft.metrics.PromQl.eval(userCounter(spark, dir),
      "topk(3, sum by (ServiceName) (increase(requests_total[1d])))",
      86400))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q50_sql: String =
    userCounterIncreaseSql +
      """, k AS (
        |  SELECT bucket, event_type, sv, row_number() OVER
        |    (PARTITION BY bucket ORDER BY sv DESC, event_type) AS rk
        |  FROM s)
        |SELECT bucket, event_type, round(sv, 2) AS value
        |FROM k WHERE rk <= 3
        |ORDER BY bucket, event_type""".stripMargin

  /** Scale-0 delta exp-histogram synthesized from events: per (day,
    * user) series, positive buckets (2^i, 2^(i+1)] for i = 0..7 over
    * `value` (values ≤ 1 or > 256 fall outside and are not recorded). */
  private def eventsExpHist(spark: SparkSession, dir: String): DataFrame = {
    val day = timeBucket(col("ts"), 86400)
    val counts = array((0 to 7).map(i =>
      count_if(col("value") > (1 << i).toDouble &&
        col("value") <= (1 << (i + 1)).toDouble).cast("long")): _*)
    events(spark, dir)
      .filter(col("value") > 1)
      .groupBy(day.as("TimeUnix"), col("user_id"))
      .agg(counts.as("PositiveBucketCounts"),
        // observation sum over the SAME population the buckets cover
        // (values beyond the last bucket are outside the histogram)
        sum(when(col("value") <= 256.0, col("value"))).as("__obs_sum"))
      .select(
        lit("latency").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("TimeUnix").as("StartTimeUnix"),
        lit(1).as("AggregationTemporality"),
        lit(0).as("Scale"),
        aggregate(col("PositiveBucketCounts"), lit(0L), _ + _).as("Count"),
        coalesce(col("__obs_sum"), lit(0.0)).as("Sum"),
        lit(0L).as("ZeroCount"),
        lit(0).as("PositiveOffset"),
        col("PositiveBucketCounts"),
        lit(0).as("NegativeOffset"),
        array().cast("array<long>").as("NegativeBucketCounts"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
  }

  /** PromQL histogram_quantile routed through the engine's exp-histogram
    * quantile pipeline — the same derived frame and semantics as
    * q17_exp_quantile, driven by PromQL text; the q17 oracle applies. */
  def q51_promql_histq(spark: SparkSession, dir: String): DataFrame = {
    epochBucket(graft.metrics.PromQl.eval(eventsExpHist(spark, dir),
      "histogram_quantile(0.5, latency)", 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  /** PromQL histogram_fraction over the same synthesized exp-histogram.
    * The bounds 2 and 16 land exactly on scale-0 bucket boundaries, so
    * the log-linear CDF is exact there and the DuckDB oracle can count
    * raw observations directly — a genuinely independent check (no
    * re-derived interpolation on the oracle side). */
  def q81_promql_histfrac(spark: SparkSession, dir: String): DataFrame = {
    epochBucket(graft.metrics.PromQl.eval(eventsExpHist(spark, dir),
      "histogram_fraction(2, 16, latency)", 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  val q81_sql: String =
    """SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |  round(CAST(count(*) FILTER (value > 2 AND value <= 16) AS DOUBLE)
      |    / count(*), 6) AS value
      |FROM events WHERE value > 1 AND value <= 256
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** PromQL histogram_stddev over the derived exp-histogram frame:
    * per-day spread of the bucketed observations — each merged bucket
    * contributes its count at the geometric midpoint 2^(i+0.5), against
    * the true Sum/Count mean (promql functions.go funcHistogramStdDev
    * math; midpoints, not raw values, so the oracle unrolls the same
    * eight-bucket sum). */
  def q85_promql_histstddev(spark: SparkSession, dir: String): DataFrame =
    epochBucket(graft.metrics.PromQl.eval(eventsExpHist(spark, dir),
      "histogram_stddev(latency)", 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")

  val q85_sql: String = {
    val cs = (0 to 7).map(i =>
      s"count(*) FILTER (WHERE value > ${1 << i}.0 AND value <= ${1 << (i + 1)}.0) AS c$i")
      .mkString(",\n    ")
    val terms = (0 to 7)
      .map(i => s"c$i*pow(pow(2, $i + 0.5) - s/n, 2)")
      .mkString(" +\n      ")
    s"""WITH h AS (
       |  SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
       |    $cs,
       |    sum(value) AS s, count(*) AS n
       |  FROM events WHERE value > 1 AND value <= 256 GROUP BY bucket)
       |SELECT bucket, round(sqrt((
       |      $terms
       |    )/n), 6) AS value
       |FROM h ORDER BY bucket""".stripMargin
  }

  /** PromQL offset + range aggregation: per-series hourly max shifted one
    * hour forward (`offset 1h` evaluates the series an hour in the past),
    * summed across series. max is float-exact per series, so the oracle
    * reproduces values bit-for-bit before the final rounded sum. */
  def q52_promql_offset(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "sum by (ServiceName) (max_over_time(mem[1h] offset 1h))", 3600))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q52_sql: String =
    """WITH pts AS (
      |  -- eval time minus one step: sliding values emit at window-start
      |  -- labels (PromQl bucket convention)
      |  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) + 7199) // 3600) * 3600
      |           - 3600 AS bucket,
      |         event_type, user_id, value
      |  FROM events),
      |a AS (
      |  SELECT bucket, event_type, user_id, max(value) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket, event_type, round(sum(v), 2) AS value
      |FROM a GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** PromQL gauge with an anchored-regex label matcher resolved from the
    * Attributes map: `max by (ServiceName) (mem{user=~"[0-9]*[02468]"})` —
    * per-series last value per hour, max across even-user series. */
  def q41_promql_gauge(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      """max by (ServiceName) (mem{user=~"[0-9]*[02468]"})""", 3600))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q41_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events WHERE user_id % 2 = 0),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket, event_type, max(v) AS value
      |FROM last GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Sliding `*_over_time` with range ≠ step (Prometheus lookback
    * semantics): per-series max over the (t − 2h, t] window evaluated every
    * hour — each sample feeds ⌈range/step⌉ = 2 evaluation buckets — then
    * sum across series per event_type
    * (reference proxies true PromQL, api/src/routers/api/prometheus.ts:413).
    */
  def q56_promql_slide(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "sum by (ServiceName) (max_over_time(mem[2h]))", 3600))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q56_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         event_type, user_id, value
      |  FROM events),
      |ex AS (
      |  SELECT unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                                ((u + 7199) // 3600) * 3600,
      |                                3600)) AS bucket,
      |         event_type, user_id, value
      |  FROM pts),
      |a AS (
      |  SELECT bucket, event_type, user_id, max(value) AS v
      |  FROM ex GROUP BY bucket, event_type, user_id)
      |-- eval time minus one step: window-start labels
      |SELECT bucket - 3600 AS bucket, event_type,
      |  round(sum(v), 2) AS value
      |FROM a GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** quantile_over_time over the sliding window: per-series median of the
    * samples in (t − 2h, t] per hour step, max across series per
    * event_type — exact interpolated percentile on both engines, and the
    * max of exact doubles avoids cross-series float-sum accumulation-order
    * rounding flips. */
  def q57_promql_qot(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "max by (ServiceName) (quantile_over_time(0.5, mem[2h]))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q57_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         event_type, user_id, value
      |  FROM events),
      |ex AS (
      |  SELECT unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                                ((u + 7199) // 3600) * 3600,
      |                                3600)) AS bucket,
      |         event_type, user_id, value
      |  FROM pts),
      |a AS (
      |  SELECT bucket, event_type, user_id,
      |         list_sort(list(value)) AS l, count(*) AS n
      |  FROM ex GROUP BY bucket, event_type, user_id),
      |m AS (
      |  -- Spark percentile interpolation: lower + (higher-lower)*frac
      |  -- (quantile_cont's a*(1-f)+b*f shape can differ in the last ulp)
      |  SELECT bucket, event_type,
      |    CASE WHEN n % 2 = 1 THEN l[(n+1)//2]
      |         ELSE l[n//2] + (l[n//2+1] - l[n//2]) * 0.5 END AS v
      |  FROM a)
      |-- eval time minus one step: window-start labels
      |SELECT bucket - 3600 AS bucket, event_type,
      |  round(max(v), 6) AS value
      |FROM m GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** `sum without (label)`: drop the per-user label and group by every
    * surviving label (ServiceName), serialized as the canonical sorted
    * `labels` JSON column — per-series last value per hour, summed across
    * the collapsed user series. */
  def q58_promql_without(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "sum without (user) (mem)", 3600))
      .withColumn("value", round(col("value"), 2))
      .select("bucket", "labels", "value")
      .orderBy("bucket", "labels")
  }

  val q58_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket,
      |  '[{"key":"ServiceName","value":"' || event_type || '"}]' AS labels,
      |  round(sum(v), 2) AS value
      |FROM last GROUP BY bucket, event_type
      |ORDER BY bucket, labels""".stripMargin

  /** PromQL binary operator at the driver gate: per-day error ratio as
    * `sum(rate(err_total[1d])) / sum(rate(ev_total[1d]))` over two
    * delta-temporality counters (per-second event counts) under the
    * DEFAULT sliding extrapolatedRate — the engine synthesizes the
    * cumulative series via a running sum, the oracle mirrors it; the
    * vector/vector join matches per window-start bucket (days whose
    * error series has < 2 samples emit no point and drop out of the
    * inner join). */
  def q44_promql_ratio(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    def shaped(metric: String, cond: Column): DataFrame =
      e.filter(cond)
        .groupBy(unix_timestamp(col("ts")).as("u"))
        .agg(count(lit(1)).cast("double").as("c"))
        .select(
          lit(metric).as("MetricName"),
          lit("svc").as("ServiceName"),
          timestamp_seconds(col("u")).as("TimeUnix"),
          col("c").as("Value"),
          map().cast("map<string,string>").as("Attributes"),
          lit(1).as("AggregationTemporality"),
          lit(true).as("IsMonotonic"))
    val frame = shaped("ev_total", lit(true))
      .unionByName(shaped("err_total", col("event_type") === "error"))
    epochBucket(graft.metrics.PromQl.eval(frame,
      "sum(rate(err_total[1d])) / sum(rate(ev_total[1d]))", 86400))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  /** extrapolatedRate over one single-series delta counter: per-second
    * counts (optionally filtered), running-sum cumulative, one eval time
    * per sample (range = step = 1d), the same gap/threshold/zero-cap math
    * as the engine — vf is the RAW first in-window sample (the per-second
    * count), matching slidingRate's delta-temporality path. */
  private def deltaRateSql(where: String): String =
    s"""  SELECT t, delta * (sampled +
       |      CASE WHEN sgap2 >= avgiv * 1.1 THEN avgiv / 2 ELSE sgap2 END +
       |      CASE WHEN egap >= avgiv * 1.1 THEN avgiv / 2 ELSE egap END)
       |      / sampled / 86400.0 AS rate
       |  FROM (
       |    SELECT t, delta, sampled, avgiv, egap,
       |      CASE WHEN delta > 0 AND vf >= 0
       |                AND sampled * (vf / delta) < sgap
       |           THEN sampled * (vf / delta) ELSE sgap END AS sgap2
       |    FROM (
       |      SELECT t,
       |        CAST(tl - tf AS DOUBLE) AS sampled,
       |        CAST(tl - tf AS DOUBLE) / (n - 1) AS avgiv,
       |        al - af AS delta,
       |        CAST(tf - (t - 86400) AS DOUBLE) AS sgap,
       |        CAST(t - tl AS DOUBLE) AS egap, vf
       |      FROM (
       |        SELECT t, count(*) AS n, min(u) AS tf, max(u) AS tl,
       |          arg_min(v, u) AS af, arg_max(v, u) AS al,
       |          arg_min(c, u) AS vf
       |        FROM (
       |          SELECT u, c,
       |            sum(c) OVER (ORDER BY u) AS v,
       |            ((u + 86399) // 86400) * 86400 AS t
       |          FROM (
       |            SELECT CAST(floor(epoch(ts)) AS BIGINT) AS u,
       |              CAST(count(*) AS DOUBLE) AS c
       |            FROM events $where GROUP BY 1))
       |        GROUP BY t HAVING count(*) >= 2 AND max(u) > min(u))))
       |""".stripMargin

  val q44_sql: String =
    s"""WITH ev AS (
       |${deltaRateSql("")}),
       |err AS (
       |${deltaRateSql("WHERE event_type = 'error'")})
       |-- eval time minus one step: window-start labels
       |SELECT ev.t - 86400 AS bucket,
       |  round(err.rate / ev.rate, 6) AS value
       |FROM ev JOIN err ON ev.t = err.t
       |ORDER BY bucket""".stripMargin

  /** PromQL subquery at the driver gate: the inner expression
    * `sum by (ServiceName) (mem)` evaluates as its own range query at 1h
    * resolution, then `max_over_time(…[4h:1h])` slides a 4-hour lookback
    * over those inner evaluations at each outer step — each inner point
    * feeds exactly 4 eval buckets
    * (reference proxies full PromQL, api/src/routers/api/prometheus.ts:413). */
  def q59_promql_subquery(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "max_over_time(sum by (ServiceName) (mem)[4h:1h])", 3600))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q59_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS u,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT u, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY u, event_type, user_id),
      |inner_s AS (
      |  SELECT u, event_type, sum(v) AS sv FROM last GROUP BY u, event_type),
      |ex AS (
      |  -- the inner evaluation labeled u happened at instant u+3600; it
      |  -- feeds the 4 outer windows ending at u+3600 .. u+4*3600, whose
      |  -- window-start labels are u .. u+3*3600
      |  SELECT unnest(generate_series(u, u + 3*3600, 3600)) AS bucket,
      |         event_type, sv
      |  FROM inner_s)
      |SELECT bucket, event_type,
      |  round(max(sv), 2) AS value
      |FROM ex GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** label_join + clamp_max at the driver gate: re-key series by the
    * joined (ServiceName, user) label, sum per joined key, cap the vector
    * — label machinery (join/replace) composing with the clamp family. */
  def q60_promql_labeljoin(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir)
      .filter(col("user_id") % 100 === 0)
      .select(
        lit("mem").as("MetricName"),
        col("event_type").as("ServiceName"),
        col("ts").as("TimeUnix"),
        col("value").as("Value"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      """clamp_max(sum by (k) (label_join(mem, "k", "-", "ServiceName", "user")), 120)""",
      3600))
      .withColumn("value", round(col("value"), 2))
      .select("bucket", "k", "value")
      .orderBy("bucket", "k")
  }

  val q60_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events WHERE user_id % 100 = 0),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |s AS (
      |  SELECT bucket,
      |         event_type || '-' || CAST(user_id AS VARCHAR) AS k,
      |         sum(v) AS sv
      |  FROM last GROUP BY 1, 2)
      |SELECT bucket, k, round(least(sv, 120), 2) AS value
      |FROM s ORDER BY bucket, k""".stripMargin

  /** Comparison + bool modifier + math function at the driver gate:
    * threshold the per-type gauge sum like an alert expression would
    * (sqrt, then `> bool`, 1/0 output per bucket/type). */
  def q61_promql_threshold(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "sqrt(sum by (ServiceName) (mem)) > bool 40", 3600))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  /** Anomaly-band gate: flag buckets where the per-type gauge sum
    * deviates from its trailing-6h mean by more than 2 trailing
    * stddevs — the rolling-baseline anomaly detection dashboards build
    * from sliding stats, composed ENTIRELY in PromQL (instant sum,
    * avg/stddev_over_time subqueries, arithmetic, bool comparison —
    * exercising the unified bucket alignment across all three
    * families). Oracle: DuckDB RANGE-frame avg/stddev_pop over the
    * same per-type hourly sums — an independent sliding-window
    * formulation. */
  def q107_promql_anomaly(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "abs(sum by (ServiceName) (mem) - " +
        "avg_over_time(sum by (ServiceName) (mem)[6h:1h])) > bool " +
        "(2 * stddev_over_time(sum by (ServiceName) (mem)[6h:1h]))",
      3600))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q107_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |s AS (
      |  SELECT bucket, event_type, sum(v) AS sv
      |  FROM last GROUP BY bucket, event_type),
      |w AS (
      |  SELECT bucket, event_type, sv,
      |    avg(sv) OVER win AS m,
      |    stddev_pop(sv) OVER win AS sd
      |  FROM s
      |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
      |    RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW))
      |SELECT bucket, event_type,
      |  CASE WHEN abs(sv - m) > 2 * sd THEN 1.0 ELSE 0.0 END AS value
      |FROM w ORDER BY bucket, event_type""".stripMargin

  val q61_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id)
      |SELECT bucket, event_type,
      |  CASE WHEN sqrt(sum(v)) > 40 THEN 1.0 ELSE 0.0 END AS value
      |FROM last GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Set-op `unless` at the driver gate: per-type gauge series minus the
    * (bucket, type) pairs that saw a value-spike sample — the
    * "alert unless maintenance-window" PromQL idiom. */
  def q62_promql_unless(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    def shaped(metric: String, src: DataFrame): DataFrame = src.select(
      lit(metric).as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    val frame = shaped("mem", e)
      .unionByName(shaped("spike", e.filter(col("value") > 195)))
    epochBucket(graft.metrics.PromQl.eval(frame,
      "sum by (ServiceName) (mem) unless sum by (ServiceName) (spike)",
      3600))
      .withColumn("value", round(col("value"), 2))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q62_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |base AS (
      |  SELECT bucket, event_type, round(sum(v), 2) AS value
      |  FROM last GROUP BY bucket, event_type)
      |SELECT b.bucket, b.event_type, b.value
      |FROM base b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts p
      |  WHERE p.value > 195 AND p.bucket = b.bucket
      |    AND p.event_type = b.event_type)
      |ORDER BY b.bucket, b.event_type""".stripMargin

  /** Prometheus-exact sliding rate at the driver gate: a clean cumulative
    * counter per type (running count of events), increase() over a 4h
    * lookback at 1h steps with boundary extrapolation — the oracle
    * replicates extrapolatedRate's gap/threshold/zero-cap math
    * term-for-term. */
  def q64_promql_rate_sliding(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir)
    val perSec = e
      .groupBy(col("event_type"), unix_timestamp(col("ts")).as("u"))
      .agg(count(lit(1)).as("c"))
    val cum = perSec.withColumn("v",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("u"))).cast("double"))
    val shaped = cum.select(
      lit("ctr").as("MetricName"),
      col("event_type").as("ServiceName"),
      timestamp_seconds(col("u")).as("TimeUnix"),
      col("v").as("Value"),
      map().cast("map<string,string>").as("Attributes"),
      lit(2).as("AggregationTemporality"),
      lit(true).as("IsMonotonic"))
    epochBucket(graft.metrics.PromQl.eval(shaped,
      "sum by (ServiceName) (increase(ctr[4h]))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q64_sql: String =
    """WITH sec AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cumt AS (
      |  SELECT event_type, u,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY u) AS DOUBLE)
      |      AS v
      |  FROM sec),
      |ex AS (
      |  SELECT event_type, u, v,
      |    unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                           ((u + 14399) // 3600) * 3600, 3600)) AS t
      |  FROM cumt),
      |g AS (
      |  SELECT t AS bucket, event_type, count(*) AS n,
      |    min(u) AS tf, max(u) AS tl,
      |    arg_min(v, u) AS af, arg_max(v, u) AS al
      |  FROM ex GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND max(u) > min(u)),
      |calc AS (
      |  SELECT bucket, event_type,
      |    CAST(tl - tf AS DOUBLE) AS sampled,
      |    CAST(tl - tf AS DOUBLE) / (n - 1) AS avgiv,
      |    al - af AS delta,
      |    CAST(tf - (bucket - 14400) AS DOUBLE) AS sgap,
      |    CAST(bucket - tl AS DOUBLE) AS egap,
      |    af AS vf
      |  FROM g),
      |capped AS (
      |  -- zero-crossing cap BEFORE the extrapolation threshold, like
      |  -- promql extrapolatedRate
      |  SELECT bucket, event_type, delta, sampled, avgiv, egap,
      |    CASE WHEN delta > 0 AND vf >= 0
      |              AND sampled * (vf / delta) < sgap
      |         THEN sampled * (vf / delta) ELSE sgap END AS sgap2
      |  FROM calc),
      |fin AS (
      |  SELECT bucket, event_type, delta, sampled,
      |    CASE WHEN sgap2 >= avgiv * 1.1 THEN avgiv / 2 ELSE sgap2 END
      |      AS sdur,
      |    CASE WHEN egap >= avgiv * 1.1 THEN avgiv / 2 ELSE egap END
      |      AS edur
      |  FROM capped)
      |-- eval time minus one step: window-start labels
      |SELECT bucket - 3600 AS bucket, event_type,
      |  round(delta * (sampled + sdur + edur) / sampled, 6) AS value
      |FROM fin ORDER BY bucket, event_type""".stripMargin

  /** Classic le-label histogram_quantile at the driver gate: events
    * explode into cumulative `_bucket` samples (le ∈ {50,100,150,+Inf}),
    * count_over_time counts per (type, le) per sliding hour, and the
    * quantile interpolates within the rank bucket — promql
    * bucketQuantile replicated arm-for-arm in the oracle. */
  def q65_promql_classic_hist(spark: SparkSession, dir: String)
      : DataFrame = {
    val e = events(spark, dir)
    val les = Seq("50", "100", "150", "+Inf")
    val exploded = e
      .select(col("event_type"), col("ts"), col("value"),
        explode(array(les.map(lit): _*)).as("le"))
      .filter(col("le") === "+Inf" ||
        col("value") <= col("le").cast("double"))
    val shaped = exploded.select(
      lit("bkt").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      lit(1.0).as("Value"),
      map(lit("le"), col("le")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(shaped,
      "histogram_quantile(0.9, sum by (ServiceName, le) " +
        "(count_over_time(bkt[1h])))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q65_sql: String =
    """WITH pts AS (
      |  -- eval time minus one step: sliding count_over_time emits at
      |  -- window-start labels
      |  SELECT event_type, value,
      |    ((CAST(floor(epoch(ts)) AS BIGINT) + 3599) // 3600) * 3600
      |      - 3600 AS bucket
      |  FROM events),
      |g AS (
      |  SELECT bucket, event_type,
      |    CAST(count(*) FILTER (WHERE value <= 50) AS DOUBLE) AS n50,
      |    CAST(count(*) FILTER (WHERE value <= 100) AS DOUBLE) AS n100,
      |    CAST(count(*) FILTER (WHERE value <= 150) AS DOUBLE) AS n150,
      |    CAST(count(*) AS DOUBLE) AS ninf
      |  FROM pts GROUP BY bucket, event_type),
      |q AS (
      |  SELECT bucket, event_type, 0.9 * ninf AS rank,
      |    n50, n100, n150, ninf
      |  FROM g)
      |-- a zero cumulative count means NO sample for that le anywhere in
      |-- the window, so the series is ABSENT (count_over_time emits no
      |-- point) and interpolation starts from the previous PRESENT bucket
      |SELECT bucket, event_type,
      |  round(CASE
      |    WHEN n50 >= rank THEN 0.0 + (50.0 - 0.0) * (rank - 0.0)
      |                          / (n50 - 0.0)
      |    WHEN n100 >= rank THEN
      |      (CASE WHEN n50 > 0 THEN 50.0 ELSE 0.0 END)
      |      + (100.0 - CASE WHEN n50 > 0 THEN 50.0 ELSE 0.0 END)
      |        * (rank - n50) / (n100 - n50)
      |    WHEN n150 >= rank THEN
      |      (CASE WHEN n100 > 0 THEN 100.0 ELSE 0.0 END)
      |      + (150.0 - CASE WHEN n100 > 0 THEN 100.0 ELSE 0.0 END)
      |        * (rank - n100) / (n150 - n100)
      |    ELSE CASE WHEN n150 > 0 THEN 150.0
      |              WHEN n100 > 0 THEN 100.0
      |              WHEN n50 > 0 THEN 50.0
      |              ELSE NULL END
      |  END, 6) AS value
      |FROM q ORDER BY bucket, event_type""".stripMargin

  /** Sliding rate and an instant vector mixed in ONE binary op — the
    * alignment gate for the unified bucket convention: both families emit
    * window-start labels, so the join compares the same evaluation
    * instant like Prometheus — increase over (L + 1h − 4h, L + 1h]
    * divided by the last cumulative value in [L, L + 1h), per type. */
  def q68_promql_mixed_align(spark: SparkSession, dir: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSec = events(spark, dir)
      .groupBy(col("event_type"), unix_timestamp(col("ts")).as("u"))
      .agg(count(lit(1)).as("c"))
    val cum = perSec.withColumn("v",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("u"))).cast("double"))
    val shaped = cum.select(
      lit("ctr").as("MetricName"),
      col("event_type").as("ServiceName"),
      timestamp_seconds(col("u")).as("TimeUnix"),
      col("v").as("Value"),
      map().cast("map<string,string>").as("Attributes"),
      lit(2).as("AggregationTemporality"),
      lit(true).as("IsMonotonic"))
    epochBucket(graft.metrics.PromQl.eval(shaped,
      "sum by (ServiceName) (increase(ctr[4h])) " +
        "/ sum by (ServiceName) (ctr)", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q68_sql: String =
    """WITH sec AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cumt AS (
      |  SELECT event_type, u,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY u) AS DOUBLE)
      |      AS v
      |  FROM sec),
      |ex AS (
      |  SELECT event_type, u, v,
      |    unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                           ((u + 14399) // 3600) * 3600, 3600)) AS t
      |  FROM cumt),
      |g AS (
      |  SELECT t, event_type, count(*) AS n,
      |    min(u) AS tf, max(u) AS tl,
      |    arg_min(v, u) AS af, arg_max(v, u) AS al
      |  FROM ex GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND max(u) > min(u)),
      |calc AS (
      |  SELECT t, event_type,
      |    CAST(tl - tf AS DOUBLE) AS sampled,
      |    CAST(tl - tf AS DOUBLE) / (n - 1) AS avgiv,
      |    al - af AS delta,
      |    CAST(tf - (t - 14400) AS DOUBLE) AS sgap,
      |    CAST(t - tl AS DOUBLE) AS egap,
      |    af AS vf
      |  FROM g),
      |capped AS (
      |  SELECT t, event_type, delta, sampled, avgiv, egap,
      |    CASE WHEN delta > 0 AND vf >= 0
      |              AND sampled * (vf / delta) < sgap
      |         THEN sampled * (vf / delta) ELSE sgap END AS sgap2
      |  FROM calc),
      |-- eval time minus one step: the sliding increase emits at the
      |-- window-start label, landing on the SAME bucket as the instant
      |-- vector's [L, L+1h) last-value — one evaluation instant
      |inc AS (
      |  SELECT t - 3600 AS bucket, event_type,
      |    delta * (sampled +
      |      CASE WHEN sgap2 >= avgiv * 1.1 THEN avgiv / 2 ELSE sgap2 END +
      |      CASE WHEN egap >= avgiv * 1.1 THEN avgiv / 2 ELSE egap END)
      |      / sampled AS v
      |  FROM capped),
      |inst AS (
      |  SELECT (u // 3600) * 3600 AS bucket, event_type,
      |    arg_max(v, u) AS v
      |  FROM cumt GROUP BY 1, 2)
      |SELECT i.bucket, i.event_type, round(i.v / s.v, 6) AS value
      |FROM inc i JOIN inst s
      |  ON i.bucket = s.bucket AND i.event_type = s.event_type
      |ORDER BY i.bucket, i.event_type""".stripMargin

  /** PromQL IEEE division at the driver gate: per-(type, hour) sum of
    * values divided by the count of value-spike events — hours with no
    * spike give x/0 = +Inf like Prometheus (the oracle's CASE arm), the
    * rest a finite rounded ratio. The denominator is a gauge whose value
    * is often exactly 0, so the division edge is exercised on real
    * buckets, not synthetic rows. */
  def q69_promql_divzero(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir)
      .groupBy(col("event_type"), timeBucket(col("ts"), 3600).as("hb"))
      .agg(sum(col("value")).as("n"),
        count_if(col("value") > 195).cast("double").as("d"))
    def shaped(metric: String, v: Column): DataFrame = g.select(
      lit(metric).as("MetricName"),
      col("event_type").as("ServiceName"),
      col("hb").as("TimeUnix"),
      v.as("Value"),
      map().cast("map<string,string>").as("Attributes"))
    val frame = shaped("valsum", col("n"))
      .unionByName(shaped("spikes", col("d")))
    epochBucket(graft.metrics.PromQl.eval(frame,
      "sum by (ServiceName) (valsum) / sum by (ServiceName) (spikes)",
      3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q69_sql: String =
    """WITH g AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |    event_type, sum(value) AS n,
      |    CAST(count(*) FILTER (WHERE value > 195) AS DOUBLE) AS d
      |  FROM events GROUP BY 1, 2)
      |SELECT bucket, event_type,
      |  CASE WHEN d <> 0 THEN round(n / d, 6)
      |       WHEN n > 0 THEN CAST('infinity' AS DOUBLE)
      |       WHEN n < 0 THEN CAST('-infinity' AS DOUBLE)
      |       ELSE CAST('nan' AS DOUBLE) END AS value
      |FROM g ORDER BY bucket, event_type""".stripMargin

  /** PromQL deriv at the driver gate: per-type least-squares slope of the
    * cumulative event counter over sliding 4h windows at 1h steps —
    * covar_pop/var_pop on both engines, window-start labels. */
  def q70_promql_deriv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSec = events(spark, dir)
      .groupBy(col("event_type"), unix_timestamp(col("ts")).as("u"))
      .agg(count(lit(1)).as("c"))
    val cum = perSec.withColumn("v",
      sum(col("c")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("u"))).cast("double"))
    val shaped = cum.select(
      lit("ctr").as("MetricName"),
      col("event_type").as("ServiceName"),
      timestamp_seconds(col("u")).as("TimeUnix"),
      col("v").as("Value"),
      map().cast("map<string,string>").as("Attributes"),
      lit(2).as("AggregationTemporality"),
      lit(true).as("IsMonotonic"))
    epochBucket(graft.metrics.PromQl.eval(shaped,
      "sum by (ServiceName) (deriv(ctr[4h]))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q70_sql: String =
    """WITH sec AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cumt AS (
      |  SELECT event_type, u,
      |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY u) AS DOUBLE)
      |      AS v
      |  FROM sec),
      |ex AS (
      |  SELECT event_type, u, v,
      |    unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                           ((u + 14399) // 3600) * 3600, 3600)) AS t
      |  FROM cumt),
      |g AS (
      |  SELECT t, event_type,
      |    covar_pop(CAST(u AS DOUBLE), v) AS cov,
      |    var_pop(CAST(u AS DOUBLE)) AS vr
      |  FROM ex GROUP BY 1, 2
      |  HAVING count(*) >= 2 AND var_pop(CAST(u AS DOUBLE)) > 0)
      |-- eval time minus one step: window-start labels
      |SELECT t - 3600 AS bucket, event_type,
      |  round(cov / vr, 6) AS value
      |FROM g ORDER BY bucket, event_type""".stripMargin

  /** PromQL scalar() at the driver gate: per-type share of the per-bucket
    * total via `sum by (ServiceName) (mem) / scalar(sum(mem))` — the
    * label-less scalar frame joins on the bucket alone, broadcasting the
    * denominator to every type series. */
  def q71_promql_scalar(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "sum by (ServiceName) (mem) / scalar(sum(mem))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q71_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket,
      |         event_type, user_id, value, ts
      |  FROM events),
      |last AS (
      |  SELECT bucket, event_type, user_id, arg_max(value, ts) AS v
      |  FROM pts GROUP BY bucket, event_type, user_id),
      |s AS (
      |  SELECT bucket, event_type, sum(v) AS sv
      |  FROM last GROUP BY bucket, event_type),
      |tot AS (
      |  SELECT bucket, sum(sv) AS tv FROM s GROUP BY bucket)
      |SELECT s.bucket, s.event_type, round(s.sv / t.tv, 6) AS value
      |FROM s JOIN tot t ON s.bucket = t.bucket
      |ORDER BY s.bucket, s.event_type""".stripMargin

  /** mad_over_time: the sliding median-absolute-deviation per series —
    * both medians interpolate exactly like Spark `percentile` / promql
    * quantile (lower + (higher − lower)·frac), so the oracle mirrors the
    * float shape term for term. */
  def q78_promql_mad(spark: SparkSession, dir: String): DataFrame = {
    val g = events(spark, dir).select(
      lit("mem").as("MetricName"),
      col("event_type").as("ServiceName"),
      col("ts").as("TimeUnix"),
      col("value").as("Value"),
      map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(g,
      "max by (ServiceName) (mad_over_time(mem[2h]))", 3600))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q78_sql: String =
    """WITH pts AS (
      |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS u,
      |         event_type, user_id, value
      |  FROM events),
      |ex AS (
      |  SELECT unnest(generate_series(((u + 3599) // 3600) * 3600,
      |                                ((u + 7199) // 3600) * 3600,
      |                                3600)) AS bucket,
      |         event_type, user_id, value
      |  FROM pts),
      |a AS (
      |  SELECT bucket, event_type, user_id,
      |         list_sort(list(value)) AS l, count(*) AS n
      |  FROM ex GROUP BY bucket, event_type, user_id),
      |m AS (
      |  -- interpolated median, Spark-percentile float shape
      |  SELECT bucket, event_type, user_id, l, n,
      |    CASE WHEN n % 2 = 1 THEN l[(n+1)//2]
      |         ELSE l[n//2] + (l[n//2+1] - l[n//2]) * 0.5 END AS med
      |  FROM a),
      |d AS (
      |  SELECT bucket, event_type, n,
      |    list_sort(list_transform(l, x -> abs(x - med))) AS dl
      |  FROM m),
      |md AS (
      |  SELECT bucket, event_type,
      |    CASE WHEN n % 2 = 1 THEN dl[(n+1)//2]
      |         ELSE dl[n//2] + (dl[n//2+1] - dl[n//2]) * 0.5 END AS v
      |  FROM d)
      |SELECT bucket - 3600 AS bucket, event_type,
      |  round(max(v), 6) AS value
      |FROM md GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Native-histogram accessors at the driver gate: the q19 cumulative
    * synthesis grows a Sum field (running sum of `value` per era), and
    * histogram_sum/histogram_count route PromQL onto the shared
    * delta-with-reset pipeline. The gated frame divides sum by count per
    * bucket (histogram_avg's join), so all three accessors are exercised
    * in one gate. */
  def q80_promql_histsum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("era"))
      .orderBy(col("TimeUnix"))
    val hist = events(spark, dir)
      .withColumn("day", timeBucket(col("ts"), 86400))
      .withColumn("era", timeBucket(col("ts"), 10 * 86400))
      .groupBy(col("day").as("TimeUnix"), col("era"), col("user_id"))
      .agg(count(lit(1)).as("__daily"),
        sum(col("value")).as("__daily_sum"))
      .withColumn("Count", sum(col("__daily")).over(w))
      .withColumn("Sum", sum(col("__daily_sum")).over(w))
      .select(
        lit("obs").as("MetricName"),
        lit("svc").as("ServiceName"),
        col("TimeUnix"),
        col("era").as("StartTimeUnix"),
        lit(2).as("AggregationTemporality"),
        lit(0).as("Scale"),
        col("Count"), col("Sum"),
        map(lit("user"), col("user_id").cast("string")).as("Attributes"))
    epochBucket(graft.metrics.PromQl.eval(hist,
      "histogram_avg(obs)", 86400))
      // the all-first-points bucket averages 0/0 → NaN (promDiv); the
      // oracle filters the same zero-count buckets
      .filter(!isnan(col("value")))
      .withColumn("value", round(col("value"), 6))
      .select("bucket", "value")
      .orderBy("bucket")
  }

  val q80_sql: String =
    """WITH daily AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS bucket,
      |    CAST(floor(epoch(ts)/864000)*864000 AS BIGINT) AS era,
      |    count(*) AS c, sum(value) AS s
      |  FROM events GROUP BY user_id, bucket, era),
      |cum AS (
      |  SELECT user_id, bucket, era,
      |    sum(c) OVER (PARTITION BY user_id, era ORDER BY bucket) AS vc,
      |    sum(s) OVER (PARTITION BY user_id, era ORDER BY bucket) AS vs
      |  FROM daily),
      |d AS (
      |  SELECT bucket,
      |    CASE
      |      WHEN lag(vc) OVER w IS NULL OR era = bucket THEN 0
      |      WHEN era != lag(era) OVER w OR vc < lag(vc) OVER w THEN vc
      |      ELSE vc - lag(vc) OVER w END AS dc,
      |    CASE
      |      WHEN lag(vc) OVER w IS NULL OR era = bucket THEN 0.0
      |      WHEN era != lag(era) OVER w OR vc < lag(vc) OVER w THEN vs
      |      ELSE vs - lag(vs) OVER w END AS ds
      |  FROM cum
      |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
      |SELECT bucket, round(sum(ds) / sum(dc), 6) AS value FROM d
      |GROUP BY bucket HAVING sum(dc) > 0 ORDER BY bucket""".stripMargin

  /** PromQL arithmetic binop tail — `% ^ atan2` — at the driver gate
    * (reference surface via ClickHouse's PromQL, prometheus.ts:413):
    * vector-vector atan2 joined on (ServiceName) over the increase
    * vector, the right side pre-shaped by `% 777 + 1`, the whole thing
    * squared through the right-assoc `^`. The oracle replays the same
    * IEEE ops over the shared increase CTE (DuckDB fmod/atan2/pow
    * match the JVM's for these finite positive inputs). */
  def q177_promql_atan2(spark: SparkSession, dir: String): DataFrame = {
    epochBucket(graft.metrics.PromQl.eval(userCounter(spark, dir),
      "(sum by (ServiceName) (increase(requests_total[1d])) " +
        "atan2 on (ServiceName) " +
        "(sum by (ServiceName) (increase(requests_total[1d])) " +
        "% 777 + 1)) ^ 2",
      86400))
      .withColumn("value", round(col("value"), 6))
      .withColumnRenamed("ServiceName", "event_type")
      .select("bucket", "event_type", "value")
      .orderBy("bucket", "event_type")
  }

  val q177_sql: String =
    userCounterIncreaseSql +
      """SELECT bucket, event_type,
        |  round(pow(atan2(sv, fmod(sv, 777) + 1), 2), 6) AS value
        |FROM s ORDER BY bucket, event_type""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q177_promql_atan2" -> (q177_promql_atan2 _),
    "q107_promql_anomaly" -> (q107_promql_anomaly _),
    "q40_promql_increase" -> (q40_promql_increase _),
    "q68_promql_mixed_align" -> (q68_promql_mixed_align _),
    "q69_promql_divzero" -> (q69_promql_divzero _),
    "q70_promql_deriv" -> (q70_promql_deriv _),
    "q71_promql_scalar" -> (q71_promql_scalar _),
    "q78_promql_mad" -> (q78_promql_mad _),
    "q80_promql_histsum" -> (q80_promql_histsum _),
    "q81_promql_histfrac" -> (q81_promql_histfrac _),
    "q85_promql_histstddev" -> (q85_promql_histstddev _),
    "q44_promql_ratio" -> (q44_promql_ratio _),
    "q41_promql_gauge" -> (q41_promql_gauge _),
    "q38_exp_negative" -> (q38_exp_negative _),
    "q37_exp_mixed_scale" -> (q37_exp_mixed_scale _),
    "q13_gauge" -> (q13_gauge _),
    "q48_gauge_delta" -> (q48_gauge_delta _),
    "q50_promql_topk" -> (q50_promql_topk _),
    "q51_promql_histq" -> (q51_promql_histq _),
    "q52_promql_offset" -> (q52_promql_offset _),
    "q56_promql_slide" -> (q56_promql_slide _),
    "q57_promql_qot" -> (q57_promql_qot _),
    "q58_promql_without" -> (q58_promql_without _),
    "q59_promql_subquery" -> (q59_promql_subquery _),
    "q60_promql_labeljoin" -> (q60_promql_labeljoin _),
    "q61_promql_threshold" -> (q61_promql_threshold _),
    "q62_promql_unless" -> (q62_promql_unless _),
    "q64_promql_rate_sliding" -> (q64_promql_rate_sliding _),
    "q65_promql_classic_hist" -> (q65_promql_classic_hist _),
    "q14_rate" -> (q14_rate _),
    "q15_increase" -> (q15_increase _),
    "q16_hist_quantile" -> (q16_hist_quantile _),
    "q17_exp_quantile" -> (q17_exp_quantile _),
    "q18_hist_count" -> (q18_hist_count _),
    "q19_exp_count" -> (q19_exp_count _))

  val oracles: Map[String, String] = Map(
    "q177_promql_atan2" -> q177_sql,
    "q107_promql_anomaly" -> q107_sql,
    "q40_promql_increase" -> q40_sql,
    "q68_promql_mixed_align" -> q68_sql,
    "q69_promql_divzero" -> q69_sql,
    "q70_promql_deriv" -> q70_sql,
    "q71_promql_scalar" -> q71_sql,
    "q78_promql_mad" -> q78_sql,
    "q80_promql_histsum" -> q80_sql,
    "q81_promql_histfrac" -> q81_sql,
    "q85_promql_histstddev" -> q85_sql,
    "q44_promql_ratio" -> q44_sql,
    "q41_promql_gauge" -> q41_sql,
    "q13_gauge" -> q13_sql,
    "q48_gauge_delta" -> q48_sql,
    "q50_promql_topk" -> q50_sql,
    "q51_promql_histq" -> q17_sql,
    "q52_promql_offset" -> q52_sql,
    "q56_promql_slide" -> q56_sql,
    "q57_promql_qot" -> q57_sql,
    "q58_promql_without" -> q58_sql,
    "q59_promql_subquery" -> q59_sql,
    "q60_promql_labeljoin" -> q60_sql,
    "q61_promql_threshold" -> q61_sql,
    "q62_promql_unless" -> q62_sql,
    "q64_promql_rate_sliding" -> q64_sql,
    "q65_promql_classic_hist" -> q65_sql,
    "q14_rate" -> q14_sql,
    "q15_increase" -> q15_sql,
    "q16_hist_quantile" -> q16_sql,
    "q17_exp_quantile" -> q17_sql,
    "q18_hist_count" -> q18_sql,
    "q19_exp_count" -> q19_sql,
    "q37_exp_mixed_scale" -> q37_sql,
    "q38_exp_negative" -> q38_sql)
}
