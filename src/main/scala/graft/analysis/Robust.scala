package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Median/MAD robust outlier detection on bucketed series — the
  * Hampel identifier (Hampel 1974; the robust-statistics replacement
  * for mean±kσ): a point is anomalous when its robust z-score
  *
  *   |0.6745 · (x − median) / MAD| > k,   MAD = median(|x − median|)
  *
  * Mean/stddev thresholds move WITH the outliers they hunt (one 100×
  * spike inflates σ enough to hide the next one); the median and MAD
  * have a 50% breakdown point, so a contaminated series still yields
  * honest bands. 0.6745 scales MAD to σ-equivalents under normality
  * (Φ⁻¹(0.75)), making `k` comparable to a z-score threshold.
  *
  * Scale shape: two windows over the (series, bucket) frame, both
  * partitioned by the series key so they share one shuffle — the
  * per-series median, then the per-series MAD of the deviations from
  * it. Both run Spark's exact `median` aggregate, whose
  * state is the series' bucket list — bounded by the time range (the
  * engine's series contract), never by raw event volume. Medians are
  * order-independent, so results are bit-stable across partitionings
  * and engines (the float-parity rule sums and means break).
  */
object Robust {

  /** Per-point frame: keys + bucket + value + `med`, `mad`,
    * `robust_z` (6dp), `outlier` (1/0). A degenerate series
    * (MAD = 0 — over half the points identical) answers null
    * robust_z/outlier rather than flagging every deviation from the
    * median: no dispersion signal, no detection — the
    * [[ChangePoint.ewmaChart]] degenerate convention. Rows with a null
    * series key belong to no series and drop out. */
  def madOutliers(df: DataFrame, keyCols: Seq[String],
      bucketCol: String, valueCol: String, k: Double = 3.5)
      : DataFrame = {
    require(keyCols.nonEmpty, "madOutliers needs at least one series key")
    require(k > 0.0, "threshold k must be positive")
    val keyCs = keyCols.map(col)
    val series = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCs: _*)
    val rz = lit(0.6745) * (col("__x") - col("med")) / col("mad")
    df.filter(keyCs.map(_.isNotNull).reduce(_ && _))
      .select(keyCs :+ col(bucketCol).cast("long").as("__b")
        :+ col(valueCol).cast("double").as("__x"): _*)
      .withColumn("med", median(col("__x")).over(series))
      .withColumn("mad", median(abs(col("__x") - col("med"))).over(series))
      .select(keyCs ++ Seq(
        col("__b").as(bucketCol),
        col("__x").as(valueCol),
        col("med"), col("mad"),
        when(col("mad") > 0.0, round(rz, 6)).as("robust_z"),
        when(col("mad") > 0.0,
          when(abs(rz) > k, 1L).otherwise(0L)).as("outlier")): _*)
  }

  /** Per-group winsorization at [pLo, pHi] with percentile_disc
    * semantics: the clamp bounds are always OBSERVED values (the
    * smallest value whose cumulative fraction covers p — the
    * [[Normalize.quantileNormalize]] ladder rule), so engines agree
    * bit-for-bit and a clamped score is always a real data point —
    * the heavy-tail taming pass quality scores get before averaging
    * or mixing decisions. Output: keys…, v, lo, hi, v_wins.
    *
    * Scale shape: value cells collapse map-side per group (the
    * ksDrift quantize-first contract bounds distinct values); one
    * per-group window over CELLS builds the ladder, one conditional
    * aggregate reads both bounds off it, and the bounds broadcast
    * back onto a second pass over the input — corpus rows shuffle
    * zero times. */
  def winsorize(df: DataFrame, groupCols: Seq[String],
      valueCol: String, pLo: Double = 0.05, pHi: Double = 0.95)
      : DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      "need 0 <= pLo < pHi <= 1")
    import org.apache.spark.sql.expressions.Window
    val keyCs = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val wOrd = Window.partitionBy(keyCs: _*).orderBy(col("cv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCs: _*)
    val bounds = df.filter(v.isNotNull)
      .groupBy(keyCs :+ v.as("cv"): _*)
      .agg(count(lit(1)).as("cn"))
      .withColumn("__frac",
        sum(col("cn")).over(wOrd).cast("double") /
          sum(col("cn")).over(wAll))
      .groupBy(keyCs: _*)
      .agg(min(when(col("__frac") >= pLo, col("cv"))).as("lo"),
        min(when(col("__frac") >= pHi, col("cv"))).as("hi"))
    df.filter(v.isNotNull)
      .join(broadcast(bounds), groupCols)
      .select(keyCs ++ Seq(v.as("v"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), v)).as("v_wins")): _*)
  }
}
