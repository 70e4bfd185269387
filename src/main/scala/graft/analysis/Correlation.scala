package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spearman rank correlation between bucketed series — "which metrics
  * move together": monotone association that survives the non-linear
  * relationships (saturation curves, exponential growth) a Pearson
  * coefficient understates, which is why correlation triage across
  * service metrics ranks by Spearman.
  *
  * Ranks use the classic Spearman spelling ρ = 1 − 6·Σd²/(n(n²−1))
  * over TIE-AVERAGED ranks (ties share the mean of the row numbers
  * they span — deterministic regardless of partitioning; the formula
  * is exact when ties are absent and the documented convention
  * otherwise). Only buckets present in BOTH series correlate; the
  * denominator n is per pair.
  *
  * Scale shape: the input is already the (series, bucket, value)
  * aggregate (never raw events), so the rank windows partition by
  * series with state bounded by the bucket count — the engine's
  * series contract. The pair join is |series|² × buckets; series
  * count is audited loudly up front (`maxSeries`) because metric
  * correlation is a few-hundred-series tool, not a per-document one.
  */
object Correlation {

  /** One row per unordered series pair (key_a < key_b) with the
    * common-bucket count `n` and `rho` (6dp; null when n < 2 or a
    * degenerate all-tied series makes the formula's denominator
    * meaningless).
    *
    * The ranked-frame cache stays persisted for the returned frame
    * and is released by the caller's `spark.catalog.clearCache()`
    * (the Dsir convention): the eager series audit reads the cache,
    * so the plan cannot share the ranked frame instead. */
  def spearmanPairs(df: DataFrame, keyCol: String, bucketCol: String,
      valueCol: String, maxSeries: Int = 500): DataFrame = {
    // persisted WITH the tie-averaged rank folded in: the audit and
    // both join sides read this frame — without the pin the two rank
    // windows (and the caller's upstream aggregation) would replay
    // once per consumer
    val ranked = df
      .select(col(keyCol), col(bucketCol).cast("long").as("__b"),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(col("__v"), col("__b"))))
      .withColumn("__r", avg(col("__rn")).over(
        Window.partitionBy(col(keyCol), col("__v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the series audit runs on the persisted frame (warming it), so
    // the upstream scan happens exactly once across audit + pair join
    val nSeries = ranked.select(keyCol).distinct().count()
    if (nSeries > maxSeries) {
      ranked.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"spearmanPairs: $nSeries series would form ~${nSeries * nSeries}" +
          s" pairs > maxSeries = $maxSeries allows — aggregate or filter" +
          " series first, or raise maxSeries explicitly")
    }
    // an all-tied series has zero rank variance — Spearman is 0/0
    // there (the d² formula would fabricate a definite-looking
    // number), so either side being degenerate nulls the pair's ρ
    val tied = ranked.groupBy(col(keyCol))
      .agg((min(col("__r")) === max(col("__r"))).as("__tied"))
    val a = ranked.join(tied, keyCol :: Nil)
      .select(col(keyCol).as("key_a"), col("__b"),
        col("__r").as("__ra"), col("__tied").as("__ta"))
    val b = ranked.join(tied, keyCol :: Nil)
      .select(col(keyCol).as("key_b"), col("__b"),
        col("__r").as("__rb"), col("__tied").as("__tb"))
    a.join(b, Seq("__b"))
      .filter(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b")
      .agg(count(lit(1)).as("n"),
        sum(pow(col("__ra") - col("__rb"), 2)).as("__d2"),
        max(col("__ta")).as("__ta"), max(col("__tb")).as("__tb"))
      .withColumn("rho",
        when(col("n") >= 2 && !col("__ta") && !col("__tb"), round(
          lit(1.0) - lit(6.0) * col("__d2") /
            (col("n") * (col("n") * col("n") - lit(1.0))), 6)))
      .select("key_a", "key_b", "n", "rho")
  }
}
