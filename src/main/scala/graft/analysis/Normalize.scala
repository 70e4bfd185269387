package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile normalization across groups — the cross-domain score
  * calibration move: a quality score of 0.8 from a lenient domain and
  * 0.6 from a strict one are not comparable, but their RANKS are.
  * Each (group, value) cell maps to its within-group midrank fraction
  * r, then to the smallest GLOBAL value whose cumulative fraction
  * covers r (percentile_disc semantics — the result is always an
  * actual observed value, never an interpolation, so engines agree
  * bit-for-bit: the only float is one division of exact longs).
  *
  * Scale shape: both sides collapse map-side to distinct-value cells
  * (the ksDrift contract: quantize scores first — `maxDistinct`
  * audits the hottest group loudly); the rank windows run per group
  * over those cells; the mapping join is cells × global-cells, which
  * is why the audit exists — at the documented ≤ thousands of
  * distinct score points it is a few-MB broadcast join, never a
  * corpus-row shuffle.
  */
object Normalize {

  /** One row per (group, value) cell: keys…, `v`, `n` (cell count),
    * `r` (within-group midrank fraction, 6dp), `qnorm` (the global
    * value at that fraction). Join back to rows on (keys, value) for
    * per-row normalized scores.
    *
    * The cell cache the eager distinct audits read stays persisted for
    * the returned frame and is released by the caller's
    * `spark.catalog.clearCache()` (the Dsir convention). */
  def quantileNormalize(df: DataFrame, groupCols: Seq[String],
      valueCol: String, maxDistinct: Long = 4096L,
      maxGlobalDistinct: Long = 65536L): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val keyCs = groupCols.map(col)
    // filter AFTER the cast: a string score like "N/A" casts to null
    // and would otherwise form a null-valued cell that sorts first
    // and shifts every midrank
    val cells = df
      .select(keyCs :+ col(valueCol).cast("double").as("v"): _*)
      .filter(col("v").isNotNull)
      .groupBy(keyCs :+ col("v"): _*)
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // audits over the PERSISTED cells (cell-sized jobs) bound BOTH
    // blow-up axes: the hottest group (the per-group windows) and the
    // global ladder (the single-task cumulative window + the
    // broadcast mapping join scale with GLOBAL distinct values, which
    // per-group bounds alone do not cap)
    val hottest = cells.groupBy(keyCs: _*)
      .agg(count(lit(1)).as("__d"))
      .agg(max(col("__d"))).collect().head
    val hot = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    val glob = cells.agg(countDistinct(col("v")))
      .collect().head.getLong(0)
    if (hot > maxDistinct || glob > maxGlobalDistinct) {
      cells.unpersist(blocking = false)
      // name only the bound(s) actually exceeded — a caller raising
      // the wrong limit would trip the audit again
      val parts = Seq(
        if (hot > maxDistinct)
          Some(s"hottest group has $hot distinct values " +
            s"(maxDistinct = $maxDistinct)")
        else None,
        if (glob > maxGlobalDistinct)
          Some(s"the global ladder has $glob distinct values " +
            s"(maxGlobalDistinct = $maxGlobalDistinct)")
        else None).flatten
      throw new IllegalArgumentException(
        s"quantileNormalize: ${parts.mkString(" and ")} — " +
          "quantize the score first, or raise the bound explicitly")
    }
    val wOrd = Window.partitionBy(keyCs: _*).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCs: _*)
    // midrank fraction: (rows strictly below + half the tie block)
    // over the group total — exact longs, one division
    val ranked = cells
      .withColumn("__cum", sum(col("n")).over(wOrd))
      .withColumn("__tot", sum(col("n")).over(wAll))
      .withColumn("__r",
        (col("__cum") - col("n") / lit(2.0)) / col("__tot"))
    // global distinct-value ladder with cumulative fractions — built
    // from the PERSISTED cells (cell-sized re-aggregates), so the raw
    // corpus is scanned exactly once across the whole operator
    val gw = Window.orderBy(col("gv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // grand total rides the SAME single-task window pass as the
    // cumulative sum (unbounded frame) — no extra crossJoin job
    val gwAll = Window.orderBy(col("gv")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val global = cells
      .groupBy(col("v").as("gv")).agg(sum(col("n")).as("gn"))
      .withColumn("__gcum", sum(col("gn")).over(gw))
      .withColumn("__gtot", sum(col("gn")).over(gwAll))
      .select(col("gv"),
        (col("__gcum").cast("double") / col("__gtot")).as("__gfrac"))
    // percentile_disc: the smallest global value covering fraction r
    val mapped = ranked.join(broadcast(global),
        col("__gfrac") >= col("__r"))
      .groupBy(keyCs :+ col("v") :+ col("n") :+ col("__r"): _*)
      .agg(min(col("gv")).as("qnorm"))
    mapped.select(keyCs ++ Seq(col("v"), col("n"),
      round(col("__r"), 6).as("r"), col("qnorm")): _*)
  }
}
