package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier calibration — the reliability read behind every
  * score-thresholded curation gate (quality classifiers, fastText-style
  * filters, toxicity models): a model that says 0.9 should be right
  * ~90% of the time, and when it isn't, every threshold chosen on its
  * scores is miscalibrated too. Standard reliability-diagram binning
  * (Guo et al. 2017, "On Calibration of Modern Neural Networks"):
  * scores bucket into `bins` equal-width bins; per bin the mean
  * confidence, the empirical positive rate, the |gap|, and the
  * bin's ECE contribution (n_b/N)·|acc_b − conf_b| — Expected
  * Calibration Error is the downstream sum of `ece_term`, kept
  * per-bin so no cross-row float sum decides a gated value.
  *
  * Scale shape: ONE map-side-combined hash aggregate keyed on the bin
  * index (≤ `bins` cells) + a window total over them; corpus rows never
  * shuffle. Bin index = floor(score·bins) clamped so score = 1.0
  * lands in the top bin, not a phantom bin `bins`.
  */
object Calibration {

  /** Per-bin reliability rows: bin, lo/hi edges, n, mean_conf (6dp),
    * frac_pos (6dp), gap (6dp), ece_term (6dp). `labelCol` must be
    * 0/1; null scores/labels are excluded (they're a data-quality
    * finding for a different operator, not a calibration sample). */
  def reliabilityBins(df: DataFrame, scoreCol: String,
      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    // NaN is not null: floor(NaN·bins) casts to bin 0 with ANSI off
    // and one NaN score would poison that bin's mean — exclude it
    // like null (a model that emits NaN is a different finding).
    // Out-of-range scores are excluded for the same reason: a
    // negative score would land in a phantom negative bin and a
    // score > 1 would silently merge into the top bin, skewing its
    // mean_conf and the ECE term — surface them via a range-audit
    // operator, not as corrupt calibration bins
    val rows = df.filter(s.isNotNull && !isnan(s) && y.isNotNull &&
        s >= 0.0 && s <= 1.0)
      .select(
        least(floor(s * bins).cast("int"), lit(bins - 1)).as("bin"),
        s.as("s"), y.as("y"))
    // ≤ `bins` cells: the grand total is a window over all of them,
    // one task, in the same chain
    rows.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(col("s")).as("__ssum"),
      sum(col("y")).as("__ypos"))
      .withColumn("__t", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("bin"),
        round(col("bin").cast("double") / bins, 6).as("lo"),
        round((col("bin") + 1).cast("double") / bins, 6).as("hi"),
        col("n"),
        round(col("__ssum") / col("n"), 6).as("mean_conf"),
        round(col("__ypos").cast("double") / col("n"), 6)
          .as("frac_pos"),
        round(abs(col("__ypos").cast("double") / col("n") -
          col("__ssum") / col("n")), 6).as("gap"),
        round(col("n").cast("double") / col("__t") *
          abs(col("__ypos").cast("double") / col("n") -
            col("__ssum") / col("n")), 6).as("ece_term"))
  }

  /** Exact ROC AUC via the Mann–Whitney rank statistic — the
    * one-number ranking quality of a curation classifier, computed
    * WITHOUT sampling or trapezoid approximation: with midranks
    * doubled to stay integral (midrank2 = 2·before + n + 1 per score
    * cell, ties handled exactly),
    * AUC = (Σ_pos midrank2 − P(P+1)) / (2·P·N). Every aggregate is an
    * exact long; one final IEEE expression, so engines agree
    * bit-for-bit.
    *
    * Scale shape: corpus rows collapse into (score) cells map-side;
    * the cumulative walk is the single-task cell-ladder window the
    * winsorize family uses — bounded by the same quantize-first
    * contract, audited via `maxDistinct` (the quantileNormalize
    * convention) before the ladder runs. Returns ONE row:
    * (n_pos, n_neg, auc 6dp); auc is null when either class is
    * empty. */
  def auc(df: DataFrame, scoreCol: String, labelCol: String,
      maxDistinct: Long = 65536L): DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val cells = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .select(s.as("s"), y.as("__y"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val distinct = cells.count()
    if (distinct > maxDistinct) {
      cells.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"auc: $distinct distinct scores > maxDistinct = $maxDistinct" +
          " — quantize the score first, or raise the bound explicitly")
    }
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val result = cells
      .withColumn("__cum", sum(col("n")).over(w))
      .agg(
        sum(col("pos") * (lit(2L) * (col("__cum") - col("n")) +
          col("n") + 1L)).as("__sum2"),
        coalesce(sum(col("pos")), lit(0L)).as("n_pos"),
        coalesce(sum(col("n") - col("pos")), lit(0L)).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((col("__sum2").cast("double") -
            col("n_pos").cast("double") * (col("n_pos") + 1L)) /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6))
          .as("auc"))
    // the result is ONE row — materialize it so the cells cache can be
    // released NOW rather than accumulating an entry per invocation
    // for the session's lifetime
    val out = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(result.collect(): _*), result.schema)
    cells.unpersist(blocking = false)
    out
  }

  /** Brier score — the mean squared error of probabilistic
    * predictions, the proper scoring rule complementing [[auc]]
    * (ranking) and the ECE (calibration): Σ(s−y)²/N decomposed over
    * (score, label) CELLS — per cell the exact contribution
    * pos·(1−s)² + (n−pos)·s² — so the corpus never feeds a row-order
    * float fold; on grid-quantized scores (the q167 convention) every
    * cell term is an exact binary rational and engines agree
    * bit-for-bit. Same sample rules as [[reliabilityBins]]. One row:
    * (n, brier 6dp); null when no valid samples. */
  def brier(df: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    df.filter(s.isNotNull && !isnan(s) && y.isNotNull &&
        s >= 0.0 && s <= 1.0)
      .select(s.as("__s"), y.as("__y"))
      .groupBy(col("__s"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        sum(col("pos") * (lit(1.0) - col("__s")) *
          (lit(1.0) - col("__s")) +
          (col("n") - col("pos")) * col("__s") * col("__s"))
          .as("__sse"))
      .select(col("n"),
        when(col("n") > 0,
          round(col("__sse") / col("n"), 6)).as("brier"))
  }

  /** Precision/recall threshold sweep — the curve that picks a
    * curation filter's operating point: for each candidate threshold
    * t = k/bins (k = 0..bins−1), classify score ≥ t as positive and
    * report tp/fp/fn with precision, recall, and F1. F1 is computed as
    * 2·tp / (2·tp + fp + fn) — ONE division of exact longs, never the
    * 2pr/(p+r) division-of-divisions whose float association an
    * independent engine could disagree with. Thresholds align with the
    * score buckets, so "score ≥ k/bins" is exactly "bucket ≥ k" (1.0
    * clamps into the top bucket like [[reliabilityBins]]).
    *
    * Same sample rules as [[reliabilityBins]]: null/NaN/out-of-range
    * scores are excluded. precision is null at thresholds where
    * nothing is predicted positive.
    *
    * Scale shape: corpus rows collapse into ≤ bins cells map-side; the
    * sweep is a bins × bins conditional aggregate over CELLS whose
    * unconditional positives sum is the total P — nothing downstream
    * of the first aggregate scales with the corpus. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 16): DataFrame = {
    require(bins > 0, "bins must be positive")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val rows = df.filter(s.isNotNull && !isnan(s) && y.isNotNull &&
        s >= 0.0 && s <= 1.0)
      .select(
        least(floor(s * bins).cast("int"), lit(bins - 1)).as("b"),
        y.as("y"))
    val cells = rows.groupBy(col("b")).agg(
      count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val ks = df.sparkSession.range(bins.toLong)
      .select(col("id").cast("int").as("k"))
    // every cell meets every threshold, so the plain positives sum
    // is the total P
    ks.crossJoin(cells)
      .groupBy(col("k"))
      .agg(
        coalesce(sum(when(col("b") >= col("k"), col("pos"))), lit(0L))
          .as("tp"),
        coalesce(sum(when(col("b") >= col("k"),
          col("n") - col("pos"))), lit(0L)).as("fp"),
        sum(col("pos")).as("__p"))
      .select(
        round(col("k").cast("double") / bins, 6).as("threshold"),
        col("tp"), col("fp"), (col("__p") - col("tp")).as("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("precision"),
        when(col("__p") > 0,
          round(col("tp").cast("double") / col("__p"), 6))
          .as("recall"),
        when(col("tp") + col("fp") + col("__p") > 0,
          round(lit(2.0) * col("tp") /
            (col("tp") + col("fp") + col("__p")).cast("double"), 6))
          .as("f1"))
      .orderBy("threshold")
  }
}
