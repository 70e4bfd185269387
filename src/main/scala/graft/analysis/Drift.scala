package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Categorical distribution drift between a reference corpus and a
  * current one — the monitoring primitive behind "did the crawl mix
  * shift?" and "does this training batch still look like the last
  * one?": per-category proportions with additive smoothing, KL
  * divergence contributions KL(P_cur ‖ Q_ref) = Σ p·ln(p/q), and the
  * Pearson chi-square terms (o − e)²/e against expectations scaled
  * from the reference — drift localizes to the categories that moved,
  * not just one scalar.
  *
  * Scale shape: one hash aggregate per side collapses each corpus to
  * its category histogram (vocabulary-sized, map-side combined), a
  * full-outer join aligns the two histograms, and the scalar totals
  * (N_ref, N_cur, K) ride a one-row cross join — no shuffle ever
  * carries corpus rows, only category cells. Smoothing (add-c over
  * the UNION's category set) keeps KL finite when a category appears
  * on one side only — exactly the case drift detection exists for.
  */
object Drift {

  /** Per-category drift frame: `n_ref`/`n_cur` raw counts (0 when
    * absent), smoothed proportions `p_ref`/`p_cur`, `kl_term`
    * (current-vs-reference KL contribution, nats) and `chi2_term`.
    * Totals are `sum(kl_term)` / `sum(chi2_term)` downstream. */
  def categoricalDrift(ref: DataFrame, cur: DataFrame, keyCol: String,
      smooth: Double = 0.5): DataFrame = {
    require(smooth > 0.0, "smoothing constant must be positive")
    val r = ref.groupBy(col(keyCol)).agg(count(lit(1)).as("n_ref"))
    val c = cur.groupBy(col(keyCol)).agg(count(lit(1)).as("n_cur"))
    val joined = r.join(c, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(
      sum("n_ref").as("__tr"), sum("n_cur").as("__tc"),
      count(lit(1)).as("__k"))
    joined.crossJoin(totals)
      .withColumn("p_ref",
        (col("n_ref") + lit(smooth)) /
          (col("__tr") + lit(smooth) * col("__k")))
      .withColumn("p_cur",
        (col("n_cur") + lit(smooth)) /
          (col("__tc") + lit(smooth) * col("__k")))
      .withColumn("kl_term",
        round(col("p_cur") * log(col("p_cur") / col("p_ref")), 6))
      .withColumn("chi2_term", round(
        pow(col("n_cur") - col("__tc") * col("p_ref"), 2) /
          (col("__tc") * col("p_ref")), 6))
      .select(col(keyCol), col("n_ref"), col("n_cur"),
        round(col("p_ref"), 6).as("p_ref"),
        round(col("p_cur"), 6).as("p_cur"),
        col("kl_term"), col("chi2_term"))
  }

  /** Two-sample Kolmogorov–Smirnov drift for NUMERIC columns — the
    * continuous sibling of [[categoricalDrift]]: per key, the exact
    * statistic D = sup_x |F_ref(x) − F_cur(x)| over the pooled
    * distinct values (where the sup of two step functions lives), the
    * α = 0.05 critical value 1.358·√((n₁+n₂)/(n₁n₂)) (Smirnov's
    * asymptotic table), and a `drifted` flag. Null values are dropped
    * per side (an ECDF has no place for them); a side with no rows
    * for a key answers a null D rather than a fabricated 1.0.
    *
    * Scale shape: each side collapses map-side to (key, value) counts
    * — the shuffle carries distinct-value cells, never raw rows; the
    * running ECDFs are one window per key whose state is that key's
    * distinct-value count. That count is the honest bound: this is an
    * operator for bucketed metrics and bounded-precision scores (round
    * first — the PSI variant below quantizes for free); `maxDistinct`
    * audits the hottest key loudly before the window runs. The cell
    * cache that audit reads stays persisted for the returned frame and
    * is released by the caller's `spark.catalog.clearCache()` (the
    * Dsir convention). */
  def ksDrift(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valueCol: String, maxDistinct: Long = 1000000L): DataFrame = {
    require(keyCols.nonEmpty, "ksDrift needs at least one key column")
    val keyCs = keyCols.map(col)
    def cells(df: DataFrame, side: String) = df
      .filter(col(valueCol).isNotNull)
      .select(keyCs :+ col(valueCol).cast("double").as("__v"): _*)
      .groupBy(keyCs :+ col("__v"): _*)
      .agg(count(lit(1)).as(s"__n_$side"))
    // persisted: the hottest-key audit and the ECDF window both read
    // the aligned cells (and the audit warms the cache)
    val joined = cells(ref, "ref")
      .join(cells(cur, "cur"), keyCols :+ "__v", "full_outer")
      .select(keyCs ++ Seq(col("__v"),
        coalesce(col("__n_ref"), lit(0L)).as("__r"),
        coalesce(col("__n_cur"), lit(0L)).as("__c")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hottest = joined.groupBy(keyCs: _*)
      .agg(count(lit(1)).as("__d"))
      .agg(max(col("__d"))).collect().head
    val hot = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    if (hot > maxDistinct) {
      joined.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"ksDrift: a key has $hot distinct values > maxDistinct = " +
          s"$maxDistinct — round/bucket the value column first (the " +
          "ECDF window is per-key sequential), or raise maxDistinct")
    }
    val wOrd = Window.partitionBy(keyCs: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCs: _*)
    val stepped = joined
      .withColumn("__cr", sum(col("__r")).over(wOrd))
      .withColumn("__cc", sum(col("__c")).over(wOrd))
      .withColumn("__tr", sum(col("__r")).over(wAll))
      .withColumn("__tc", sum(col("__c")).over(wAll))
    stepped.groupBy(keyCs: _*)
      .agg(max(col("__tr")).as("n_ref"), max(col("__tc")).as("n_cur"),
        max(when(col("__tr") > 0 && col("__tc") > 0,
          abs(col("__cr") / col("__tr") - col("__cc") / col("__tc"))))
          .as("__d"))
      // a side with zero rows has no ECDF: null D, never a fake 1.0
      .withColumn("d_stat",
        when(col("n_ref") > 0 && col("n_cur") > 0, round(col("__d"), 6)))
      // the product rides doubles: a long*long n₁n₂ wraps past ~3e9
      // rows per side with ANSI off, turning d_crit into NaN and every
      // drifted flag into a silent 0 (the parseBmp wrap class)
      .withColumn("d_crit",
        when(col("n_ref") > 0 && col("n_cur") > 0, round(
          lit(1.358) * sqrt((col("n_ref") + col("n_cur")).cast("double")
            / (col("n_ref").cast("double") * col("n_cur"))), 6)))
      .withColumn("drifted", when(col("d_stat").isNotNull,
        when(col("d_stat") > col("d_crit"), 1L).otherwise(0L)))
      .select(keyCs ++ Seq(col("n_ref"), col("n_cur"), col("d_stat"),
        col("d_crit"), col("drifted")): _*)
  }

  /** Population Stability Index terms over equal-width bins — the
    * scorecard-monitoring standard for numeric drift when an
    * interpretable per-bin decomposition (and the 0.1 / 0.25
    * rule-of-thumb bands on the total) beats a test statistic. Bin
    * edges derive from the REFERENCE min/max (equal-width, the
    * documented variant — quantile bins would need engine-identical
    * interpolation); current values outside the reference range clamp
    * into the edge bins, which is exactly the shift PSI should see; a
    * constant reference (no width) routes everything to bin 0. Both
    * sides smooth by `smooth` per bin so an empty bin stays finite.
    *
    * Returns one row per (key, bin): raw counts, smoothed
    * proportions, and `psi_term` = (p_cur − p_ref)·ln(p_cur/p_ref)
    * (6dp). The total is `sum(psi_term)` downstream — per-bin rows,
    * not a cross-row float sum, the [[categoricalDrift]] convention
    * that keeps results bit-stable across partition orders.
    *
    * Scale shape: one aggregate per side for the reference range
    * (broadcast back — key-count sized), one hash aggregate per side
    * for the bin histograms — corpus rows never shuffle; only
    * (key, bin) cells do. */
  def psiDrift(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valueCol: String, bins: Int = 10, smooth: Double = 0.5)
      : DataFrame = {
    require(keyCols.nonEmpty, "psiDrift needs at least one key column")
    require(bins > 0, "bins must be positive")
    require(smooth > 0.0, "smoothing constant must be positive")
    val keyCs = keyCols.map(col)
    val v = col(valueCol).cast("double")
    val range = ref.filter(v.isNotNull)
      .select(keyCs :+ v.as("__v"): _*)
      .groupBy(keyCs: _*)
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    // LEFT join: a key the reference never saw has no range to bin
    // over, but dropping it would hide the most extreme drift there
    // is (a brand-new population) — it surfaces as one null-bin row
    // with null terms instead (the ksDrift null-not-fake convention)
    def binned(df: DataFrame, side: String) = df
      .filter(v.isNotNull)
      .select(keyCs :+ v.as("__v"): _*)
      .join(broadcast(range), keyCols, "left")
      // clamp BEFORE the int cast: a corrupted huge value would wrap
      // the cast with ANSI off and land in an arbitrary bin instead
      // of the edge bin the clamp advertises
      .withColumn("__b",
        when(col("__lo").isNull, lit(null).cast("int"))
          .when(col("__hi") > col("__lo"),
            least(lit(bins - 1L), greatest(lit(0L),
              floor((col("__v") - col("__lo")) * bins /
                (col("__hi") - col("__lo"))))).cast("int"))
          .otherwise(lit(0)))
      .groupBy(keyCs :+ col("__b").as("bin"): _*)
      .agg(count(lit(1)).as(s"__n_$side"))
    val aligned = binned(ref, "ref")
      .join(binned(cur, "cur"), keyCols :+ "bin", "full_outer")
      .select(keyCs ++ Seq(col("bin"),
        coalesce(col("__n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("__n_cur"), lit(0L)).as("n_cur")): _*)
    val wAll = Window.partitionBy(keyCs: _*)
    val pRef = (col("n_ref") + lit(smooth)) /
      (sum(col("n_ref")).over(wAll) + lit(smooth * bins))
    val pCur = (col("n_cur") + lit(smooth)) /
      (sum(col("n_cur")).over(wAll) + lit(smooth * bins))
    aligned
      .withColumn("__p", when(col("bin").isNotNull, pRef))
      .withColumn("__q", when(col("bin").isNotNull, pCur))
      .withColumn("psi_term",
        round((col("__q") - col("__p")) * log(col("__q") / col("__p")),
          6))
      .select(keyCs ++ Seq(col("bin"), col("n_ref"), col("n_cur"),
        round(col("__p"), 6).as("p_ref"),
        round(col("__q"), 6).as("p_cur"), col("psi_term")): _*)
  }
}
