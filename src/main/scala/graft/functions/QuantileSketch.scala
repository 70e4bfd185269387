package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{lit, map, theta_sketch_agg,
  theta_sketch_estimate, theta_union_agg, udaf, udf, when}

/** ClickHouse `quantileState`/`quantileMerge` and `uniqState`/`uniqMerge`
  * analogues backing materialized-view routing (reference maps
  * -State/-Merge combinator pairs onto MV columns,
  * materializedViews.ts:380-465).
  *
  * Both partials are BOUNDED — a rollup cell's state can never outgrow a
  * fixed cap, so a 100-TB build with pathological per-cell cardinality
  * degrades to a documented approximation instead of an OOM:
  *
  *  - quantile: a value→count histogram capped at [[MaxBins]] distinct
  *    values, summed by the one capped map-sum [[HistSum]]. Below the
  *    cap the histogram is lossless and the merged quantile uses the
  *    SAME `position = level·(N−1)` linear interpolation as Spark's
  *    exact percentile, so a rollup-answered quantile hash-matches the
  *    raw answer (quantized observability values typically stay under
  *    the cap at any row count). Above the cap, adjacent centroids merge
  *    t-digest-style (weighted mean, equal-weight targets — the same
  *    scheme as [[WeightedQuantileAgg]]), giving a
  *    deterministic-per-partitioning approximation.
  *  - count_distinct: Spark's theta sketch (`theta_sketch_agg`,
  *    `theta_union_agg`, `theta_sketch_estimate`) at 2^[[LgNomEntries]]
  *    = 16,384 hashes. Exact whenever a cell's true cardinality is below
  *    that; above it the estimate has ~1/√16384 (≈0.8%) relative error.
  *    A cell's state is the serialized sketch (binary, ≤ 8 bytes per
  *    kept hash plus a preamble); unions are order-insensitive and
  *    retry-deterministic. Doubles hash canonically: -0.0 counts as
  *    +0.0 and every NaN as one value, like Spark's own DISTINCT.
  *
  * Values are float64-coerced like every rollup partial; route only
  * numeric columns.
  */
object QuantileSketch {

  /** Max distinct values a rollup cell's histogram keeps exactly; 2×
    * hysteresis before compaction amortizes the sort. 4096
    * doubles+longs ≈ 64 KiB worst-case cell state. */
  val MaxBins = 4096

  /** log2 of the theta sketch's nominal entries: 16,384 hashes. */
  val LgNomEntries = 14

  /** Merge a value→count histogram down to `cap` centroid bins: sort by
    * value, then greedily fill equal-weight buckets, replacing each with
    * its weighted-mean centroid (weights stay exact; positions blur). */
  private def compact(h: mutable.Map[Double, Long], cap: Int)
      : mutable.Map[Double, Long] = {
    var cur = h
    // greedy equal-weight filling can overshoot the bucket count when
    // weights are uneven (a heavy value flushes a partial bucket), so
    // re-run with a doubled weight target until under the cap — each pass
    // at least halves the bin count toward it, so this terminates fast
    var target = 0.0
    while (cur.size > cap) {
      val sorted = cur.toArray.sortBy(_._1)
      val total = sorted.iterator.map(_._2.toDouble).sum
      target = if (target == 0.0) math.max(total / cap, 1.0) else target * 2
      val out = mutable.Map.empty[Double, Long]
      var curVW = 0.0; var curW = 0L
      sorted.foreach { case (v, c) =>
        if (curW > 0 && curW + c > target) {
          out.update(curVW / curW, out.getOrElse(curVW / curW, 0L) + curW)
          curVW = 0.0; curW = 0L
        }
        curVW += v * c; curW += c
      }
      if (curW > 0)
        out.update(curVW / curW, out.getOrElse(curVW / curW, 0L) + curW)
      cur = out
    }
    cur
  }

  /** The capped map-sum behind every histogram partial: sums value→count
    * maps, compacting to `cap` bins whenever the buffer passes `2·cap`
    * and once more at finish. [[MaxBins]] for the build side (one-entry
    * maps per value) and the rollup-tiering union; `4·MaxBins` for the
    * query-side merge, whose union of many exact cells may hold more
    * distinct values than any one cell. Exact while no compaction ran. */
  final case class HistSum(cap: Int) extends Aggregator[Map[Double, Long],
      mutable.Map[Double, Long], Map[Double, Long]] {
    override def zero: mutable.Map[Double, Long] = mutable.Map.empty

    override def reduce(buf: mutable.Map[Double, Long],
        in: Map[Double, Long]): mutable.Map[Double, Long] = {
      if (in != null) in.foreach { case (k, v) =>
        buf.update(k, buf.getOrElse(k, 0L) + v)
      }
      if (buf.size > cap * 2) compact(buf, cap) else buf
    }

    override def merge(a: mutable.Map[Double, Long],
        b: mutable.Map[Double, Long]): mutable.Map[Double, Long] = {
      b.foreach { case (k, v) => a.update(k, a.getOrElse(k, 0L) + v) }
      if (a.size > cap * 2) compact(a, cap) else a
    }

    override def finish(r: mutable.Map[Double, Long]): Map[Double, Long] =
      compact(r, cap).toMap

    override def bufferEncoder: Encoder[mutable.Map[Double, Long]] =
      ExpressionEncoder[mutable.Map[Double, Long]]()
    override def outputEncoder: Encoder[Map[Double, Long]] =
      ExpressionEncoder[Map[Double, Long]]()
  }

  /** Interpolated quantile of a value→count histogram — the same
    * `position = level·(N−1)` linear interpolation as Spark's exact
    * percentile; NaN for an empty histogram. */
  def interpolate(hist: Map[Double, Long], level: Double): Double = {
    if (hist.isEmpty) return Double.NaN
    val sorted = hist.toArray.sortBy(_._1)
    val n = sorted.iterator.map(_._2).sum
    val pos = level * (n - 1)
    val lowerIdx = math.floor(pos).toLong
    val higherIdx = math.ceil(pos).toLong
    var cum = 0L
    var lowerKey = sorted.head._1
    var higherKey = sorted.head._1
    var i = 0
    while (i < sorted.length && cum <= higherIdx) {
      val (v, c) = sorted(i)
      if (cum <= lowerIdx && lowerIdx < cum + c) lowerKey = v
      if (cum <= higherIdx && higherIdx < cum + c) higherKey = v
      cum += c
      i += 1
    }
    if (lowerIdx == higherIdx) lowerKey
    else (higherIdx - pos) * lowerKey + (pos - lowerIdx) * higherKey
  }

  private lazy val cellSum = udaf(HistSum(MaxBins))
  private lazy val querySum = udaf(HistSum(MaxBins * 4))

  /** value→count histogram partial of a double column. */
  def histState(v: Column): Column = {
    val d = v.cast("double")
    cellSum(when(d.isNotNull, map(d, lit(1L))))
  }

  /** Histogram partial → histogram partial union (rollup tiering). */
  def histUnion(hist: Column): Column = cellSum(hist)

  /** Quantile from merged histogram partials. Matches the raw path only
    * while BOTH stay exact: every cell under [[MaxBins]] AND the
    * cross-cell union of distinct values under the merge's 4·MaxBins
    * cap — a union of many exact cells can exceed it and compact
    * (approximate) even though no single cell did. */
  def quantileMerge(level: Double, hist: Column): Column =
    udf((h: Map[Double, Long]) => interpolate(h, level))
      .apply(querySum(hist))

  /** Distinct-value theta sketch partial of a double column. */
  def distinctState(v: Column): Column =
    theta_sketch_agg(v.cast("double"), LgNomEntries)

  /** Theta partial → theta partial union (rollup tiering). */
  def distinctUnion(sketch: Column): Column =
    theta_union_agg(sketch, LgNomEntries)

  /** Distinct count from merged theta partials. */
  def distinctMerge(sketch: Column): Column =
    theta_sketch_estimate(theta_union_agg(sketch, LgNomEntries))
}
