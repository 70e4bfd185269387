package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bounded-state behavior of the MV sketch partials: exact below the caps
  * (the oracle-gated path), bounded + close above them. The distinct
  * partial is Spark's theta sketch at 2^LgNomEntries hashes (K). */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  test("quantile partial is exact below the bin cap") {
    val df = (1 to 1000).map(i => (i % 7, (i % 100).toDouble)).toDF("g", "v")
    val merged = df
      .groupBy($"g").agg(QuantileSketch.histState($"v").as("h"))
      .agg(QuantileSketch.quantileMerge(0.5, $"h").as("p50"))
      .head().getDouble(0)
    val exact = df.agg(percentile($"v", lit(0.5))).head().getDouble(0)
    assert(merged === exact)
  }

  test("quantile state stays bounded and close above the bin cap") {
    val n = QuantileSketch.MaxBins * 4
    val df = (1 to n).map(_.toDouble).toDF("v")
    val partial = df.agg(QuantileSketch.histState($"v").as("h"))
    val bins = partial.select(size(map_keys($"h"))).head().getInt(0)
    assert(bins <= QuantileSketch.MaxBins)
    val p50 = partial
      .agg(QuantileSketch.quantileMerge(0.5, $"h").as("p50"))
      .head().getDouble(0)
    val exact = (n + 1) / 2.0
    assert(math.abs(p50 - exact) / exact < 0.01,
      s"p50=$p50 exact=$exact")
  }

  test("distinct partial is exact below K") {
    val df = (1 to 5000).map(i => (i % 3, (i % 997).toDouble)).toDF("g", "v")
    val got = df
      .groupBy($"g").agg(QuantileSketch.distinctState($"v").as("s"))
      .agg(QuantileSketch.distinctMerge($"s").as("d"))
      .head().getLong(0)
    assert(got === 997L)
  }

  test("distinct sketch stays bounded and within 5% above K") {
    val k = 1 << QuantileSketch.LgNomEntries
    val n = k * 3
    val df = (1 to n).map(_.toDouble).toDF("v")
    val partial = df.agg(QuantileSketch.distinctState($"v").as("s"))
    // ≤ K 8-byte hashes plus the compact sketch's 24-byte preamble
    val bytes = partial.select(length($"s")).head().getInt(0)
    assert(bytes <= 8 * k + 24, s"bytes=$bytes")
    val est = partial
      .agg(QuantileSketch.distinctMerge($"s").as("d"))
      .head().getLong(0)
    assert(math.abs(est - n).toDouble / n < 0.05, s"est=$est n=$n")
  }

  test("property: partition-split merges match single-pass (seeded)") {
    // any split of the input into partials must finish to the same
    // quantile/distinct answer as one pass, and below-cap answers must
    // be exact; the histogram half runs the aggregator without Spark
    val cell = QuantileSketch.HistSum(QuantileSketch.MaxBins)
    val query = QuantileSketch.HistSum(QuantileSketch.MaxBins * 4)
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 2000 + rnd.nextInt(3000)
      val vals = Array.fill(n)((rnd.nextInt(500) + 1).toDouble)
      // single pass
      val one = vals.foldLeft(cell.zero)(
        (b, v) => cell.reduce(b, Map(v -> 1L)))
      // random 4-way split, merged
      val split = vals.map(v => (rnd.nextInt(4), v))
      val parts = Array.fill(4)(cell.zero)
      split.foreach { case (p, v) => cell.reduce(parts(p), Map(v -> 1L)) }
      val merged = parts.reduce(cell.merge)
      def fin(h: scala.collection.mutable.Map[Double, Long]) =
        QuantileSketch.interpolate(
          query.finish(query.reduce(query.zero, cell.finish(h))), 0.9)
      assert(fin(one) === fin(merged))
      // exactness below cap: matches a sorted-array interpolation
      val sorted = vals.sorted
      val pos = 0.9 * (n - 1)
      val lo = sorted(math.floor(pos).toInt)
      val hi = sorted(math.ceil(pos).toInt)
      val exact = lo + (pos - math.floor(pos)) * (hi - lo)
      assert(math.abs(fin(one) - exact) < 1e-9)

      // the same split through the theta sketch partials
      val df = split.toSeq.toDF("p", "v")
      val d1 = df.agg(QuantileSketch.distinctState($"v").as("s"))
        .agg(QuantileSketch.distinctMerge($"s")).head().getLong(0)
      val dm = df.groupBy($"p")
        .agg(QuantileSketch.distinctState($"v").as("s"))
        .agg(QuantileSketch.distinctMerge($"s")).head().getLong(0)
      assert(d1 === dm)
      assert(d1 === vals.distinct.length.toLong)
    }
  }

  test("merging exact cells stays exact across cell boundaries") {
    // two cells, disjoint value sets, each far under K — union is exact
    val df = (1 to 2000)
      .map(i => (i % 2, (i % 2 * 1000 + i % 500).toDouble)).toDF("g", "v")
    val got = df
      .groupBy($"g").agg(QuantileSketch.distinctState($"v").as("s"))
      .agg(QuantileSketch.distinctMerge($"s").as("d"))
      .head().getLong(0)
    val exact = df.select(countDistinct($"v")).head().getLong(0)
    assert(got === exact)
  }
}
