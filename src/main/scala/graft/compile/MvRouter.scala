package graft.compile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._
import graft.ir._

/** Materialized-view (pre-aggregate) routing — the IR-level rewrite the
  * reference performs in materializedViews.ts
  * (convertSelectToMaterializedViewSelect :380-465, granularity
  * divisibility :309-345, dateRange coverage :357-373,
  * tryOptimizeConfigWithMaterializedView :722): when an aggregate query is
  * answerable from a registered rollup table, re-aggregate the (much
  * smaller) rollup instead of scanning raw data.
  *
  * Agg-column mapping (reference :380-465): count → sum(cnt_col);
  * sum → sum(sum_col); min/max → min/max of the partial min/max;
  * avg → sum(sum_col)/sum(cnt of value); quantile → quantileMerge over
  * per-cell value→count histogram partials; count_distinct →
  * distinctMerge over per-cell theta sketches (Spark's
  * `theta_sketch_agg`, 16,384 hashes) — the reference's
  * quantileState/uniqState MV columns, materializedViews.ts:380-465;
  * see graft.functions.QuantileSketch. Sketch partials are only present
  * when the rollup was built with `withSketches` (they cost memory per
  * cell); without them quantile/count_distinct veto routing.
  */
object MvRouter {

  /** A registered rollup: `df` holds one row per
    * (bucketCol: time bucket at granularitySeconds) × dims, with partial
    * aggregate columns. */
  final case class Rollup(
      df: DataFrame,
      bucketCol: String,
      granularitySeconds: Long,
      dims: Seq[String],
      /** value-expression → (count col, sum col, min col, max col) */
      partials: Map[String, RollupPartials],
      /** column holding the plain row count per rollup cell. */
      rowsCol: String)

  final case class RollupPartials(cnt: String, sum: String, min: String,
      max: String,
      /** value→count histogram column (quantile routing), when built. */
      hist: Option[String] = None,
      /** distinct-value theta sketch column (count_distinct routing),
        * when built. */
      distinct: Option[String] = None)

  /** Attempt to answer `q` from a rollup. Returns None when the query shape
    * is not routable (the caller then compiles against the base table). */
  def tryRoute(q: Query, rollup: Rollup): Option[DataFrame] = {
    // ---- admissibility (reference granularity/dateRange/field checks)
    val stepOk = q.granularity match {
      case Some(Granularity.Fixed(s)) =>
        s >= rollup.granularitySeconds && s % rollup.granularitySeconds == 0
      case _ => false
    }
    val groupOk = q.groupBy.forall(rollup.dims.contains)
    val whereOk = q.where.isEmpty && q.having.isEmpty
    val filtersOk = q.filters.forall {
      case Filter.Included(f, _) => rollup.dims.contains(f)
      case Filter.Excluded(f, _) => rollup.dims.contains(f)
      case _ => false
    }
    val aggsOk = q.select.nonEmpty && q.select.forall { s =>
      s.aggCondition.isEmpty && (s.aggFn match {
        case Some(AggFn.Count) => true
        case Some(AggFn.Sum) | Some(AggFn.Min) | Some(AggFn.Max) |
            Some(AggFn.Avg) =>
          rollup.partials.contains(s.valueExpression)
        case Some(AggFn.Quantile(_)) =>
          rollup.partials.get(s.valueExpression).exists(_.hist.nonEmpty)
        case Some(AggFn.CountDistinct) =>
          rollup.partials.get(s.valueExpression)
            .exists(_.distinct.nonEmpty)
        case _ => false
      })
    }
    if (!(stepOk && groupOk && whereOk && filtersOk && aggsOk)) return None

    val step = q.granularity.collect {
      case Granularity.Fixed(s) => s }.get

    // ---- rewrite: filter → re-bucket → re-aggregate partials
    var df = rollup.df
    q.dateRange.foreach { dr =>
      df = df.filter(QueryCompiler.timeRangeFilter(col(rollup.bucketCol), dr))
    }
    q.filters.foreach {
      case Filter.Included(f, vs) => df = df.filter(col(f).isin(vs: _*))
      case Filter.Excluded(f, vs) => df = df.filter(!col(f).isin(vs: _*))
      case _ => ()
    }
    val bucketed = df.withColumn(TimeBucketAlias,
      timeBucket(col(rollup.bucketCol), step))
    val groupCols = col(TimeBucketAlias) +: q.groupBy.map(col)
    val aggCols = q.select.zipWithIndex.map { case (s, i) =>
      val alias = QueryCompiler.aliasOf(s, i)
      val p = rollup.partials.get(s.valueExpression)
      (s.aggFn.get match {
        case AggFn.Count => sum(col(rollup.rowsCol))
        case AggFn.Sum => sum(col(p.get.sum))
        case AggFn.Min => min(col(p.get.min))
        case AggFn.Max => max(col(p.get.max))
        case AggFn.Avg => sum(col(p.get.sum)) / sum(col(p.get.cnt))
        case AggFn.Quantile(level) =>
          graft.functions.QuantileSketch.quantileMerge(level,
            col(p.get.hist.get))
        case AggFn.CountDistinct =>
          graft.functions.QuantileSketch.distinctMerge(
            col(p.get.distinct.get))
        case other => throw new IllegalStateException(other.toString)
      }).as(alias)
    }
    Some(bucketed.groupBy(groupCols: _*)
      .agg(aggCols.head, aggCols.tail: _*))
  }

  /** Build a rollup table from a raw frame (the batch equivalent of the
    * streaming rollup in graft.streaming — used to materialize pre-aggs).
    * With `withSketches`, each value column additionally materializes a
    * value→count histogram and a distinct-value theta sketch (binary)
    * per cell, enabling
    * quantile / count_distinct routing (the reference's quantileState /
    * uniqState MV columns). */
  def buildRollup(df: DataFrame, tsCol: String, granularitySeconds: Long,
      dims: Seq[String], valueExprs: Seq[String],
      withSketches: Boolean = false): Rollup = {
    val bucketed = df.withColumn("__rollup_bucket",
      timeBucket(col(tsCol), granularitySeconds))
    val aggCols = count(lit(1)).as("rows_cnt") +:
      valueExprs.zipWithIndex.flatMap { case (e, i) =>
        val v = toFloat64OrDefault(expr(e))
        Seq(count(v).as(s"cnt_$i"), sum(v).as(s"sum_$i"),
          min(v).as(s"min_$i"), max(v).as(s"max_$i")) ++
          (if (withSketches)
            Seq(graft.functions.QuantileSketch.histState(v)
              .as(s"hist_$i"),
              graft.functions.QuantileSketch.distinctState(v)
                .as(s"uniq_$i"))
          else Nil)
      }
    val rolled = bucketed
      .groupBy((col("__rollup_bucket") +: dims.map(col)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val partials = valueExprs.zipWithIndex.map { case (e, i) =>
      e -> RollupPartials(s"cnt_$i", s"sum_$i", s"min_$i", s"max_$i",
        hist = if (withSketches) Some(s"hist_$i") else None,
        distinct = if (withSketches) Some(s"uniq_$i") else None)
    }.toMap
    Rollup(rolled, "__rollup_bucket", granularitySeconds, dims, partials,
      "rows_cnt")
  }

  /** Tier a rollup to a coarser granularity and/or fewer dims — the
    * MV-lifecycle step (ClickHouse's TTL GROUP BY re-aggregation: keep
    * hourly cells for a week, compact to daily for a year) that keeps
    * long-retention storage bounded without giving up routing. Every
    * partial is CLOSED under this merge: counts/sums add, min/max nest,
    * and the histogram / theta sketch partials union under their own caps
    * (QuantileSketch.histUnion/distinctUnion), so the compacted rollup
    * answers exactly the query classes the original did — and stays
    * EXACT under the same conditions (every merged cell under the
    * caps). Cost: one hash shuffle over the rollup frame, which is
    * cells-sized, never raw-data-sized. */
  def compactRollup(rollup: Rollup, granularitySeconds: Long,
      dims: Option[Seq[String]] = None): Rollup = {
    val outDims = dims.getOrElse(rollup.dims)
    require(granularitySeconds >= rollup.granularitySeconds &&
      granularitySeconds % rollup.granularitySeconds == 0,
      s"compaction granularity $granularitySeconds must be a multiple of " +
        s"the rollup's ${rollup.granularitySeconds}")
    require(outDims.forall(rollup.dims.contains),
      s"compaction dims $outDims must be a subset of ${rollup.dims}")
    val sk = graft.functions.QuantileSketch
    val aggCols = sum(col(rollup.rowsCol)).as(rollup.rowsCol) +:
      rollup.partials.values.toSeq.flatMap { p =>
        Seq(sum(col(p.cnt)).as(p.cnt), sum(col(p.sum)).as(p.sum),
          min(col(p.min)).as(p.min), max(col(p.max)).as(p.max)) ++
          p.hist.map(h => sk.histUnion(col(h)).as(h)) ++
          p.distinct.map(d => sk.distinctUnion(col(d)).as(d))
      }
    val rolled = rollup.df
      .withColumn("__compact_bucket",
        timeBucket(col(rollup.bucketCol), granularitySeconds))
      .groupBy((col("__compact_bucket") +: outDims.map(col)): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumnRenamed("__compact_bucket", rollup.bucketCol)
    Rollup(rolled, rollup.bucketCol, granularitySeconds, outDims,
      rollup.partials, rollup.rowsCol)
  }
}
