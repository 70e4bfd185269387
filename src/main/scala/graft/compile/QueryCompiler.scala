package graft.compile

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CoreFunctions._
import graft.ir._
import graft.lucene.{FieldResolver, LuceneCompiler, LuceneContext}

/** IR → DataFrame compiler — the Spark-native replacement for the
  * reference's `renderChartConfig` SQL generator
  * (packages/common-utils/src/core/renderChartConfig.ts:2247-2332).
  *
  * Everything is declared through the DataFrame API so Catalyst performs
  * predicate pushdown / column pruning / join planning; there is no SQL
  * string generation and no client-side result merging.
  */
object QueryCompiler {

  def compile(q: Query, catalog: Catalog): DataFrame = {
    // ---- CTEs (one level deep, like the reference types.ts:1326-1331)
    val cat = q.ctes.foldLeft(catalog) { case (c, (name, cq)) =>
      c.withSource(name, Source(compile(cq, c)))
    }
    val source = cat(q.from)
    val df = source.df
    val resolver = new FieldResolver(df.schema, source.jsonStringColumns,
      source.fieldAliases, source.materializedColumns)
    val lctx = LuceneContext(resolver, source.implicitSearchColumn)

    // ---- WHERE assembly (reference renderWhere :1141-1282): AND of
    // time-filter + where + filters + aggCondition pushdown
    val preds = Seq.newBuilder[Column]
    q.dateRange.foreach { dr =>
      source.timestampColumn.foreach { tsc =>
        preds += timeRangeFilter(col(tsc), dr)
      }
      // derived predicate on the date partition column → Catalyst prunes
      // partitions/files (SURVEY §4 timestamp-expression optimization)
      source.partitionDateColumn.foreach { pdc =>
        preds += (col(pdc) >=
          to_date(lit(java.sql.Timestamp.from(dr.from))) &&
          col(pdc) <= to_date(lit(java.sql.Timestamp.from(dr.to))))
      }
    }
    q.where.foreach(w => preds += compileCond(w, lctx))
    val filterPreds = q.filters.map(compileFilter(_, lctx))
    if (filterPreds.nonEmpty)
      preds += (if (q.filtersOr) filterPreds.reduce(_ || _)
                else filterPreds.reduce(_ && _))
    // aggCondition pushdown: when EVERY select has one, the disjunction can
    // be pushed to the scan (reference :1165-1193) — fewer rows read
    val aggConds = q.select.flatMap(_.aggCondition)
    if (q.select.nonEmpty && aggConds.length == q.select.length)
      preds += aggConds.map(compileCond(_, lctx)).reduce(_ || _)
    val filtered = preds.result() match {
      case Seq() => df
      case ps => df.filter(ps.reduce(_ && _))
    }

    // ---- time bucket
    val granularitySeconds: Option[Long] = q.granularity.map {
      case Granularity.Fixed(s) => s
      case Granularity.Auto =>
        val dr = q.dateRange.getOrElse(throw new IllegalArgumentException(
          "auto granularity requires dateRange"))
        autoGranularitySeconds(dr.to.getEpochSecond - dr.from.getEpochSecond)
    }
    val (bucketed, bucketCols) = granularitySeconds match {
      case Some(g) =>
        val tsc = source.timestampColumn.getOrElse(
          throw new IllegalArgumentException(
            s"granularity requires a timestamp column on ${q.from}"))
        (filtered.withColumn(TimeBucketAlias, timeBucket(col(tsc), g)),
          Seq(TimeBucketAlias))
      case None => (filtered, Nil)
    }

    // ---- aggregation vs projection
    val isAggregated = q.select.exists(s =>
      s.aggFn.exists(_ != AggFn.NoAgg))
    val aggregated: DataFrame =
      if (isAggregated) {
        // alias every group expression with its verbatim IR text so the
        // output name is stable for computed expressions too (Spark would
        // otherwise auto-name them with canonical pretty-SQL, e.g.
        // groupBy("UPPER(svc)") → column `upper(svc)`) — groupOutputName
        // and BuilderSql's echo both rely on the verbatim name
        val groupCols = bucketCols.map(col) ++
          q.groupBy.map(g => expr(g).as(g))
        val aggExprs = q.select.zipWithIndex.map { case (s, i) =>
          renderAgg(s, lctx, source).as(aliasOf(s, i))
        }
        val grouped =
          if (groupCols.isEmpty) bucketed.groupBy()
          else bucketed.groupBy(groupCols: _*)
        // echo group-by expressions into the output under their own names
        val out = grouped.agg(aggExprs.head, aggExprs.tail: _*)
        out
      } else if (q.select.nonEmpty) {
        val cols = bucketCols.map(col) ++
          q.select.zipWithIndex.map { case (s, i) =>
            expr(s.valueExpression).as(aliasOf(s, i))
          }
        bucketed.select(cols: _*)
      } else bucketed

    // ---- HAVING (post-aggregation filter, reference :1433-1452)
    val havinged = q.having match {
      case Some(Cond.Sql(sql)) => aggregated.filter(expr(sql))
      case Some(Cond.Lucene(lq)) =>
        val hres = new FieldResolver(aggregated.schema)
        aggregated.filter(
          LuceneCompiler.compile(lq, LuceneContext(hres, None)))
      case None => aggregated
    }

    // ---- series limit: top-N groups by max plotted value, semi-join
    // (reference renderSeriesLimitCte :1308-1431)
    val limited = (q.seriesLimit, q.groupBy) match {
      case (Some(n), gb) if gb.nonEmpty && isAggregated =>
        val valueCol = aliasOf(q.select.head, 0)
        val gcols = gb.map(g => col(groupOutputName(g)))
        val top = havinged
          .groupBy(gcols: _*)
          .agg(max(coalesce(col(valueCol).cast("double"),
            lit(Double.NegativeInfinity))).as("__rank_val"))
          // deterministic tie-break on the group columns
          .orderBy(desc("__rank_val") +: gcols.map(_.asc): _*)
          .limit(n)
          .select(gcols: _*)
        havinged.join(broadcast(top), gb.map(groupOutputName), "left_semi")
      case _ => havinged
    }

    // ---- ORDER BY (+ auto-prepended time bucket for series, :1454-1479)
    val explicitOrder = q.orderBy.map(o =>
      if (o.desc) expr(o.expression).desc else expr(o.expression).asc)
    val orderCols =
      if (bucketCols.nonEmpty &&
          !q.orderBy.exists(_.expression == TimeBucketAlias))
        col(TimeBucketAlias).asc +: explicitOrder
      else explicitOrder
    val ordered =
      if (orderCols.nonEmpty) limited.orderBy(orderCols: _*) else limited

    // ---- LIMIT / OFFSET (:1481-1494)
    val offsetted = q.offset.map(ordered.offset).getOrElse(ordered)
    q.limit.map(offsetted.limit).getOrElse(offsetted)
  }

  // ------------------------------------------------------------------ bits

  /** Inclusive-from, in/exclusive-to time filter
    * (reference timeFilterExpr :863-997). */
  def timeRangeFilter(ts: Column, dr: DateRange): Column = {
    val from = lit(java.sql.Timestamp.from(dr.from))
    val to = lit(java.sql.Timestamp.from(dr.to))
    if (dr.inclusiveEnd) ts >= from && ts <= to else ts >= from && ts < to
  }

  def aliasOf(s: SelectItem, idx: Int): String =
    s.alias.getOrElse {
      if (s.aggFn.isEmpty || s.aggFn.contains(AggFn.NoAgg)) s.valueExpression
      else s"series_$idx"
    }

  /** Output name a groupBy expression ends up with (plain column names keep
    * their name; computed expressions keep their SQL text). */
  private def groupOutputName(g: String): String = g

  /** Aggregate rendering — the analogue of `aggFnExpr`
    * (reference renderChartConfig.ts:500-669). String-typed inputs are
    * numerically coerced via toFloat64OrDefault — deliberately part of the
    * semantics. Conditional aggregation compiles to when(cond, x), the Spark
    * equivalent of ClickHouse `fnIf(x, cond)`. */
  private def renderAgg(s: SelectItem, lctx: LuceneContext,
      source: Source): Column = {
    val fn = s.aggFn.getOrElse(AggFn.NoAgg)
    val cond: Option[Column] = s.aggCondition.map(compileCond(_, lctx))
    def raw: Column = expr(s.valueExpression)
    // numeric coercion for value aggs (reference :516-522)
    def num: Column = toFloat64OrDefault(raw)
    def gated(c: Column): Column = cond match {
      case Some(p) => when(p, c)
      case None => c
    }
    // sample weighting (reference :556-624): count → sum(w),
    // sum → sum(x·w), avg → sum(x·w)/nullIf(sum(w),0), quantile →
    // weighted; min/max/count_distinct deliberately uncorrected
    val weight: Option[Column] =
      source.sampleWeightExpression.map(w => sampleWeight(expr(w)))
    fn match {
      case AggFn.Count =>
        (cond, weight) match {
          case (Some(p), Some(w)) => sum(when(p, w).otherwise(0L))
          case (None, Some(w)) => sum(w)
          case (Some(p), None) => count_if(p)
          case (None, None) => count(lit(1))
        }
      case AggFn.CountDistinct => count_distinct(gated(raw))
      case AggFn.Sum => weight match {
        case Some(w) => sum(gated(num * w))
        case None => sum(gated(num))
      }
      case AggFn.Avg => weight match {
        case Some(w) =>
          sum(gated(num * w)) / nullif(sum(gated(w)), lit(0L))
        case None => avg(gated(num))
      }
      case AggFn.Min => min(gated(num))
      case AggFn.Max => max(gated(num))
      case AggFn.AnyValue => first(gated(raw), ignoreNulls = true)
      case AggFn.LastValue =>
        // ClickHouse anyLast; deterministic via max_by on the ts column
        source.timestampColumn match {
          case Some(tsc) => max_by(gated(raw), when(gated(raw).isNotNull,
            col(tsc)))
          case None => last(gated(raw), ignoreNulls = true)
        }
      case AggFn.Quantile(level) => weight match {
        case Some(w) => graft.functions.WeightedQuantile(level, gated(num), w)
        case None => callPercentile(gated(num), level)
      }
      case AggFn.NoAgg => raw
      case AggFn.Increase =>
        throw new IllegalArgumentException(
          "increase is metric-only; use MetricCompiler")
    }
  }

  private def callPercentile(c: Column, level: Double): Column =
    call_function("percentile", c, lit(level))

  def compileCond(c: Cond, lctx: LuceneContext): Column = c match {
    case Cond.Sql(sql) => expr(sql)
    case Cond.Lucene(q) => LuceneCompiler.compile(q, lctx)
  }

  /** Structured filters → predicates (reference filters.ts:44-143 and the
    * sql_ast branch renderChartConfig.ts:180-197). */
  private[compile] def compileFilter(f: Filter, lctx: LuceneContext): Column = f match {
    case Filter.CondFilter(c) => compileCond(c, lctx)
    case Filter.SqlAst(op, left, right) =>
      val l = expr(left); val r = expr(right)
      op match {
        case "=" | "==" => l === r
        case "!=" | "<>" => l =!= r
        case ">" => l > r
        case ">=" => l >= r
        case "<" => l < r
        case "<=" => l <= r
        case other => throw new IllegalArgumentException(
          s"unsupported sql_ast operator: $other")
      }
    case Filter.Included(field, vs) => resolveOrDie(field, lctx).isin(vs: _*)
    case Filter.Excluded(field, vs) => !resolveOrDie(field, lctx).isin(vs: _*)
    case Filter.NumRange(field, lo, hi) =>
      resolveOrDie(field, lctx).cast("double").between(lo, hi)
  }

  private def resolveOrDie(field: String, lctx: LuceneContext): Column =
    lctx.resolver.resolve(field).map(_.col).getOrElse(lit(null))

  /** Convenience for tests: a DateRange from ISO instants. */
  def range(from: String, to: String): DateRange =
    DateRange(Instant.parse(from), Instant.parse(to))
}
