package graft.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.CoreFunctions._
import graft.ir._
import graft.lucene.LuceneContext

/** IR → editable SQL text — the engine-side analogue of the reference's
  * builderToRawSql (packages/common-utils/src/core/builderToRawSql.ts:1-176):
  * render a builder Query as ONE runnable SQL statement the user can take
  * into a raw-SQL editor, or a user-facing reason it can't be represented.
  *
  * Every non-trivial fragment (lucene predicates, float coercion, the time
  * bucket) renders through the SAME Column builders the DataFrame compiler
  * executes, serialized with Catalyst's `Expression.sql` — the text cannot
  * drift from engine semantics, and `spark.sql(render(...))` over a temp
  * view named like `q.from` reproduces the compiled result. Documented
  * deviation: bound values are inlined rather than left as the reference's
  * `$__fromTime`-style template macros (the macros only exist for its
  * dashboard variable system).
  */
object BuilderSql {

  private def sqlOf(c: Column): String = ColumnBridge.expression(c).sql

  private def quoteIdent(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Render `q` against `catalog`. Left(reason) mirrors the reference's
    * error union for configs that don't fit one raw-SQL statement. */
  def render(q: Query, catalog: Catalog): Either[String, String] = {
    if (q.ctes.nonEmpty)
      return Left("CTE configs are not renderable as one raw-SQL statement")
    if (q.seriesLimit.nonEmpty)
      return Left("series-limited charts rely on the series-limit CTE " +
        "rewrite and are not renderable as plain SQL")
    val source = catalog(q.from)
    val resolver = new graft.lucene.FieldResolver(source.df.schema,
      source.jsonStringColumns, source.fieldAliases,
      source.materializedColumns)
    val lctx = LuceneContext(resolver, source.implicitSearchColumn)

    val step: Option[Long] = q.granularity match {
      case None => None
      case Some(Granularity.Fixed(s)) => Some(s)
      case Some(Granularity.Auto) =>
        // the ladder is a pure function of the date range (the compiler
        // resolves it the same way), so auto renders as its resolved step
        q.dateRange match {
          case Some(dr) => Some(autoGranularitySeconds(
            dr.to.getEpochSecond - dr.from.getEpochSecond))
          case None =>
            return Left("auto granularity requires a dateRange to resolve")
        }
    }
    val tsCol = source.timestampColumn
    if ((step.nonEmpty || q.dateRange.nonEmpty) && tsCol.isEmpty)
      return Left(s"source '${q.from}' has no timestamp column")

    // ---- select list (same alias + coercion rules as the compiler)
    val bucketSel = step.map(s =>
      s"${sqlOf(timeBucket(col(tsCol.get), s))} AS ${quoteIdent(TimeBucketAlias)}")
    val selects = q.select.zipWithIndex.map { case (s, i) =>
      val alias = QueryCompiler.aliasOf(s, i)
      val e = s.valueExpression
      def coerced: String = sqlOf(toFloat64OrDefault(expr(e)))
      val core: Either[String, String] = s.aggFn match {
        case None | Some(AggFn.NoAgg) => Right(if (e.isEmpty) "*" else e)
        case Some(AggFn.Count) =>
          Right(if (e.isEmpty) "count(*)" else s"count($e)")
        case Some(AggFn.CountDistinct) => Right(s"count(DISTINCT $e)")
        case Some(AggFn.Sum) => Right(s"sum($coerced)")
        case Some(AggFn.Avg) => Right(s"avg($coerced)")
        case Some(AggFn.Min) => Right(s"min($coerced)")
        case Some(AggFn.Max) => Right(s"max($coerced)")
        case Some(AggFn.Quantile(l)) => Right(s"percentile($coerced, $l)")
        case Some(AggFn.AnyValue) => Right(s"any_value($e)")
        case Some(AggFn.LastValue) => tsCol match {
          case Some(ts) => Right(s"max_by($e, ${quoteIdent(ts)})")
          case None => Left("last_value needs a timestamp column")
        }
        case Some(AggFn.Increase) =>
          Left("counter increase is a metric-pipeline rewrite, not plain SQL")
      }
      core match {
        case Left(err) => return Left(err)
        case Right(c) =>
          val filter = s.aggCondition.map(cond =>
            s" FILTER (WHERE ${sqlOf(QueryCompiler.compileCond(cond, lctx))})")
            .getOrElse("")
          val aggregated = s.aggFn.exists(_ != AggFn.NoAgg)
          if (c == "*" && !aggregated) c
          else s"$c$filter AS ${quoteIdent(alias)}"
      }
    }
    // group-by expressions are echoed into the output (the compiler's
    // groupBy(...).agg(...) emits group columns first, aliased with their
    // verbatim IR text) so the rendered statement reproduces the compiled
    // frame column-for-column
    val aggregated = q.select.exists(_.aggFn.exists(_ != AggFn.NoAgg))
    if (!aggregated && q.groupBy.nonEmpty)
      return Left("groupBy without aggregates is ignored by the compiler; " +
        "remove it (or add an aggregate) to render as SQL")
    val groupEcho =
      if (aggregated) q.groupBy.map(g => s"$g AS ${quoteIdent(g)}")
      else Nil
    val selectSql = (bucketSel.toSeq ++ groupEcho ++ selects)
      .mkString(",\n  ")

    // ---- WHERE: time range + where + filters (AND/OR like the compiler)
    val timePred = q.dateRange.map(dr =>
      sqlOf(QueryCompiler.timeRangeFilter(col(tsCol.get), dr)))
    val wherePred = q.where.map(c =>
      sqlOf(QueryCompiler.compileCond(c, lctx)))
    val filterPreds = q.filters.map(f =>
      sqlOf(QueryCompiler.compileFilter(f, lctx)))
    val filtersPred =
      if (filterPreds.isEmpty) None
      else Some(filterPreds.map(p => s"($p)")
        .mkString(if (q.filtersOr) " OR " else " AND "))
    val whereParts = (timePred.toSeq ++ wherePred.toSeq ++ filtersPred.toSeq)
      .map(p => s"($p)")
    val whereSql =
      if (whereParts.isEmpty) "" else s"\nWHERE ${whereParts.mkString(" AND ")}"

    // ---- GROUP BY (bucket prepended, aggregated queries only — for a
    // plain projection the bucket is just a selected column), HAVING,
    // ORDER BY (bucket prepended)
    val groupCols =
      if (!aggregated) Nil
      else (step.map(_ => quoteIdent(TimeBucketAlias)).toSeq ++
        q.groupBy.map(quoteIdent))
    val groupSql =
      if (groupCols.isEmpty) "" else s"\nGROUP BY ${groupCols.mkString(", ")}"
    val havingSql = q.having match {
      case None => ""
      case Some(Cond.Sql(sql)) => s"\nHAVING $sql"
      case Some(lucene @ Cond.Lucene(_)) =>
        // resolve against the compiled frame's OUTPUT schema — exactly the
        // resolver the engine builds at execution time (QueryCompiler's
        // having path), so alias references serialize identically.
        // Planning the having-less query is schema-only (no action).
        val aggSchema =
          QueryCompiler.compile(q.copy(having = None), catalog).schema
        val hctx = LuceneContext(
          new graft.lucene.FieldResolver(aggSchema), None)
        s"\nHAVING ${sqlOf(QueryCompiler.compileCond(lucene, hctx))}"
    }
    val orderItems = step.map(_ => quoteIdent(TimeBucketAlias)).toSeq ++
      q.orderBy.map(o => s"${o.expression}${if (o.desc) " DESC" else ""}")
    val orderSql =
      if (orderItems.isEmpty) "" else s"\nORDER BY ${orderItems.mkString(", ")}"
    val limitSql = q.limit.map(l => s"\nLIMIT $l").getOrElse("") +
      q.offset.map(o => s"\nOFFSET $o").getOrElse("")

    Right(s"SELECT $selectSql\nFROM ${quoteIdent(q.from)}" +
      whereSql + groupSql + havingSql + orderSql + limitSql)
  }
}
