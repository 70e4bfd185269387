package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters so
  * graft can register native Catalyst expressions (the supported extension
  * route for codegen'd scalar functions — everything referenced here is in
  * the public Spark jars, this object just lives in the `sql` package tree
  * to satisfy the `private[sql]` qualifier). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Full ColumnNode → Expression conversion. `ExpressionUtils.expression`
    * wraps the node lazily (fine inside a plan, where analysis converts it),
    * but `.sql` on a lazily-wrapped tree prints the wrapper's pretty name
    * (`columnnodeexpression(...)`) for DSL-built columns — the eager
    * converter yields the real Catalyst tree for serialization. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The `n` smallest values of `c` per group, ascending — Catalyst's
    * bounded `collect_top_k` (`CollectTopK(c, n, reverse = true)`, an
    * internal function, so it is reached from this package). It
    * plans as `partial_collect_top_k` → exchange → `collect_top_k`, and
    * each partial keeps at most `n` values per group, so a hot group's
    * state is `n`-bounded instead of partition-sized. Order is Spark's
    * native one: a struct compares field by field, NaN sorts largest,
    * -0.0 ties with +0.0 and strings compare as UTF-8 bytes — so
    * `struct(score, id)` ranks by score with ties broken on id. Null
    * values are skipped. */
  def smallestN(c: Column, n: Int): Column =
    Column.internalFn("collect_top_k", c,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(true))

  /** A bare `LocalLimit` (per-partition row cap) with no global collect
    * phase: `df.limit(n)` plans GlobalLimit(LocalLimit(n)) whose global
    * step funnels every partition into one task — the per-partition form
    * bounds scan work while staying fully parallel. */
  def localLimit(df: org.apache.spark.sql.DataFrame, perPartition: Int)
      : org.apache.spark.sql.DataFrame = {
    val qe = df.queryExecution
    org.apache.spark.sql.classic.Dataset.ofRows(qe.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
        org.apache.spark.sql.catalyst.expressions.Literal(perPartition),
        qe.analyzed))
  }
}
