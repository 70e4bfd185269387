package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Element-wise vector sum over an array column — ClickHouse `sumForEach`
  * (reference packages/common-utils/src/core/histogram.ts:160).
  *
  * A typed Aggregator (partial-aggregate + merge) rather than
  * explode→groupBy→collect: one shuffle with map-side combine, so per-series
  * histogram arrays collapse locally before crossing the network — the thing
  * that matters at 100 TB where each series contributes thousands of rows.
  * Arrays of differing lengths are padded (reference arrayZipUnaligned
  * tolerance). */
object VectorSum extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], in: Seq[Long]): Array[Long] =
    if (in == null) buf else merge(buf, in.toArray)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.length == 0) return b
    if (b.length == 0) return a
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < small.length) { big(i) += small(i); i += 1 }
    big
  }

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq
  override def bufferEncoder: Encoder[Array[Long]] =
    ExprEncoders.longArray
  override def outputEncoder: Encoder[Seq[Long]] = ExprEncoders.longSeq

  /** Column-API entry: `sum_for_each(col)`. */
  lazy val fn = udaf(VectorSum)
  def sumForEach(c: Column): Column = fn(c)
}

private[functions] object ExprEncoders {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  val longArray: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  val longSeq: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}
