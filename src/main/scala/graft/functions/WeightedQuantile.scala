package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Weighted quantile — ClickHouse `quantileTDigestWeighted(level)(x, w)`
  * used for SampleRate-weighted trace aggregations
  * (reference renderChartConfig.ts:556-624). Spark has no weighted
  * percentile built-in (SURVEY §7.2), so this is a custom Aggregator.
  *
  * Buffer: a capped reservoir of (value, weight) centroids. Below the cap
  * it is exact; above it, adjacent centroids (by value) are greedily merged
  * t-digest-style, weighting the merged position. Deterministic — no
  * randomness — so results are stable across retries.
  */
final case class WeightedQuantileAgg(level: Double)
    extends Aggregator[(Double, Long), ArrayBuffer[(Double, Double)],
      Double] {

  /** Centroid cap: the buffer is exact while a group holds at most
    * 2× this many distinct values, and never holds more (16 B per
    * centroid → ≤ 1 MB per group). Equal values coalesce losslessly
    * first, so quantized value domains (2-decimal latencies etc.) stay
    * exact at any row count. */
  private val Compression = 32768

  override def zero: ArrayBuffer[(Double, Double)] = ArrayBuffer.empty

  override def reduce(buf: ArrayBuffer[(Double, Double)],
      in: (Double, Long)): ArrayBuffer[(Double, Double)] = {
    if (in != null && in._2 > 0) {
      buf += ((in._1, in._2.toDouble))
      if (buf.length > Compression * 2) compress(buf)
    }
    buf
  }

  override def merge(a: ArrayBuffer[(Double, Double)],
      b: ArrayBuffer[(Double, Double)]): ArrayBuffer[(Double, Double)] = {
    a ++= b
    if (a.length > Compression * 2) compress(a)
    a
  }

  /** Sort by value; first coalesce EQUAL values (lossless — exactness then
    * depends on the column's distinct-value cardinality, not row count;
    * quantized observability values often stay exact at any scale), and
    * only if still over the cap merge adjacent centroids t-digest-style. */
  private def compress(buf: ArrayBuffer[(Double, Double)]): Unit = {
    val sorted = buf.sortBy(_._1)
    val coalesced = ArrayBuffer.empty[(Double, Double)]
    sorted.foreach { case (v, w) =>
      if (coalesced.nonEmpty && coalesced.last._1 == v) {
        val last = coalesced.last
        coalesced(coalesced.length - 1) = (last._1, last._2 + w)
      } else coalesced += ((v, w))
    }
    if (coalesced.length <= Compression * 2) {
      buf.clear(); buf ++= coalesced
      return
    }
    val out = ArrayBuffer.empty[(Double, Double)]
    val targetWeight =
      math.max(coalesced.map(_._2).sum / Compression, 1e-12)
    var curV = 0.0; var curW = 0.0
    coalesced.foreach { case (v, w) =>
      if (curW > 0 && curW + w > targetWeight) {
        out += ((curV / curW, curW)); curV = 0.0; curW = 0.0
      }
      curV += v * w; curW += w
    }
    if (curW > 0) out += ((curV / curW, curW))
    buf.clear(); buf ++= out
  }

  override def finish(buf: ArrayBuffer[(Double, Double)]): Double = {
    if (buf.isEmpty) return Double.NaN
    val sorted = buf.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val rank = level * total
    var cum = 0.0
    sorted.foreach { case (v, w) =>
      cum += w
      if (cum >= rank) return v
    }
    sorted.last._1
  }

  override def bufferEncoder: Encoder[ArrayBuffer[(Double, Double)]] =
    ExpressionEncoder[ArrayBuffer[(Double, Double)]]()
  override def outputEncoder: Encoder[Double] = ExpressionEncoder[Double]()
}

object WeightedQuantile {
  /** `weighted_quantile(level)(value, weight)` as a Column aggregate. */
  def apply(level: Double, value: Column, weight: Column): Column = {
    val fn = udaf(WeightedQuantileAgg(level))
    fn.apply(value.cast("double"), weight.cast("long"))
  }
}
