package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Curation

/** Interval algebra over half-open [start, end) timestamp intervals —
  * the temporal-join family the engine's as-of join ([[AsOfJoin]]) does
  * not cover: "which intervals overlap" (session × incident correlation,
  * the reference's session-replay timeline view over a time range,
  * reference packages/api/src/routers/api/sessions.ts — sessions whose
  * span intersects the requested range) and "how many intervals are
  * active at once" (concurrent sessions / active series gauges).
  *
  * Neither shape is a Spark built-in: a naive overlap join is a
  * cross-join with a range predicate (O(n·m) compares, one partition
  * after Catalyst falls back to BroadcastNestedLoopJoin), and a naive
  * concurrency sweep is a global `Window.orderBy` (single-task sort).
  * Both are re-expressed here as equi-joins + bounded local work:
  *
  *  - [[overlapJoin]] chunks time into fixed buckets, explodes each
  *    interval to the buckets it covers, and equi-joins on the bucket —
  *    the standard bucketed range join (DuckDB/Trino interval joins,
  *    GeoSpark-style 1-D binning). Each overlapping pair meets in
  *    EXACTLY one bucket — the later of the two start buckets — so a
  *    `bucket = greatest(startBucketL, startBucketR)` join predicate
  *    dedupes pairs for free, with no wide `dropDuplicates` shuffle.
  *  - [[concurrency]] turns intervals into ±1 boundary deltas, shrinks
  *    them to one net delta per distinct boundary timestamp (one hash
  *    shuffle), then takes the global running sum with
  *    `Curation.prefixSum`: range-partition by time, per-partition
  *    local cumsum over O(#partitions) driver-side bases — never a
  *    single-task global sort.
  */
object Intervals {

  private def bucketOf(t: Column, bucketSeconds: Long): Column =
    floor(t.cast("double") / bucketSeconds).cast("long")

  /** Overlap (range) join: one row per (left, right) interval pair with
    * `greatest(start) < least(end)` — half-open overlap — carrying every
    * column of both inputs plus `overlap_seconds`. Column names must be
    * disjoint across the two inputs (alias upstream; loud require here).
    *
    * `bucketSeconds` trades fan-out for candidate-pair pruning: each
    * interval is replicated once per covered bucket (⌈len/bucket⌉ + 1
    * rows), and only same-bucket pairs are compared. Pick it near the
    * typical interval length. The fan-out is audited with one cheap
    * min/max pass over the boundary columns (`maxBucketsPerInterval`
    * guard) so a degenerate input (one year-long interval with 1 s
    * buckets) fails loudly instead of exploding the exchange. Callers
    * whose interval lengths are statically bounded (e.g. unit-interval
    * points, fixed ±span windows) pass `auditFanOut = false` to skip
    * the two audit jobs — each is a full scan of its side.
    *
    * `broadcastRight` is the asymmetric-cardinality fast path: when
    * the right side is bounded (global incident/burst lists — their
    * count grows with the TIME RANGE divided by the burst gap, not
    * with corpus rows, so they stay broadcast-sized at 100 TB), hint
    * it broadcast and the bucket equi-join becomes a
    * BroadcastHashJoin — the exploded BIG side flows map-side and is
    * never shuffled. Measured on q100 at the 100× synthesis: the
    * overlap stage's shuffle drops from ~427 MB (both banded sides
    * exchanged for a sort-merge join) to the right side's banded rows
    * only (SCALE.md round-16). Semantics identical. */
  def overlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      bucketSeconds: Long,
      maxBucketsPerInterval: Long = 100000L,
      auditFanOut: Boolean = true,
      broadcastRight: Boolean = false): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty,
      s"overlapJoin requires disjoint column names; shared: $dup")

    def audit(df: DataFrame, s: String, e: String): Unit = {
      val row = df.agg(max(col(e).cast("double") - col(s).cast("double")))
        .head()
      // empty side (or all-null bounds): nothing to audit — the join
      // below legitimately yields zero pairs
      if (!row.isNullAt(0)) {
        val buckets = math.ceil(row.getDouble(0) / bucketSeconds).toLong + 1
        require(buckets <= maxBucketsPerInterval,
          s"interval spans $buckets buckets of $bucketSeconds s (max " +
            s"$maxBucketsPerInterval): raise bucketSeconds or the cap")
      }
    }
    if (auditFanOut) {
      audit(left, lStart, lEnd)
      audit(right, rStart, rEnd)
    }

    // Explode to covered buckets. End-inclusive coverage (an interval
    // ending exactly on a boundary still emits that bucket) costs one
    // extra candidate row and keeps the arithmetic integral; the strict
    // overlap predicate discards the false candidates.
    def banded(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("__sb", bucketOf(col(s), bucketSeconds))
        .withColumn("__bucket",
          explode(sequence(col("__sb"), bucketOf(col(e), bucketSeconds))))

    val lb = banded(left, lStart, lEnd)
      .withColumnRenamed("__sb", "__sbl")
    val rb0 = banded(right, rStart, rEnd)
      .withColumnRenamed("__sb", "__sbr")
    val rb = if (broadcastRight) broadcast(rb0) else rb0
    lb.join(rb,
        lb("__bucket") === rb("__bucket") &&
          // each overlapping pair is counted only in the later of the two
          // start buckets — both sides provably cover it, and no other
          // shared bucket satisfies the equality
          lb("__bucket") === greatest(col("__sbl"), col("__sbr")) &&
          greatest(col(lStart), col(rStart)) <
            least(col(lEnd), col(rEnd)))
      .drop("__bucket", "__sbl", "__sbr")
      .withColumn("overlap_seconds",
        least(col(lEnd), col(rEnd)).cast("double") -
          greatest(col(lStart), col(rStart)).cast("double"))
  }

  /** Exact concurrency step function: one row per distinct boundary
    * timestamp `t` (as epoch seconds DOUBLE `t`), with `active` = the
    * number of intervals covering [t, next boundary). Half-open: an
    * interval ending at t and one starting at t never overlap.
    *
    * Two shuffles, both narrow: a hash shuffle that collapses the ±1
    * boundary events to one net delta per distinct timestamp, and a
    * range repartition of those (t, delta) rows for the distributed
    * prefix sum (`Curation.prefixSum`). Row volume after the first
    * shuffle is the number of DISTINCT boundary instants — at 100 TB
    * with second-resolution data that is bounded by the time range,
    * not the interval count. */
  def concurrency(df: DataFrame, startCol: String, endCol: String)
      : DataFrame = {
    val deltas = df.select(col(startCol).cast("double").as("t"),
        lit(1L).as("__d"))
      .unionAll(df.select(col(endCol).cast("double").as("t"),
        lit(-1L).as("__d")))
      .groupBy("t").agg(sum("__d").as("__d"))
    Curation.prefixSum(deltas, Seq(col("t")), col("__d"), "active")._1
      .select(col("t"), col("active"))
  }

  /** Per-key concurrency step function (`keys` non-empty): the same
    * sweep windowed per key — one hash shuffle on the keys, running sum
    * inside each key's partition (hot keys: the usual window caveat). */
  def concurrencyByKey(df: DataFrame, keys: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    require(keys.nonEmpty, "concurrencyByKey needs keys; use concurrency")
    val kc = keys.map(col)
    val deltas = df.select(kc :+ col(startCol).cast("double").as("t") :+
        lit(1L).as("__d"): _*)
      .unionAll(df.select(kc :+ col(endCol).cast("double").as("t") :+
        lit(-1L).as("__d"): _*))
      .groupBy(kc :+ col("t"): _*).agg(sum("__d").as("__d"))
    val w = Window.partitionBy(kc: _*).orderBy("t")
    deltas.withColumn("active", sum(col("__d")).over(w))
      .select(kc :+ col("t") :+ col("active"): _*)
  }
}
