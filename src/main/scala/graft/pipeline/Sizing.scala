package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Size-adaptive width for EXPLICIT repartitions and artifact writes.
  *
  * The pipeline's explicit `repartition(numShufflePartitions)` calls
  * existed because the testdata parquet arrives as one input split;
  * pinning them to the session constant made every downstream stage run
  * `numShufflePartitions` tasks regardless of data size. At bench scale
  * that is thousands of near-empty tasks per query (a JFR profile shows
  * the wall going to task-closure deserialization, scheduling and
  * per-task setup, not compute); on a cluster the same constant can be
  * just as wrong in the other direction. The guide's rule (§2.2, §2.5,
  * §6) is to size partitions by BYTES, adaptively: derive the width
  * from the plan's size estimate, floor each partition at a minimum
  * byte share, and cap at the session's configured parallelism so a
  * big input still fans out exactly as before.
  *
  * Two repartition floors are live, each a floor and not a target:
  * the cap — `spark.sql.shuffle.partitions`, which `LocalSession.builder`
  * fixes to the core count and which changes only in code — stays the
  * operative bound whenever the data is big, so behaviour at scale is
  * unchanged;
  * the floor only stops overhead-dominated confetti tasks when the
  * data is small. Each caller passes its floor to [[parallelism]]:
  *
  *  - [[CpuDenseFloorBytes]] (8 KB) for the per-doc text and vector
  *    kernels;
  *  - Dedup's pair-kernel floor (32 KB) for the signature and pair
  *    stages.
  *
  * Artifact writes size by file bytes instead ([[writeWidth]]).
  *
  * Estimates come from `optimizedPlan.stats.sizeInBytes` — file sizes
  * for parquet scans, propagated through projections/filters/unions;
  * unknown-size leaves (RDD-backed frames) report Long.MaxValue and
  * land on the cap, i.e. exactly the previous behaviour. */
object Sizing {

  /** Byte floor for CPU-DENSE consumers (interpreted per-doc text
    * expressions, per-gram MD5): these do orders of magnitude more CPU
    * per input byte than the hash kernels, so their partitions must be
    * much smaller before the per-task overhead outweighs the
    * parallelism — measured at sf0.1: a 128 KB floor cost the
    * curation/text family 30–80% (q190 1.07→1.97 s, q154 1.25→2.04 s,
    * q138 0.60→1.07 s). 8 KB restores full fan-out for those consumers
    * at sf0.1 while still collapsing truly tiny inputs. */
  val CpuDenseFloorBytes: Long = 8L * 1024

  /** Partition count for an explicit repartition of `df`:
    * clamp(ceil(estimatedBytes / floorBytes), 1, shufflePartitions). */
  def parallelism(df: DataFrame, floorBytes: Long): Int =
    widthFor(df, floorBytes)

  val TargetFileBytes: Long = 32L * 1024 * 1024

  /** File count for an artifact write (compaction / rebuild / index
    * write): clamp(ceil(estimatedBytes / TargetFileBytes), 1,
    * shufflePartitions). The previous constant wrote
    * `numShufflePartitions` files regardless of size — KB-scale files
    * at small inputs (listing + per-file open overhead on every later
    * read, guide §6 "small files hurt twice") and a hard ceiling on
    * file size at large ones. The cap keeps write parallelism at the
    * session's configured width for big artifacts. */
  def writeWidth(df: DataFrame): Int = widthFor(df, TargetFileBytes)

  val MaxBroadcastBatchBytesKey = "spark.graft.maxBroadcastBatchBytes"
  val DefaultMaxBroadcastBatchBytes: Long = 64L * 1024 * 1024

  /** Whether a micro-batch frame is small enough for the broadcast
    * band join of [[Dedup.crossCorpusPairsFromStore]], judged by the
    * plan's size against `spark.graft.maxBroadcastBatchBytes` (a
    * persisted, materialized batch reports its measured cached bytes).
    * The broadcast side carries (id, sz, sig, band) per band per row —
    * bands × (~32 B + 8k B) at signature width k, several times the
    * raw (id, text) bytes — so the default 64 MB cap builds a relation
    * of a few hundred MB for typical documents and stays under the
    * 8 GB broadcast hard limit even for very short ones. An explicit
    * broadcast() hint BYPASSES autoBroadcastJoinThreshold, so without this gate a
    * corpus-fraction "batch" forces a multi-TB broadcast build at
    * scale; unknown-size frames (Long.MaxValue stats) land on false —
    * the shuffled path is the safe default. */
  def broadcastableBatch(df: DataFrame): Boolean = {
    val cap = java.lang.Long.parseLong(df.sparkSession.conf.get(
      MaxBroadcastBatchBytesKey, DefaultMaxBroadcastBatchBytes.toString))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes > 0 && bytes <= cap
  }

  private def widthFor(df: DataFrame, floor: Long): Int = {
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (floor <= 0 || bytes <= 0) cap
    else {
      val want = (bytes + floor - 1) / floor
      if (want >= cap) cap else math.max(1, want.toInt)
    }
  }
}
