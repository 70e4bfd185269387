package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.pipeline.Manifest

/** WHEN to compact — the cadence policy the maintenance verb
  * ([[IngestStream.compactManifest]]) deliberately left to the
  * operator: compaction is proven row-set-preserving, but nothing
  * decided when running it pays.
  * Two triggers, both cheap enough to evaluate at every stop/restart
  * boundary (the only place compaction is legal — the query must be
  * stopped, and [[IngestStream]]'s offsets-only checkpoint makes
  * stop → compact → restart safe by construction):
  *
  *  - ''partition count'': every accreted manifest generation costs
  *    the store read a file listing and a tiny-file task — the
  *    measured source of the per-batch wall drift (`ingest_store`:
  *    2.06→2.44 s over 40 batches). One manifest read to evaluate.
  *  - ''wall drift'': the recent per-batch wall over the early-run
  *    baseline — the symptom itself, caught even when partition
  *    count alone under-predicts it (skewed batch sizes, small-file
  *    pressure). The caller supplies both samples; the policy keeps
  *    no state.
  *
  * The `ingest_policy` StreamLoadProbe scenario drives ≥80 batches
  * with the POLICY (not a hard-coded midpoint) triggering compaction
  * and records the wall curve staying flat. At 100 TB the same two
  * signals scale: generation count is a manifest read, and per-batch
  * wall is already on every streaming progress event. */
object CompactionPolicy {

  /** What [[evaluate]] decided and why — `reason` is empty when no
    * trigger fired. */
  final case class Decision(compact: Boolean, partitions: Int,
      drift: Double, reason: String)

  /** Count the accreted generations of one artifact: its manifest
    * entries (0 for an artifact with no manifest yet — outDir before
    * the first batch). */
  def generations(spark: SparkSession, dir: String): Int =
    if (Manifest.exists(spark, dir)) Manifest.state(spark, dir).entries.size
    else 0

  /** Evaluate the two triggers for a stopped store/out pair.
    *
    * @param maxPartitions compact when the LARGER artifact's
    *   generation count exceeds this (64 ≈ an hour of minute-level
    *   batches; at 100 TB pick the value whose listing cost the
    *   store read can absorb)
    * @param recentWalls  newest per-batch wall samples (seconds)
    * @param baselineWalls early-run wall samples from AFTER the last
    *   compaction (or run start)
    * @param maxDrift compact when mean(recent)/mean(baseline)
    *   exceeds this; samples sized < 3 never fire the drift arm
    *   (two noisy walls shouldn't schedule a corpus-wide rewrite) */
  def evaluate(spark: SparkSession, storeDir: String, outDir: String,
      maxPartitions: Int = 64,
      recentWalls: Seq[Double] = Nil,
      baselineWalls: Seq[Double] = Nil,
      maxDrift: Double = 1.3): Decision = {
    val parts = math.max(generations(spark, storeDir),
      generations(spark, outDir))
    val drift =
      if (recentWalls.size < 3 || baselineWalls.size < 3) 1.0
      else (recentWalls.sum / recentWalls.size) /
        math.max(baselineWalls.sum / baselineWalls.size, 1e-9)
    val reasons = Seq(
      if (parts > maxPartitions)
        Some(s"partitions $parts > $maxPartitions") else None,
      if (drift > maxDrift)
        Some(f"wall drift $drift%.2fx > $maxDrift%.2fx") else None
    ).flatten
    Decision(reasons.nonEmpty, parts, drift, reasons.mkString("; "))
  }
}
