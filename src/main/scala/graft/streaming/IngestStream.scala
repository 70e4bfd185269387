package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Dedup, Manifest}

/** Continuous-ingest dedup: the [[graft.pipeline.Dedup.ingestBatch]]
  * lifecycle as a STREAMING job — each arriving micro-batch is deduped
  * against the persisted signature store and the store grows by the
  * survivors' own signature rows, so batch N+1 sees batch N's accepted
  * content without any kept text ever being re-scanned. This is the
  * reference's collector→engine continuous-ingest boundary
  * (docker-compose.yml's always-on pipeline) applied to corpus dedup.
  *
  * Both artifacts are [[graft.pipeline.Manifest]] layouts (a batch
  * pipeline reads them with `Manifest.rows`):
  *
  *   storeDir   the seed generation (value -1, written by the caller
  *              via `Manifest.append`) plus one (id, sh, sig, sz)
  *              generation per batch's survivors
  *   outDir     one generation of surviving documents per batch
  *
  * RESTART-IDEMPOTENT by construction: each batch commits one
  * generation per artifact keyed by its batchId, and
  * [[graft.pipeline.Manifest.append]] upserts by value, so a batch
  * replayed after a crash replaces its own entries instead of
  * appending duplicates (the foreachBatch at-least-once contract made
  * effectively exactly-once). A half-written batch is never visible —
  * it has no manifest entry — so crash recovery is pure garbage
  * collection. The store read still EXCLUDES the current batchId's
  * generation: a batch that committed its manifest entries but
  * crashed before the CHECKPOINT commit replays, and must not match
  * its prior attempt's rows.
  *
  * Scale shape: one band join per micro-batch against the store (at
  * 100 TB, bucket the store files by band hash and the join prunes to
  * matching buckets); the batch side is micro-batch-sized. A batch
  * under `spark.graft.maxBroadcastBatchBytes` (measured after the
  * batch is cached) broadcasts, so the STORE — the side that grows
  * forever — is scanned once map-side and never exchanged; a larger
  * batch falls back to the shuffled band join. State lives
  * entirely in the store parquet, not the state store — the streaming
  * checkpoint carries only source offsets, so recovery cost is
  * independent of corpus size. Per-batch wall therefore grows with the
  * STORE (the `ingest_store` StreamLoadProbe scenario measures the
  * curve), and the layout accretes one generation per batch: COMPACT
  * periodically with [[compactManifest]] (stop the query, compact,
  * restart — any id-disjoint union of the same rows is equivalent to
  * the band join; CompactionSpec proves keep/drop equivalence, and the
  * `ingest_compact` probe scenario measures the per-batch wall
  * dropping back after the generation count resets). Keep/drop is
  * vs-store only ([[graft.pipeline.Dedup.dedupAgainstStore]]'s
  * contract); run a batch [[graft.pipeline.Dedup.minhashLsh]] pass over
  * outDir later if within-batch duplicates matter. */
object IngestStream {

  /** Start the continuous-ingest query over a streaming frame of
    * (idCol, textCol) documents. Seed the store first via
    * [[graft.pipeline.Manifest.append]] with value -1. Returns the
    * running query; stop it (or crash it) and restart with the same
    * checkpointDir to resume from the next unprocessed batch. */
  def startManifest(stream: DataFrame, idCol: String, textCol: String,
      storeDir: String, outDir: String, checkpointDir: String,
      k: Int = 16, bands: Int = 8, shingleN: Int = 3,
      minJaccard: Double = 0.7): StreamingQuery = {
    val spark = stream.sparkSession
    require(Manifest.exists(spark, storeDir),
      s"$storeDir has no manifest — seed it with Manifest.append " +
        "(value -1)")
    // crash recovery IS garbage collection: a crashed batch/compact/
    // retract left only unreferenced gen- dirs
    Manifest.gc(spark, storeDir)
    if (Manifest.exists(spark, outDir))
      Manifest.gc(spark, outDir)
    // single-writer CACHED maintainers, built after recovery so the
    // cache reads the recovered state: the steady-state loop re-reads
    // no manifest — each micro-batch is two commits, not two
    // read-and-commit cycles plus a state read (the measured 15–25%
    // per-append manifest overhead was mostly this)
    val storeM = new Manifest.Maintainer(spark, storeDir)
    val outM = new Manifest.Maintainer(spark, outDir)
    val validated = new java.util.concurrent.atomic.AtomicBoolean(false)
    val step: (DataFrame, Long) => Unit = { (batch0, batchId) =>
      val store = storeM.rows()
        .filter(col("batch") =!= batchId)
        .drop("batch")
      // persist + count does double duty: the batch is read several
      // times downstream (content keying, the rep semi-join, the
      // survivor writes), and once materialized its cached relation
      // reports the batch's MEASURED bytes — the size the band join's
      // broadcast gate (Sizing.broadcastableBatch) reads
      val batch = batch0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        batch.count()
        // the store-wide width guard costs one column-pruned store
        // scan on top of the band join — run it on the FIRST batch of
        // this query's lifetime (it would catch a foreign-k store dir,
        // or a pre-`sz` store mixed with new appends), then skip:
        // every later generation is this loop's own append under the
        // same k
        val survivors = Dedup.dedupAgainstStore(batch, idCol, textCol,
            store, k, bands, shingleN, minJaccard,
            checkWidths = validated.compareAndSet(false, true))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          outM.append(survivors, batchId)
          // write appends in the STORE'S OWN schema: against a store
          // written before the `sz` column existed, appending sz-
          // bearing rows would manufacture the mixed store the width
          // guard refuses (old rows read sz = null under schema
          // inference) and take the loop down on its next restart —
          // the pre-sz store stays homogeneous (and unpruned) until
          // the operator opts in via Manifest.rebuild
          val sigRows = Dedup.signatureStore(survivors, idCol,
            textCol, k, shingleN)
          storeM.append(
            if (store.columns.contains("sz")) sigRows
            else sigRows.drop("sz"),
            batchId)
        } finally survivors.unpersist()
      } finally batch.unpersist()
      ()
    }
    stream.writeStream
      .foreachBatch(step)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Compact both artifacts this stream accretes — the signature
    * store and the kept-docs output — folding each manifest's
    * generations into one base. Call with the query STOPPED; the
    * checkpoint holds only source offsets, so a restart resumes from
    * the next unprocessed batch against the compacted store, and
    * keep/drop is unchanged (row-set-preserving — CompactionSpec).
    *
    * `checkpointDir` (REQUIRED — it is the query's own checkpoint)
    * guards the one unsafe window: a batch whose manifest entries
    * committed but whose CHECKPOINT commit is missing will replay, and
    * folding its rows into the base (value -1) would defeat the
    * replay's own-batchId exclusion — its documents would match their
    * own folded rows and every one would vanish (permanent, SILENT
    * data loss). The guard reads batch ids from the MANIFEST: a
    * half-written batch can't even appear there, so the only flagged
    * state is the genuine checkpoint-lag window. */
  def compactManifest(spark: SparkSession, storeDir: String,
      outDir: String, checkpointDir: String): Unit = {
    val maxCommit = newestCommit(spark, checkpointDir)
    def uncommitted(dir: String): Seq[Long] =
      if (!Manifest.exists(spark, dir)) Seq.empty
      else Manifest.state(spark, dir).entries.map(_.value)
        .filter(_ > maxCommit)
    val bad = (uncommitted(storeDir) ++ uncommitted(outDir))
      .distinct.sorted
    require(bad.isEmpty,
      s"manifest batch(es) ${bad.mkString(", ")} under $storeDir / " +
        s"$outDir have no checkpoint commit — the query crashed " +
        "before committing; restart it to finish the replay, stop " +
        "cleanly, then compact")
    Manifest.compact(spark, storeDir)
    if (Manifest.exists(spark, outDir)) Manifest.compact(spark, outDir)
  }

  /** Retract (un-keep) documents from BOTH artifacts this stream
    * accretes — signature rows from the store AND the documents
    * themselves from the kept-docs output — the takedown path applied
    * to the whole lifecycle state. Only generations holding a
    * retracted id are rewritten, and each retraction is one atomic
    * manifest swap per artifact (readers see all of it or none). Call
    * with the query STOPPED; afterwards a restart ingests as if the
    * docs had never been kept — a future near-dup of a retracted doc
    * survives (RetractionSpec). Returns (store rows removed, kept docs
    * removed). */
  def retractManifest(spark: SparkSession, storeDir: String,
      outDir: String, ids: DataFrame,
      idCol: String = "doc_id"): (Long, Long) =
    (Manifest.retract(spark, storeDir, ids, idCol),
      if (Manifest.exists(spark, outDir))
        Manifest.retract(spark, outDir, ids, idCol)
      else 0L)

  /** The newest committed batch id in a streaming checkpoint (-1 if
    * none). Streaming executes batches SEQUENTIALLY (batch N+1 starts
    * only after N commits), so the only possibly-uncommitted id is
    * one BEYOND this; comparing against the marker SET would misfire
    * on long-running queries whose commit log was purged to
    * spark.sql.streaming.minBatchesToRetain. */
  private def newestCommit(spark: SparkSession,
      checkpointDir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val commitsPath =
      new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    val cfs = commitsPath.getFileSystem(conf)
    (if (!cfs.exists(commitsPath)) Seq.empty[Long]
     else cfs.listStatus(commitsPath).toSeq
       .map(_.getPath.getName).filter(_.forall(_.isDigit))
       .map(_.toLong)
    ).foldLeft(-1L)(math.max)
  }

  /** The policy-gated maintenance step for the stop/restart boundary:
    * evaluate [[CompactionPolicy]] and run [[compactManifest]] only
    * when it fires — one call for the cadence loop a deployment runs
    * between stop() and the next [[startManifest]] (the
    * `ingest_policy` probe drives exactly this decision). Returns the
    * decision so the caller can log WHY. */
  def maybeCompact(spark: SparkSession, storeDir: String,
      outDir: String, checkpointDir: String,
      maxPartitions: Int = 64,
      recentWalls: Seq[Double] = Nil,
      baselineWalls: Seq[Double] = Nil,
      maxDrift: Double = 1.3): CompactionPolicy.Decision = {
    val d = CompactionPolicy.evaluate(spark, storeDir, outDir,
      maxPartitions, recentWalls, baselineWalls, maxDrift)
    if (d.compact)
      compactManifest(spark, storeDir, outDir, checkpointDir)
    d
  }
}
