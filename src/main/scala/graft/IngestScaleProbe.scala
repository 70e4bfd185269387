package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Sizing}

/** The 1000× point for the continuous-ingest slope claim: round 16
  * measured to 100× that the broadcast micro-batch path keeps the
  * signature store map-side (never exchanged) while the sort-merge
  * path shuffles O(store) every batch; this probe pins the slope the
  * 100-TB claim extrapolates with ONE production-shaped batch against
  * a store three orders past the gate scale — 5M distinct docs
  * (1000× q195's sf0.1 corpus), batch = store/50 (the steady-state
  * ratio of a mature deployment: the store dwarfs every arriving
  * batch). The corpus is generated in-Spark with fully-distinct token
  * windows (the StreamLoadProbe feed shape — scripts/make_scale10.py
  * is unsuitable here: its k>0 document copies are k-independent, so
  * factor 1000 manufactures 999-cliques of identical text and the
  * store degenerates); 30% of the batch re-sends near-dups of store
  * docs so the match path does real verification work.
  *
  * Both paths run twice (min taken) with per-pass shuffle bytes from
  * the stage listener; each is forced through the band join's byte
  * gate (`spark.graft.maxBroadcastBatchBytes`):
  *  - broadcast (cap unbounded): the batch's banded rows broadcast;
  *    the store flows through one fused map-side stage — shuffle
  *    should stay ~candidate-sized, INDEPENDENT of the store
  *  - smj (cap 0): the store's banded rows exchange — the O(store)
  *    term the broadcast path exists to delete
  *
  * Prints one JSON line (echoed to ingest_scale_out.json):
  * {"probe":"ingest_scale","store_docs":…,"batch_docs":…,
  *  "store_build_sec":…,"broadcast":{"sec":…,"shuffle_mb":…},
  *  "smj":{"sec":…,"shuffle_mb":…},"kept":…}
  *
  * Run: sbt "runMain graft.IngestScaleProbe"
  * (SPARK_GRAFT_STORE_DOCS to resize the store, default 5,000,000). */
object IngestScaleProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val storeDocs =
      sys.env.getOrElse("SPARK_GRAFT_STORE_DOCS", "5000000").toLong
    val batchDocs = storeDocs / 50
    val spark = LocalSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })

    // fully-distinct 12-token docs (the StreamLoadProbe vocabulary
    // note: a bounded vocab manufactures exact dups at wrap distance)
    def docText(idCol: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 12).map(w =>
        concat(lit("w"), (idCol * 12 + w).cast("string"))): _*)
    val docs = spark.range(storeDocs)
      .select(col("id").as("doc_id"), docText(col("id")).as("text"))

    val root = java.nio.file.Files
      .createTempDirectory("ingest_scale").toString
    val storeDir = s"$root/store"
    val t0 = System.nanoTime()
    Dedup.signatureStore(docs, "doc_id", "text", k = 16, shingleN = 3)
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .write.parquet(s"$storeDir/batch=-1")
    val buildSec = (System.nanoTime() - t0) / 1e9
    println(f"[ingest_scale] store built: $storeDocs docs in " +
      f"$buildSec%.1f s")

    // the arriving batch: 70% novel ids beyond the store range, 30%
    // near-dup re-sends of store docs (one appended token: 10 of the
    // 11 3-shingles shared, J = 10/11 ≈ 0.91 ≥ 0.7 — every banded
    // pair does real exact-Jaccard verification work)
    val batch = spark.range(batchDocs).select(
      when(col("id") % 10 < 3,
        col("id") * 17 % storeDocs + 10000000L)
        .otherwise(col("id") + 20000000L).as("doc_id"),
      when(col("id") % 10 < 3,
        concat(docText(col("id") * 17 % storeDocs), lit(" zz9")))
        .otherwise(docText(col("id") + 20000000L)).as("text"))

    def store() = spark.read.option("basePath", storeDir)
      .parquet(storeDir).drop("batch")

    // stage-completion events ride the ASYNC listener bus: poll the
    // counter until two consecutive reads agree before trusting it,
    // both after a pass (late events would be lost) and before the
    // next reset (they'd bleed into the next pass's number) — the
    // ServeIngestProbe drain discipline
    def drainedShuffle(): Long = {
      var v = shuffleBytes.get
      var settled = false
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(200L)
        val again = shuffleBytes.get
        settled = again == v
        v = again
      }
      v
    }

    def measure(broadcast: Boolean,
        storeFn: () => org.apache.spark.sql.DataFrame = store _)
        : (Double, Double, Long) = {
      spark.conf.set(Sizing.MaxBroadcastBatchBytesKey,
        if (broadcast) Long.MaxValue else 0L)
      val passes = try (0 until 2).map { _ =>
        spark.catalog.clearCache()
        drainedShuffle()
        shuffleBytes.set(0L)
        val t = System.nanoTime()
        val kept = Dedup.dedupAgainstStore(batch, "doc_id", "text",
          storeFn(), k = 16, bands = 8, shingleN = 3, minJaccard = 0.7,
          checkWidths = false).count()
        val wall = (System.nanoTime() - t) / 1e9
        (wall, drainedShuffle() / 1e6, kept)
      } finally spark.conf.unset(Sizing.MaxBroadcastBatchBytesKey)
      passes.minBy(_._1)
    }

    val (bSec, bMb, bKept) = measure(broadcast = true)
    println(f"[ingest_scale] broadcast: $bSec%.1f s, $bMb%.1f MB " +
      f"shuffle, kept=$bKept")
    val (sSec, sMb, sKept) = measure(broadcast = false)
    println(f"[ingest_scale] smj: $sSec%.1f s, $sMb%.1f MB shuffle, " +
      f"kept=$sKept")
    require(bKept == sKept,
      s"paths disagree: broadcast kept $bKept, smj kept $sKept")

    // the MANIFEST twin at the mature-deployment shape: the same 5M
    // store split across 8 committed generations (a compacted base
    // plus recent appends — what a long-running ingest between
    // compactions looks like), read through Manifest.rows: the
    // multi-path scan whose partition value is a DATA column, not a
    // directory name. The broadcast dedup against it must keep the
    // candidate-sized shuffle (byte-parity with the partitioned
    // read — the `batch` column prunes at the parquet scan), and ONE
    // production-shaped append prices the per-append protocol at
    // this scale: gen write + driver-side footer count + one
    // conditional-create manifest swap, all O(batch) and
    // store-size-independent.
    import graft.pipeline.Manifest
    val mStore = s"$root/mstore"
    val sigsAll = spark.read.parquet(s"$storeDir/batch=-1")
    val tSplit = System.nanoTime()
    (0 until 8).foreach { g =>
      Manifest.append(spark, mStore,
        sigsAll.filter(col("doc_id") % 8 === g), g.toLong)
    }
    val mBuildSec = (System.nanoTime() - tSplit) / 1e9
    def mstoreFn() = Manifest.rows(spark, mStore).drop("batch")
    val (mSec, mMb, mKept) = measure(broadcast = true,
      storeFn = mstoreFn _)
    println(f"[ingest_scale] manifest(8 gens): $mSec%.1f s, $mMb%.1f " +
      f"MB shuffle, kept=$mKept")
    require(mKept == bKept,
      s"manifest read disagrees: $mKept vs $bKept")
    // per-append commit cost with the signature build factored OUT
    // (any layout pays the hashing; the manifest's own price is the
    // gen write + footer count + swap)
    val batchSigs = Dedup.signatureStore(batch, "doc_id", "text",
        k = 16, shingleN = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchSigs.count()
    val tApp = System.nanoTime()
    Manifest.append(spark, mStore, batchSigs, 100L)
    val appendSec = (System.nanoTime() - tApp) / 1e9
    batchSigs.unpersist()
    println(f"[ingest_scale] manifest append (batch sigs): " +
      f"$appendSec%.2f s")

    val line =
      f"""{"probe":"ingest_scale","store_docs":$storeDocs,"batch_docs":$batchDocs,"store_build_sec":$buildSec%.1f,"broadcast":{"sec":$bSec%.2f,"shuffle_mb":$bMb%.1f},"smj":{"sec":$sSec%.2f,"shuffle_mb":$sMb%.1f},"manifest":{"sec":$mSec%.2f,"shuffle_mb":$mMb%.1f,"store_gens":8,"split_build_sec":$mBuildSec%.1f,"append_sec":$appendSec%.2f},"kept":$bKept}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("ingest_scale_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
