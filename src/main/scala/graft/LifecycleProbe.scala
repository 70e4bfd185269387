package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{Dedup, Manifest}
import graft.streaming.IngestStream

/** A production month in one probe: the continuous-ingest dedup
  * lifecycle that q195–q205 gate verb-by-verb, COMPOSED as one
  * continuous deployment over manifest-committed artifacts (every
  * commit a conditional create) and validated against an independent
  * sequential replay:
  *
  *  - 60 streaming micro-batches through
  *    [[IngestStream.startManifest]] (70% novel / 30% near-dup
  *    re-sends of the previous batch — the StreamLoadProbe feed);
  *  - a stop/restart boundary every 10 batches where
  *    [[IngestStream.maybeCompact]] lets [[graft.streaming.CompactionPolicy]]
  *    decide (never a hard-coded midpoint);
  *  - a mid-run TAKEDOWN at the batch-30 boundary
  *    ([[IngestStream.retractManifest]] over both artifacts), with
  *    targeted probes injected into batch 31: near-dups of RETRACTED
  *    docs must SURVIVE (nothing left in the store to match), near-dups
  *    of still-kept docs must DROP;
  *  - a PARAMETER MIGRATION at the batch-50 boundary (store rebuilt at
  *    k=32 from the current kept corpus via [[Manifest.rebuild]]; the
  *    loop restarts at k=32 / bands=16, r stays 2).
  *
  * VALIDATION: the identical recorded feed replayed as a synchronous
  * batch loop over in-memory frames — [[Dedup.signatureStore]] +
  * [[Dedup.dedupAgainstStore]] only, no manifest, no policy, no
  * streaming, no compaction — with the same retraction and rebuild
  * applied at the same boundaries (retract ≡ rebuild-from-survivors,
  * the RetractionSpec contract). The final kept doc_id SET must match
  * EXACTLY; compaction and the manifest layout must be invisible to
  * keep/drop, exactly as the per-verb specs claim, now proven
  * composed.
  *
  * Prints one JSON line (echoed to lifecycle_out.json) with the
  * policy's firing log, retraction/migration costs, the per-batch
  * wall curve, the targeted-probe outcomes, and the replay verdict.
  *
  * Run: sbt "runMain graft.LifecycleProbe"
  * (SPARK_GRAFT_LIFECYCLE_BATCH to resize; default 1,000 docs/batch). */
object LifecycleProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val perBatch =
      sys.env.getOrElse("SPARK_GRAFT_LIFECYCLE_BATCH", "1000").toInt
    val batches = 60
    val spark: org.apache.spark.sql.SparkSession = LocalSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext

    val root = java.nio.file.Files
      .createTempDirectory("lifecycle_probe").toString
    val (storeDir, outDir, ckpt) =
      (s"$root/store", s"$root/out", s"$root/ckpt")

    // fully-distinct token windows (the StreamLoadProbe vocabulary
    // note: a bounded vocab manufactures exact dups at wrap distance)
    def docText(i: Long): String =
      (0 until 12).map(w => s"w${i * 12 + w}").mkString(" ")
    val seedDf =
      Seq((0L, "seed corpus document about nothing in particular zero"))
        .toDF("doc_id", "text")

    Manifest.append(spark, storeDir,
      Dedup.signatureStore(seedDf, "doc_id", "text"), -1L)

    val mem = MemoryStream[(Long, String)]
    var kParams = (16, 8)
    def start(): StreamingQuery = IngestStream.startManifest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      storeDir, outDir, ckpt,
      k = kParams._1, bands = kParams._2, minJaccard = 0.7)

    // the feed is RECORDED so the replay consumes byte-identical input
    val feed = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, String)]]
    def baseBatch(b: Int): Seq[(Long, String)] = {
      val base = b.toLong * perBatch
      (0 until perBatch).map { j =>
        val id = base + j
        // ~30% re-sends of the PREVIOUS batch's content (position j+3
        // satisfies (j+3) % 10 >= 3, so the previous batch emitted it
        // as an original — the StreamLoadProbe construction)
        if (j % 10 < 3 && j < perBatch - 5 && b > 0)
          (1000000L + id, docText(base - perBatch + j + 3))
        else (id, docText(id))
      }
    }

    def keptIds(): Array[Long] = Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect()

    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val baseline = scala.collection.mutable.ArrayBuffer.empty[Double]
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    var retractIds: Array[Long] = Array.empty
    var survivorProbes: Array[Long] = Array.empty
    var dropProbes: Array[Long] = Array.empty
    var retractSec = -1.0
    var retractedStore = -1L
    var retractedOut = -1L
    var rebuildSec = -1.0

    var q = start()
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      // the boundaries a deployment schedules: stop, maintain, restart
      if (b > 0 && b % 10 == 0) {
        q.stop()
        if (b == 30) {
          // the takedown: retract ~150 already-kept originals from
          // BOTH artifacts (ids chosen by a deterministic rule so the
          // replay applies the identical set)
          val kept = keptIds()
          retractIds = kept.filter(id => id < 1000000L && id % 97 == 3)
            .sorted
          survivorProbes = retractIds.take(20)
          dropProbes = kept
            .filter(id => id < 1000000L && id % 97 == 5).sorted.take(20)
          val tr = System.nanoTime()
          val (rs, ro) = IngestStream.retractManifest(spark, storeDir,
            outDir, retractIds.toSeq.toDF("doc_id"))
          retractSec = (System.nanoTime() - tr) / 1e9
          retractedStore = rs; retractedOut = ro
        }
        if (b == 50) {
          // the parameter migration, post-takedown: rebuild the store
          // at k=32 from the CURRENT kept corpus; the loop restarts
          // at the new parameters (bands=16 keeps r=2)
          val tm = System.nanoTime()
          Manifest.rebuild(spark, storeDir, Dedup.signatureStore(
            Manifest.rows(spark, outDir).select("doc_id", "text")
              .unionByName(seedDf),
            "doc_id", "text", k = 32, shingleN = 3))
          kParams = (32, 16)
          rebuildSec = (System.nanoTime() - tm) / 1e9
        }
        val tc = System.nanoTime()
        val d = IngestStream.maybeCompact(spark, storeDir, outDir,
          ckpt, maxPartitions = 12,
          recentWalls = walls.takeRight(5).toSeq,
          baselineWalls = baseline.take(5).toSeq, maxDrift = 1.25)
        if (d.compact) {
          events += f"""{"batch":$b,"partitions":${d.partitions},"drift":${d.drift}%.2f,"reason":"${d.reason}","compact_sec":${(System.nanoTime() - tc) / 1e9}%.2f}"""
          baseline.clear()
        }
        q = start()
      }
      val data = baseBatch(b) ++ (
        // batch 31: the targeted post-takedown probes — near-dups of
        // retracted docs (must survive) and of still-kept docs (must
        // drop); one appended token keeps J = 10/11 ≥ 0.7
        if (b == 31)
          survivorProbes.map(r => (4000000L + r, docText(r) + " zz9")) ++
            dropProbes.map(s => (5000000L + s, docText(s) + " zz9"))
        else Seq.empty)
      feed += data
      mem.addData(data)
      val tb = System.nanoTime()
      q.processAllAvailable()
      val w = (System.nanoTime() - tb) / 1e9
      walls += w
      if (baseline.size < 5) baseline += w
    }
    val streamWall = (System.nanoTime() - t0) / 1e9
    q.stop()
    val streamKept = keptIds().toSet

    // targeted outcomes
    val survivorsRetained =
      survivorProbes.count(r => streamKept.contains(4000000L + r))
    val dupsDropped =
      dropProbes.count(s => !streamKept.contains(5000000L + s))

    // ---- the independent sequential replay ----
    val tr0 = System.nanoTime()
    var repK = (16, 8)
    var repStore = Dedup.signatureStore(seedDf, "doc_id", "text",
      k = repK._1, shingleN = 3).localCheckpoint()
    var repKept: DataFrame = null
    (0 until batches).foreach { b =>
      if (b == 30) {
        val rids = retractIds.toSet
        repKept = repKept.filter(!col("doc_id")
          .isin(rids.toSeq: _*)).localCheckpoint()
        // retract ≡ rebuild from the surviving corpus (the
        // RetractionSpec contract)
        repStore = Dedup.signatureStore(
          repKept.unionByName(seedDf), "doc_id", "text",
          k = repK._1, shingleN = 3).localCheckpoint()
      }
      if (b == 50) {
        repK = (32, 16)
        repStore = Dedup.signatureStore(
          repKept.unionByName(seedDf), "doc_id", "text",
          k = repK._1, shingleN = 3).localCheckpoint()
      }
      val batch = feed(b).toDF("doc_id", "text")
      val surv = Dedup.dedupAgainstStore(batch, "doc_id", "text",
        repStore, k = repK._1, bands = repK._2, shingleN = 3,
        minJaccard = 0.7).localCheckpoint()
      repKept =
        if (repKept == null) surv
        else repKept.unionByName(surv).localCheckpoint()
      repStore = repStore.unionByName(Dedup.signatureStore(surv,
        "doc_id", "text", k = repK._1, shingleN = 3)).localCheckpoint()
    }
    val replayWall = (System.nanoTime() - tr0) / 1e9
    val replayKept = repKept.select("doc_id").as[Long].collect().toSet
    val replayMatch = replayKept == streamKept

    def mean(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1 else xs.sum / xs.size
    val latJson = walls.zipWithIndex.collect {
      case (sec, i) if (i + 1) % 5 == 0 =>
        f"""{"batch":${i + 1},"sec":$sec%.2f}"""
    }.mkString("[", ",", "]")
    val line =
      f"""{"probe":"lifecycle","batches":$batches,"per_batch":$perBatch,"fed":${feed.map(_.size).sum},"stream_wall_sec":$streamWall%.1f,"kept":${streamKept.size},"compactions":${events.mkString("[", ",", "]")},"retracted_ids":${retractIds.length},"retracted_store_rows":$retractedStore,"retracted_docs":$retractedOut,"retract_sec":$retractSec%.2f,"rebuild_sec":$rebuildSec%.2f,"post_retract_probes":{"near_dups_of_retracted_kept":$survivorsRetained,"of":${survivorProbes.length},"near_dups_of_kept_dropped":$dupsDropped,"of_drop":${dropProbes.length}},"first8_mean_sec":${mean(walls.take(8).toSeq)}%.2f,"last8_mean_sec":${mean(walls.takeRight(8).toSeq)}%.2f,"batch_latency":$latJson,"replay_wall_sec":$replayWall%.1f,"replay_kept":${replayKept.size},"replay_match":$replayMatch}"""
    println(line)
    require(replayMatch,
      s"lifecycle replay mismatch: stream=${streamKept.size} " +
        s"replay=${replayKept.size}; " +
        s"onlyStream=${(streamKept -- replayKept).toSeq.sorted.take(10)} " +
        s"onlyReplay=${(replayKept -- streamKept).toSeq.sorted.take(10)}")
    require(survivorsRetained == survivorProbes.length &&
      dupsDropped == dropProbes.length,
      "post-takedown probes misbehaved: " +
        s"$survivorsRetained/${survivorProbes.length} retained, " +
        s"$dupsDropped/${dropProbes.length} dropped")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("lifecycle_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
