package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Sustained-load streaming probe: drives ~1M generated events through
  * the stateful streaming operators and records the two numbers the
  * restart specs can't show — THROUGHPUT (rows/sec across the whole
  * run) and STATE SIZE over time (`StreamingQueryProgress.
  * stateOperators`: numRowsTotal + memoryUsedBytes, sampled at each
  * quarter of the run). Four scenarios make the bounded-state claims
  * measured rather than by-construction:
  *
  *   - dedup_watermarked — [[graft.streaming.Streaming.dedupStream]]
  *     (dropDuplicatesWithinWatermark): state rows must PLATEAU near
  *     (watermark horizon × key rate) as eviction keeps pace with
  *     ingest.
  *   - dedup_naive — the same feed through a plain dropDuplicates
  *     (no watermark): the comparator whose state GROWS with every
  *     distinct key ever seen — the failure mode the watermarked
  *     operator exists to prevent.
  *   - novelty — [[graft.streaming.NoveltyStream.monitor]]: per-key
  *     bloom state is fixed-size by construction; the probe shows
  *     memoryUsedBytes flat from first quarter to last under 1M docs.
  *   - ingest_store — [[graft.streaming.IngestStream]]: per-batch
  *     latency as the persisted signature store grows (the state
  *     lives in parquet, so the curve is the store scan, not the
  *     state store) — the measured basis for the compaction guidance
  *     in the operator's scaladoc.
  *
  * Prints one JSON line per scenario (and echoes to
  * stream_load_out.json). Feeds in 100 micro-batches so the watermark
  * advances and eviction actually runs — one giant batch would show a
  * single state snapshot and no eviction at all.
  *
  * Run: sbt "runMain graft.StreamLoadProbe [scenario ...]"
  * (SPARK_GRAFT_STREAM_ROWS to resize; default 1,000,000 per
  * scenario; name args filter to a subset). */
object StreamLoadProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val totalRows: Int =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "1000000").toInt
    val spark: org.apache.spark.sql.SparkSession = LocalSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext

    val chunks = 100
    require(totalRows >= chunks * 10,
      s"need at least ${chunks * 10} rows (got $totalRows) — " +
        "perChunk must stay positive for the timestamp arithmetic")
    val perChunk = totalRows / chunks
    val out = new StringBuilder
    val wanted: String => Boolean =
      if (args.isEmpty) _ => true else args.toSet

    def stateNow(q: StreamingQuery): (Long, Long) = {
      val ops = Option(q.lastProgress).map(_.stateOperators)
        .getOrElse(Array.empty)
      (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }

    /** Feed `chunks` micro-batches through the running query, sampling
      * state at each quarter; returns the JSON line. */
    def scenario(name: String, feedChunk: Int => Unit,
        q: StreamingQuery): String = {
      val samples = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long)]
      val t0 = System.nanoTime()
      (0 until chunks).foreach { i =>
        feedChunk(i)
        q.processAllAvailable()
        if ((i + 1) % (chunks / 4) == 0) {
          val (rows, bytes) = stateNow(q)
          samples += (((i + 1) * 100 / chunks, rows, bytes))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      val st = samples.map { case (pct, r, b) =>
        s"""{"pct":$pct,"state_rows":$r,"state_bytes":$b}"""
      }.mkString("[", ",", "]")
      // report what was actually FED: perChunk truncates, so a
      // totalRows not divisible by `chunks` feeds fewer rows than
      // requested — rows_per_sec off the requested count would
      // overstate throughput (round-15 advice)
      val fed = chunks.toLong * perChunk
      f"""{"probe":"stream_load","scenario":"$name","rows":$fed,"wall_sec":$wall%.1f,"rows_per_sec":${fed / wall}%.0f,"state":$st}"""
    }

    def ckpt(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"stream_load_$tag").toString

    // event time advances 30 s per chunk; 60 s watermark → the horizon
    // spans ~3 chunks, so eviction must keep the watermarked state flat
    // while the naive twin accumulates every distinct key of the run.
    // 70% of each chunk's rows are fresh keys, 30% repeat keys from the
    // chunk just before (inside the horizon — real dedup work, and the
    // emitted stream is visibly smaller than the input).
    def dedupRows(chunk: Int): Seq[(Timestamp, String)] = {
      val base = chunk.toLong * perChunk
      (0 until perChunk).map { j =>
        val ts = new Timestamp(
          1700000000000L + chunk.toLong * 30000L + j * 30000L / perChunk)
        // repeats reference position j-7 of the PREVIOUS chunk —
        // (j-7) % 10 < 7, so that position emitted a FRESH key (a
        // same-j reference named a key that was never emitted: the
        // first cut measured a ~100%-unique feed, caught in review
        // against the committed distinct-key counts)
        val key =
          if (j % 10 < 7) s"k-${base + j}"
          else s"k-${math.max(0L, base - perChunk + j - 7)}"
        (ts, key)
      }
    }

    // watermarked dedup
    if (wanted("dedup_watermarked")) {
      val mem = MemoryStream[(Timestamp, String)]
      val deduped = graft.streaming.Streaming.dedupStream(
        mem.toDF().toDF("ts", "key"), "ts", Seq("key"), "60 seconds")
      val q = deduped.writeStream.format("noop")
        .option("checkpointLocation", ckpt("wm")).start()
      val line = scenario("dedup_watermarked",
        i => { mem.addData(dedupRows(i)); () }, q)
      println(line); out.append(line).append('\n')
    }

    // naive comparator: same feed, no watermark eviction
    if (wanted("dedup_naive")) {
      val mem = MemoryStream[(Timestamp, String)]
      val naive = mem.toDF().toDF("ts", "key").dropDuplicates("key")
      val q = naive.writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ckpt("naive")).start()
      val line = scenario("dedup_naive",
        i => { mem.addData(dedupRows(i)); () }, q)
      println(line); out.append(line).append('\n')
    }

    // novelty monitor: 32 keys (full local[32] fold parallelism), 60 s
    // windows, 3-grams, the default 128 KiB bloom per key. Docs are 12
    // words drawn from a slowly-growing pool → a steady novel/recrawl
    // mix; the bloom is fixed-size so state bytes must sit flat.
    def novRows(chunk: Int): Seq[(Timestamp, String, String)] = {
      val base = chunk.toLong * perChunk
      (0 until perChunk).map { j =>
        val ts = new Timestamp(
          1700000000000L + chunk.toLong * 30000L + j * 30000L / perChunk)
        val key = s"src-${j % 32}"
        val docId = base + j
        val words = (0 until 12).map { w =>
          // ~70% of grams recur (small offsets), ~30% are fresh
          val v = if ((docId + w) % 10 < 7) (docId + w) % 5000
            else docId * 12 + w
          s"w$v"
        }
        (ts, key, words.mkString(" "))
      }
    }
    if (wanted("novelty")) {
      val mem = MemoryStream[(Timestamp, String, String)]
      val nov = graft.streaming.NoveltyStream.monitor(
        mem.toDF().toDF("ts", "k", "txt"), "ts", "k", "txt",
        windowSeconds = 60, gramN = 3)
      val q = nov.writeStream.format("noop")
        .option("checkpointLocation", ckpt("nov")).start()
      val line = scenario("novelty",
        i => { mem.addData(novRows(i)); () }, q)
      println(line); out.append(line).append('\n')
    }

    // continuous-ingest dedup (IngestStream): the store GROWS by each
    // batch's survivors, so per-batch wall is O(current store) — the
    // probe records the latency curve to make that growth (and the
    // compaction trade it implies) a measured fact rather than a
    // scaladoc claim. 30% of each batch duplicates the previous
    // batch's docs, so the match path does real work. Three shapes:
    //   ingest_store   — 40 small batches, no maintenance (the
    //                    round-15 drift curve's scenario)
    //   ingest_compact — the same feed, but the query is stopped at
    //                    the midpoint, both artifacts compacted
    //                    (IngestStream.compactManifest), and the query
    //                    restarted from its checkpoint: per-batch wall
    //                    must drop back toward the early-run numbers
    //                    and kept-doc accounting must close identically
    //   ingest_big     — production-shaped ~25k-doc batches: the
    //                    round-15 567 docs/sec figure was micro-batch-
    //                    overhead-bound at 1.25k docs/batch; the two
    //                    batch sizes together decompose per-batch wall
    //                    into fixed overhead vs real per-doc work
    //   ingest_policy  — the CADENCE under test, not the operator:
    //                    ≥80 batches; every `policyCheckEvery` batches
    //                    the query stops (the boundary IngestStream
    //                    owns anyway) and IngestStream.maybeCompact —
    //                    the policy, not a hard-coded midpoint —
    //                    decides. The curve shows per-batch wall flat
    //                    across the run; the events array records WHY
    //                    each compaction fired.
    def ingestScenario(name: String, ingestBatches: Int, perBatch: Int,
        compactAt: Option[Int], policyCheckEvery: Int = 0): Unit = {
      val root = java.nio.file.Files
        .createTempDirectory(s"ingest_$name").toString
      import spark.implicits._
      val seedDf =
        Seq((0L, "seed corpus document about nothing in particular zero"))
          .toDF("doc_id", "text")
      graft.pipeline.Manifest.append(spark, s"$root/store",
        graft.pipeline.Dedup.signatureStore(seedDf, "doc_id", "text"),
        -1L)
      // fully distinct token windows — a bounded vocab here would
      // manufacture EXACT duplicate docs at wrap distance (measured:
      // a %50000 vocab made docs 12,500 apart identical and the store
      // correctly dropped 37.5k of 50k docs, confounding the rate)
      def docText(i: Long): String =
        (0 until 12).map(w => s"w${i * 12 + w}").mkString(" ")
      val mem = MemoryStream[(Long, String)]
      def start(): StreamingQuery =
        graft.streaming.IngestStream.startManifest(
          mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$root/store", s"$root/out", s"$root/ckpt",
          k = 16, bands = 8, minJaccard = 0.7)
      var q = start()
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      // baseline = walls since the last compaction (or run start) —
      // the denominator of the policy's drift arm
      val baseline = scala.collection.mutable.ArrayBuffer.empty[Double]
      val events = scala.collection.mutable.ArrayBuffer.empty[String]
      var compactSec = -1.0
      val sampleEvery =
        math.max(ingestBatches / (if (policyCheckEvery > 0) 16 else 8), 1)
      val t0 = System.nanoTime()
      (0 until ingestBatches).foreach { b =>
        if (compactAt.contains(b)) {
          // the maintenance window a production deployment schedules:
          // stop, compact both artifacts (guarded against uncommitted
          // batches via the checkpoint), restart from the offsets
          q.stop()
          val tc = System.nanoTime()
          graft.streaming.IngestStream.compactManifest(spark,
            s"$root/store", s"$root/out", s"$root/ckpt")
          compactSec = (System.nanoTime() - tc) / 1e9
          q = start()
        }
        if (policyCheckEvery > 0 && b > 0 && b % policyCheckEvery == 0) {
          // the POLICY decides at the stop/restart boundary — the
          // integrated verb (evaluate + compact in one)
          q.stop()
          val tc = System.nanoTime()
          val d = graft.streaming.IngestStream.maybeCompact(spark,
            s"$root/store", s"$root/out", s"$root/ckpt",
            maxPartitions = 24,
            recentWalls = walls.takeRight(5).toSeq,
            baselineWalls = baseline.take(5).toSeq, maxDrift = 1.25)
          if (d.compact) {
            events += f"""{"batch":$b,"partitions":${d.partitions},"drift":${d.drift}%.2f,"reason":"${d.reason}","compact_sec":${(System.nanoTime() - tc) / 1e9}%.2f}"""
            baseline.clear()
          }
          q = start()
        }
        val base = b.toLong * perBatch
        mem.addData((0 until perBatch).map { j =>
          val id = base + j
          // ~30% re-sends of the PREVIOUS batch's content (id
          // shifted). The referenced position j+3 satisfies
          // (j+3) % 10 >= 3, so the previous batch emitted it as an
          // ORIGINAL — a re-send position would reference a text that
          // never entered the store and nothing would match
          if (j % 10 < 3 && j < perBatch - 5 && b > 0)
            (1000000L + id, docText(base - perBatch + j + 3))
          else (id, docText(id))
        })
        val tb = System.nanoTime()
        q.processAllAvailable()
        val w = (System.nanoTime() - tb) / 1e9
        walls += w
        if (baseline.size < 5) baseline += w
      }
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      val kept = graft.pipeline.Manifest.rows(spark, s"$root/out").count()
      val fed = ingestBatches.toLong * perBatch
      val latJson = walls.zipWithIndex.collect {
        case (sec, i) if (i + 1) % sampleEvery == 0 =>
          f"""{"batch":${i + 1},"sec":$sec%.2f}"""
      }.mkString("[", ",", "]")
      val compactJson = compactAt.map(b =>
        f""","compact_at_batch":$b,"compact_sec":$compactSec%.2f""")
        .getOrElse("")
      def mean(xs: Seq[Double]): Double =
        if (xs.isEmpty) -1 else xs.sum / xs.size
      val policyJson =
        if (policyCheckEvery == 0) ""
        else f""","batches":$ingestBatches,"check_every":$policyCheckEvery,"first8_mean_sec":${mean(walls.take(8).toSeq)}%.2f,"last8_mean_sec":${mean(walls.takeRight(8).toSeq)}%.2f,"compactions":${events.mkString("[", ",", "]")}"""
      val line =
        f"""{"probe":"stream_load","scenario":"$name","rows":$fed,"per_batch":$perBatch,"wall_sec":$wall%.1f,"rows_per_sec":${fed / wall}%.0f,"kept":$kept$compactJson$policyJson,"batch_latency":$latJson}"""
      println(line); out.append(line).append('\n')
    }
    if (wanted("ingest_store"))
      ingestScenario("ingest_store", 40,
        math.max(totalRows / 20 / 40, 100), None)
    if (wanted("ingest_compact"))
      ingestScenario("ingest_compact", 40,
        math.max(totalRows / 20 / 40, 100), Some(20))
    if (wanted("ingest_big"))
      ingestScenario("ingest_big", 20,
        math.max(totalRows / 40, 100), None)
    if (wanted("ingest_policy"))
      ingestScenario("ingest_policy", 80,
        math.max(totalRows / 20 / 80, 100), None, policyCheckEvery = 10)

    try java.nio.file.Files.write(
      java.nio.file.Paths.get("stream_load_out.json"),
      out.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
