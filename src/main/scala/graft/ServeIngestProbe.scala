package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Ingest-while-serving probe — the production posture the round-15
  * evidence measured only in halves: a continuously-running
  * [[graft.streaming.IngestStream]] (foreachBatch jobs arriving every
  * few hundred ms) SHARING the session with the dashboard fan-out
  * (the 10 [[Bench.DashboardSet]] chart tiles fired concurrently,
  * each from its own FAIR pool — the Server request shape). Records
  * per-tile p50/p95 latency over N fan-out rounds, first with the
  * host idle, then with ingest running, so "tile latency stays
  * bounded under ingest" is a measured fact: FAIR scheduling
  * round-robins task slots between the ingest job's pool and the
  * tile pools instead of letting either starve the other.
  *
  * Prints one JSON line (and echoes to serve_ingest_out.json):
  * {"probe":"serve_ingest","rounds":N,
  *  "idle":{"wall_sec":…,"tiles":{name:{"p50":…,"p95":…}}},
  *  "ingest":{…same…,"ingest_batches":…,"ingest_docs":…}}
  *
  * Run: sbt "runMain graft.ServeIngestProbe"
  * (SPARK_GRAFT_SF_DIR for the tile data dir, default sf0.1;
  * SPARK_GRAFT_SERVE_ROUNDS to resize, default 8). */
object ServeIngestProbe {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    // explicit types: with spark.implicits._ imported below, untyped
    // vals here trip scalac's forward-reference inference (the
    // StreamLoadProbe lesson)
    val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds: Int =
      sys.env.getOrElse("SPARK_GRAFT_SERVE_ROUNDS", "8").toInt
    val spark: org.apache.spark.sql.SparkSession = LocalSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val tiles = Bench.DashboardSet.filter(SparkEntry.queries.contains)

    // untimed warm-up: session costs + one pass of every tile
    try {
      SparkEntry.queries.get("q1_agg").foreach(f =>
        f(spark, sfDir).write.format("noop").mode("overwrite").save())
      tiles.foreach(n => SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    } catch { case _: Throwable => () }

    /** One dashboard fan-out: all tiles at once, each in its own FAIR
      * pool; returns (wall, per-tile sec; -1 = failed/timed out). */
    def fanOut(): (Double, Map[String, Double]) = {
      val times =
        new java.util.concurrent.ConcurrentHashMap[String, Double]()
      val t0 = System.nanoTime()
      val threads = tiles.map { n =>
        val t = new Thread(() => {
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"dash-$n")
          val tq = System.nanoTime()
          try {
            SparkEntry.queries(n)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            times.put(n, (System.nanoTime() - tq) / 1e9)
          } catch { case _: Throwable => times.put(n, -1.0) }
        }, s"serve-$n")
        t.setDaemon(true); t.start(); t
      }
      val deadline = System.nanoTime() + 300L * 1000000000L
      threads.foreach(t =>
        t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
      tiles.filterNot(times.containsKey)
        .foreach(times.putIfAbsent(_, -1.0))
      import scala.jdk.CollectionConverters._
      ((System.nanoTime() - t0) / 1e9, times.asScala.toMap)
    }

    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

    def measure(tag: String): (Double, String) = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      val byTile = tiles.map(_ ->
        scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
      (0 until rounds).foreach { _ =>
        val (w, ts) = fanOut()
        walls += w
        ts.foreach { case (n, s) => if (s >= 0) byTile(n) += s }
      }
      val tileJson = tiles.map { n =>
        val xs = byTile(n).toSeq
        if (xs.isEmpty) s""""$n":{"p50":-1,"p95":-1,"ok":0}"""
        else f""""$n":{"p50":${pct(xs, 0.5)}%.3f,"p95":${pct(xs, 0.95)}%.3f,"ok":${xs.size}}"""
      }.mkString("{", ",", "}")
      (walls.sum / walls.size,
        f""""$tag":{"wall_sec_avg":${walls.sum / walls.size}%.3f,"tiles":$tileJson""")
    }

    // ---- phase 1: idle host (no ingest)
    val (idleWall, idleJson) = measure("idle")

    // ---- phase 2: the same fan-out with IngestStream running on the
    // shared session, fed continuously by a background thread
    val root = java.nio.file.Files
      .createTempDirectory("serve_ingest").toString
    graft.pipeline.Manifest.append(spark, s"$root/store",
      graft.pipeline.Dedup.signatureStore(
        Seq((0L, "seed corpus document about nothing in particular zero"))
          .toDF("doc_id", "text"), "doc_id", "text"),
      -1L)
    def docText(i: Long): String =
      (0 until 12).map(w => s"w${i * 12 + w}").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val fed = new java.util.concurrent.atomic.AtomicLong()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // exact processed count via a listener accumulating EVERY
    // progress event — recentProgress retains only the last
    // spark.sql.streaming.numRecentProgressUpdates (default 100)
    // entries, and at ~300 ms batches a multi-minute window exceeds
    // 100 batches, silently undercounting (round-16 advice). Keyed by
    // query id so a stray query on the shared session can't inflate.
    val processedByQuery = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.atomic.AtomicLong]()
    val progressListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit = {
          processedByQuery
            .computeIfAbsent(e.progress.id,
              _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(e.progress.numInputRows)
          ()
        }
        override def onQueryTerminated(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
    spark.streams.addListener(progressListener)
    // removeListener rides a finally: if the feeder or a measured
    // fan-out throws, a listener left on the SHARED session would keep
    // accumulating counts for every later query in the process
    // (round-17 advice)
    val (ingWall, ingJson, batches, processed) = try {
      val q = graft.streaming.IngestStream.startManifest(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        s"$root/store", s"$root/out", s"$root/ckpt",
        k = 16, bands = 8, minJaccard = 0.7)
      val feeder = new Thread(() => {
        val perBatch = 2000
        while (!stop.get()) {
          val base = fed.getAndAdd(perBatch.toLong)
          mem.addData((0 until perBatch).map(j =>
            (base + j, docText(base + j))))
          Thread.sleep(300L)
        }
      }, "serve-ingest-feeder")
      feeder.setDaemon(true); feeder.start()
      // let the stream reach steady state before measuring
      Thread.sleep(3000L)
      val (ingWall, ingJson) = measure("ingest")
      stop.set(true); feeder.join(5000L)
      val batches =
        Option(q.lastProgress).map(_.batchId + 1).getOrElse(-1L)
      q.stop()
      // PROCESSED rows, not queued: the feeder enqueues regardless of
      // whether the stream keeps up, so fed.get() alone would overstate
      // the ingest work that actually ran alongside the fan-out. The
      // listener bus is async — poll until the total stabilizes (two
      // consecutive 200 ms reads equal) before trusting it.
      def readProcessed(): Long = Option(processedByQuery.get(q.id))
        .map(_.get()).getOrElse(0L)
      var processed = readProcessed()
      var settled = false
      val drainDeadline = System.nanoTime() + 10L * 1000000000L
      while (!settled && System.nanoTime() < drainDeadline) {
        Thread.sleep(200L)
        val again = readProcessed()
        settled = again == processed
        processed = again
      }
      (ingWall, ingJson, batches, processed)
    } finally spark.streams.removeListener(progressListener)

    val line =
      f"""{"probe":"serve_ingest","rounds":$rounds,"cpus":$cpus,$idleJson},$ingJson,"ingest_batches":$batches,"ingest_docs_fed":${fed.get()},"ingest_docs_processed":$processed},"wall_ratio":${ingWall / math.max(idleWall, 1e-9)}%.2f,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("serve_ingest_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
