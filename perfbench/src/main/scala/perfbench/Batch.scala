package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{PipelineQueries, SparkEntry}
import graft.pipeline.{Dedup, Manifest}
import graft.streaming.IngestStream

/** The `batch` workload: one client runs a fixed job list serially,
  * resetting caches and the components memo before each pass (the
  * program's Bench method). Query jobs come from `SparkEntry.queries` and
  * run through the noop sink; the ingest job drives
  * `IngestStream.startManifest` through a fixed feed, one micro-batch at a
  * time. */
object Batch {
  /** The per-row text kernels (curation, DSIR, Drain patterns) and the
    * connected-components dedup loop. */
  val Queries: Seq[String] = Seq("q79_curate", "q89_dsir", "q30_patterns",
    "q66_dedup_clusters")
  /** The streaming job: seed a Manifest store with a corpus, start the
    * stream, commit `IngestBatches` micro-batches of `IngestDocs`
    * documents (30% re-sends of the corpus), stop. */
  val IngestJob = "ingest_stream"
  val IngestBatches = 2
  val IngestDocs = 500
  val CorpusDocs = 1000
  val ResendShare = 0.3
  val Jobs: Seq[String] = Queries :+ IngestJob

  private def text(r: SplittableRandom): String =
    Array.fill(12)("w" + r.nextInt(1 << 20)).mkString(" ")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)

  /** The ingest job's stream over a seeded store, with its progress log.
    * The store is seeded with a corpus before the stream starts, and every
    * re-send copies a corpus document under a new id, so the exact kept
    * set holds whatever the micro-batch boundaries are: every original is
    * kept, every re-send is dropped (within-batch duplicates never occur,
    * since originals are distinct random texts). */
  final class Stream(spark: SparkSession, root: Path, seed: Long) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    private val rnd = new SplittableRandom(seed)
    private val corpus: Vector[String] = Vector.fill(CorpusDocs)(text(rnd))
    private val outDir: String = root.resolve("out").toString
    private val storeDir = root.resolve("store").toString
    deleteTree(root)
    Manifest.append(spark, storeDir, Dedup.signatureStore(
      corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "doc_id", "text"), -1L)
    private val mem = MemoryStream[(Long, String)]
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.add(e.progress)
    }
    spark.streams.addListener(listener)
    val query = IngestStream.startManifest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", storeDir, outDir, root.resolve("ckpt").toString)
    private var nextId = 1000000L

    /** Offer `n` documents; returns the ids of the originals among them. */
    def feed(n: Int): Seq[Long] = {
      val originals = ArrayBuffer.empty[Long]
      val docs = (0 until n).map { _ =>
        nextId += 1
        if (rnd.nextDouble() < ResendShare)
          (nextId, corpus(rnd.nextInt(corpus.size)))
        else { originals += nextId; (nextId, text(rnd)) }
      }
      mem.addData(docs)
      originals.toSeq
    }

    def stop(): Unit = try query.stop()
      finally spark.streams.removeListener(listener)

    def keptIds(): Seq[Long] = Manifest.rows(spark, outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
  }

  /** Per-micro-batch means of the stream's progress durations. */
  def streamMetrics(batches: Seq[StreamingQueryProgress])
      : Map[String, Double] = {
    def mean(f: StreamingQueryProgress => Double): Double =
      if (batches.isEmpty) 0 else batches.map(f).sum / batches.size
    def ms(key: String)(p: StreamingQueryProgress): Double =
      p.durationMs.getOrDefault(key, 0L).toDouble
    Map("stream.trigger_ms" -> mean(ms("triggerExecution")),
      "stream.add_batch_ms" -> mean(ms("addBatch")),
      "stream.plan_ms" -> mean(ms("queryPlanning")),
      "stream.wal_ms" -> mean(ms("walCommit")),
      "stream.rows_per_batch" -> mean(_.numInputRows.toDouble),
      "stream.batches" -> batches.size.toDouble)
  }

  def resetPass(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    PipelineQueries.resetMemo()
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => Answers.num(d)
    case f: Float => Answers.num(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${cell(k)}->${cell(x)}" }.sorted
        .mkString("{", ",", "}")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  /** Digest of a job's output as a set of rows (the oracle convention:
    * rows compared after sorting, floats rounded). */
  def digest(df: DataFrame): (String, Long) = {
    val rows = df.collect().map(r =>
      df.columns.zip(r.toSeq.map(cell)).map { case (c, v) => s"$c=$v" }
        .mkString("|")).sorted
    (Answers.digest(rows.toSeq), rows.length.toLong)
  }

  /** A built job: building did what precedes the run (for a query, the
    * query function up to its returned DataFrame, eager driver work
    * included; for the ingest job, seeding the store and starting the
    * stream); `run` drives it to the end; `output` does the same and
    * returns the output's digest and row count. */
  trait Built {
    def run(): Unit
    def output(): (String, Long)
    /** Progress of every committed micro-batch (the ingest job only). */
    def progress: Seq[StreamingQueryProgress] = Nil
  }

  def build(spark: SparkSession, dir: String, work: Path, name: String)
      : Built =
    if (name == IngestJob) new Built {
      private val root =
        work.resolve(s"batch-ingest-${ProcessHandle.current.pid}")
      private val s = new Stream(spark, root, Data.Seed)
      private def feed(): Seq[Long] =
        try (1 to IngestBatches).flatMap { _ =>
          val originals = s.feed(IngestDocs)
          s.query.processAllAvailable()
          originals
        } finally s.stop()
      def run(): Unit = try feed() finally deleteTree(root)
      override def progress: Seq[StreamingQueryProgress] =
        s.progress.asScala.toSeq
      // the kept set must be exactly the originals, each once
      def output(): (String, Long) = try {
        val originals = feed()
        val kept = s.keptIds().sorted
        (if (kept == originals.sorted) Answers.digest(kept.map(_.toString))
          else "wrong", kept.size.toLong)
      } finally deleteTree(root)
    } else new Built {
      private val df = SparkEntry.queries(name)(spark, dir)
      def run(): Unit = df.write.format("noop").mode("overwrite").save()
      def output(): (String, Long) = digest(df)
    }

  /** Untimed checking pass: each job's output digest against the
    * committed one. Returns the names of jobs that failed or disagreed,
    * and the output row count of every job that answered. */
  def check(spark: SparkSession, dir: String, work: Path,
      expected: Map[String, Seq[String]]): (Seq[String], Map[String, Long]) = {
    resetPass(spark)
    val outputs = Jobs.map { n =>
      n -> (try Some(build(spark, dir, work, n).output())
        catch { case _: Exception => None })
    }
    (outputs.collect { case (n, o) if !o.exists(x =>
        expected.get(n).exists(_.contains(x._1))) => n },
      outputs.collect { case (n, Some((_, rows))) => n -> rows }.toMap)
  }

  val MinPasses = 2

  /** Timed passes: at least `MinPasses`, then more while `--seconds` is
    * not used up. Each job's time is its fastest pass (the program's Bench
    * method), and the CPU figure is the pass that used least, so a burst
    * of host noise or JIT compilation in one pass does not count. */
  def run(env: Env, args: Args, dir: String,
      expected: Map[String, Seq[String]]): Outcome = {
    val spark = env.spark
    val c0 = System.nanoTime()
    val (wrong, _) = check(spark, dir, args.work, expected)
    val checkS = (System.nanoTime() - c0) / 1e9
    val jobMs = ArrayBuffer.empty[(String, Double)]
    val passS = ArrayBuffer.empty[Double]
    val passCpuMs = ArrayBuffer.empty[Double]
    var failed = 0L
    val t0 = System.nanoTime()
    while (passS.size < MinPasses ||
        System.nanoTime() - t0 < args.seconds * 1000000000L) {
      resetPass(spark)
      val cpu0 = Host.processCpuMs()
      val p0 = System.nanoTime()
      Jobs.foreach { n =>
        val j0 = System.nanoTime()
        try {
          build(spark, dir, args.work, n).run()
          jobMs += n -> (System.nanoTime() - j0) / 1e6
        } catch { case _: Exception => failed += 1 }
      }
      passS += (System.nanoTime() - p0) / 1e9
      passCpuMs += Host.processCpuMs() - cpu0
    }
    val heapMb = Host.heapLiveMb()
    val best = Jobs.map(n => n -> jobMs.collect { case (`n`, ms) => ms }
      .minOption.getOrElse(Double.NaN))
    val bestMs = best.map(_._2).sum
    Outcome(Seq(
      ("latency_ms", bestMs / Jobs.size, "ms"),
      ("throughput_per_s", Jobs.size / (bestMs / 1000), "1/s"),
      ("cpu_ms_per_op", passCpuMs.min / Jobs.size, "ms"),
      ("heap_live_mb", heapMb, "MB")),
      attempted = jobMs.size + failed + Jobs.size,
      failed = failed + wrong.size,
      notes = Seq("batch_s" -> Answers.num(bestMs / 1000),
        "rss_peak_mb" -> Answers.num(Host.rssPeakMb()),
        "passes_s" -> passS.map(Answers.num).mkString("[", ",", "]"),
        "warmup_s" -> Answers.num(checkS),
        "wrong_jobs" -> wrong.mkString(" "),
        "job_ms" -> best.map { case (n, ms) => s"$n=${Answers.num(ms)}" }
          .mkString(" ")))
  }

  /** Expectation mode: every job's digest, and each query's output as
    * parquet for crosscheck.py, next to its DuckDB oracle. */
  def expect(env: Env, args: Args, dir: String): Outcome = {
    val spark = env.spark
    val dump = args.work.resolve("expect")
    Files.createDirectories(dump)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = Files.newBufferedWriter(dump.resolve("batch.jsonl"), UTF_8)
    resetPass(spark)
    val digests = try Jobs.map { n =>
      val (d, rows) = build(spark, dir, args.work, n).output()
      val line = mapper.createObjectNode().put("job", n).put("rows", rows)
      if (n != IngestJob) {
        val out = dump.resolve(s"batch-out/$n").toString
        SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(out)
        line.put("out", out).put("oracle", SparkEntry.oracleSql.get(n).orNull)
      }
      w.write(mapper.writeValueAsString(line)); w.newLine()
      n -> Seq(d)
    } finally w.close()
    Answers.save(dump.resolve("batch.tsv"),
      s"batch job output digests (data v${Data.Version})", digests)
    Outcome(Nil, Jobs.size, digests.count(_._2 == Seq("wrong")).toLong)
  }
}
