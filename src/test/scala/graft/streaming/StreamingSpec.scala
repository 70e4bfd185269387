package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("live tail applies lucene predicate on a stream") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val tail = Streaming.liveTail(stream,
      "event_type:error value:>50", implicitColumn = Some("event_type"))
    val q = tail.writeStream.format("memory").queryName("tail_out")
      .outputMode("append").start()
    mem.addData(
      (t("2024-01-01 00:00:01"), "error", 100.0),
      (t("2024-01-01 00:00:02"), "error", 10.0), // value too low
      (t("2024-01-01 00:00:03"), "click", 999.0)) // wrong type
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM tail_out").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getDouble(2) == 100.0)
  }

  test("windowed rollup aggregates per bucket with watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "svc", "value")
    val roll = Streaming.rollup(stream, "ts", Some("value"),
      stepSeconds = 60, groupBy = Seq("svc"))
    val q = roll.writeStream.format("memory").queryName("roll_out")
      .outputMode("complete").start()
    mem.addData(
      (t("2024-01-01 00:00:10"), "a", 1.0),
      (t("2024-01-01 00:00:50"), "a", 2.0),
      (t("2024-01-01 00:01:10"), "a", 10.0),
      (t("2024-01-01 00:00:30"), "b", 5.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT svc, cnt, sum_value FROM roll_out ORDER BY window_start, svc")
      .as[(String, Long, Double)].collect().toSeq
    q.stop()
    assert(rows == Seq(("a", 2L, 3.0), ("b", 1L, 5.0), ("a", 1L, 10.0)))
  }

  test("rollup with sketches answers quantile/distinct like the raw data") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "svc", "value")
    val roll = Streaming.rollup(stream, "ts", Some("value"),
      stepSeconds = 60, groupBy = Seq("svc"), withSketches = true)
    val q = roll.writeStream.format("memory").queryName("sketch_out")
      .outputMode("complete").start()
    mem.addData(
      (t("2024-01-01 00:00:10"), "a", 1.0),
      (t("2024-01-01 00:00:20"), "a", 2.0),
      (t("2024-01-01 00:00:30"), "a", 3.0),
      (t("2024-01-01 00:00:40"), "a", 2.0))
    q.processAllAvailable()
    val merged = spark.sql("SELECT * FROM sketch_out")
      .agg(
        graft.functions.QuantileSketch
          .quantileMerge(0.5, col("hist_state")).as("p50"),
        graft.functions.QuantileSketch
          .distinctMerge(col("uniq_state")).as("nd"))
      .as[(Double, Long)].collect().head
    q.stop()
    // values 1,2,3,2 → p50 = 2.0 (interpolated exact), 3 distinct
    assert(merged == ((2.0, 3L)))
  }

  test("dedupStream keeps first occurrence per content hash") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "doc_id", "text")
      .withColumn("h", md5(lower(col("text"))))
    val deduped = Streaming.dedupStream(stream, "ts", Seq("h"),
      watermarkDelay = "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    mem.addData(
      (t("2024-01-01 00:00:01"), 1L, "Alpha Doc"),
      (t("2024-01-01 00:00:02"), 2L, "alpha doc"), // dup after normalize
      (t("2024-01-01 00:00:03"), 3L, "another document"))
    q.processAllAvailable()
    mem.addData( // same content arriving within the watermark → dropped
      (t("2024-01-01 00:10:00"), 4L, "ALPHA DOC"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT doc_id FROM dd_out ORDER BY doc_id")
      .as[Long].collect().toSeq
    q.stop()
    assert(rows == Seq(1L, 3L))
  }

  test("dedupStream checkpoint restart CONTINUES the dedup state: a " +
      "key first seen before the stop stays suppressed after it") {
    // the EwmaStreamSpec recovery pattern applied to the BUILT-IN
    // dedup state store (dropDuplicatesWithinWatermark) — the fourth
    // distinct state shape (agg cells, flatMapGroups state, dedup
    // keys); a lost store would re-emit doc 4 as first-seen
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("dd_restart").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    def start() = Streaming.dedupStream(
        mem.toDF().toDF("ts", "doc_id", "text")
          .withColumn("h", md5(lower(col("text")))),
        "ts", Seq("h"), watermarkDelay = "1 hour")
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()

    val q1 = start()
    mem.addData((t("2024-01-01 00:00:01"), 1L, "Alpha Doc"))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start()
    mem.addData(
      (t("2024-01-01 00:10:00"), 4L, "ALPHA DOC"), // dup of lifetime 1
      (t("2024-01-01 00:10:01"), 5L, "a novel document"))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(s"$dir/out")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(rows == Seq(1L, 5L), rows.toString)
  }

  test("dedupStream state stops growing at the watermark horizon; a " +
      "plain dropDuplicates fed the same input keeps growing") {
    implicit val sc = spark.sqlContext
    // event time advances 30 s per micro-batch against a 60 s
    // watermark; 35 of each batch's 50 rows are fresh keys, 15 repeat
    // a fresh key of the batch before. No-data batches are off so
    // eviction runs inside each data batch and every reading is the
    // state after exactly that batch.
    val (batches, perBatch, fresh) = (20, 50, 35)
    def rows(b: Int): Seq[(Timestamp, String)] = (0 until perBatch).map { j =>
      val base = b.toLong * perBatch
      val key = if (j % 10 < 7) base + j else math.max(0L, base - perBatch + j - 7)
      (new Timestamp(1700000000000L + b * 30000L + j * 30000L / perBatch),
        s"k-$key")
    }
    def stateRows(dedup: DataFrame => DataFrame): Seq[Long] = {
      val mem = MemoryStream[(Timestamp, String)]
      val q = dedup(mem.toDF().toDF("ts", "key")).writeStream
        .format("noop").outputMode("update")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("dd_state").toString)
        .start()
      try (0 until batches).map { b =>
        mem.addData(rows(b))
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q.stop()
    }
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val (watermarked, plain) = try (
      stateRows(Streaming.dedupStream(_, "ts", Seq("key"), "60 seconds")),
      stateRows(_.dropDuplicates("key")))
    finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    // the horizon (60 s watermark delay + 60 s expiry) spans about
    // five batches; past it the state holds steady
    assert(watermarked.drop(8).forall(_ <= watermarked(7)),
      watermarked.mkString(", "))
    assert(plain == (1 to batches).map(_.toLong * fresh), plain.mkString(", "))
  }

  test("sessionRollup merges events into gap-bounded sessions") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val stream = mem.toDF().toDF("ts", "user")
    val roll = Streaming.sessionRollup(stream, "ts", Seq("user"),
      gapSeconds = 600, watermarkDelay = "0 seconds")
    val q = roll.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    mem.addData(
      (t("2024-01-01 00:00:00"), "u1"),
      (t("2024-01-01 00:05:00"), "u1"), // within gap → same session
      (t("2024-01-01 00:30:00"), "u1"), // 25 min gap → new session
      (t("2024-01-01 00:00:00"), "u2"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT user, session_start, events FROM sess_out " +
        "ORDER BY user, session_start")
      .as[(String, Timestamp, Long)].collect().toSeq
    q.stop()
    assert(rows == Seq(
      ("u1", t("2024-01-01 00:00:00"), 2L),
      ("u1", t("2024-01-01 00:30:00"), 1L),
      ("u2", t("2024-01-01 00:00:00"), 1L)))
  }

  test("kv rollup counts map keys per window") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Map[String, String])]
    val stream = mem.toDF().toDF("ts", "attrs")
    val roll = Streaming.kvRollup(stream, "ts", "attrs", stepSeconds = 900)
    val q = roll.writeStream.format("memory").queryName("kv_out")
      .outputMode("complete").start()
    mem.addData(
      (t("2024-01-01 00:01:00"), Map("host" -> "a", "env" -> "prod")),
      (t("2024-01-01 00:02:00"), Map("host" -> "a")),
      (t("2024-01-01 00:03:00"), Map("host" -> "b")))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT key, value, cnt FROM kv_out ORDER BY key, value")
      .as[(String, String, Long)].collect().toSeq
    q.stop()
    assert(rows == Seq(("env", "prod", 1L), ("host", "a", 2L),
      ("host", "b", 1L)))
  }

  test("streaming M4 matches the batch downsampler on finalized pixels") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val stream = mem.toDF().toDF("ts", "id", "v")
      .withColumn("s", lit("a"))
    val roll = Streaming.m4Rollup(stream, "ts", "v", "id",
      pixelSeconds = 60, seriesCols = Seq("s"),
      watermarkDelay = "0 seconds")
    val q = roll.writeStream.format("memory").queryName("m4_out")
      .outputMode("append").start()
    val rows = Seq(
      (t("2024-01-01 00:00:05"), 1L, 5.0),
      (t("2024-01-01 00:00:15"), 2L, 9.0),
      (t("2024-01-01 00:00:25"), 3L, 1.0),
      (t("2024-01-01 00:00:35"), 4L, 7.0),
      (t("2024-01-01 00:01:10"), 5L, 4.0),
      (t("2024-01-01 00:01:10"), 6L, 2.0)) // tie second: id decides
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData((t("2024-01-01 01:00:00"), 9L, 0.0)) // finalize windows
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT n, first_v, last_v, min_v, max_v FROM m4_out " +
        "WHERE window_start < timestamp'2024-01-01 00:05:00' " +
        "ORDER BY window_start")
      .as[(Long, Double, Double, Double, Double)].collect().toSeq
    q.stop()
    assert(got == Seq((4L, 5.0, 7.0, 1.0, 9.0), (2L, 4.0, 2.0, 2.0, 4.0)))
    // equal to the batch M4 of the same finalized rows (60 s pixels
    // over [00:00, 00:02))
    val batch = graft.analysis.Downsample.m4(
      rows.toDF("ts", "id", "v").withColumn("s", lit("a")),
      Seq("s"), "ts", "v", "id", 1704067200L, 1704067320L, 2)
      .orderBy("pixel")
      .select("n", "first_v", "last_v", "min_v", "max_v")
      .as[(Long, Double, Double, Double, Double)].collect().toSeq
    assert(batch == got)
  }

  test("sketched kv rollup: bounded state, exact under capacity, top-k") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Map[String, String])]
    val stream = mem.toDF().toDF("ts", "attrs")
    val roll = Streaming.kvRollupSketched(stream, "ts", "attrs",
      stepSeconds = 900, capacity = 8, maxValuesPerKey = 2)
    val q = roll.writeStream.format("memory").queryName("kvs_out")
      .outputMode("append").start()
    mem.addData(
      (t("2024-01-01 00:01:00"), Map("host" -> "a")),
      (t("2024-01-01 00:02:00"), Map("host" -> "a")),
      (t("2024-01-01 00:03:00"), Map("host" -> "b")),
      (t("2024-01-01 00:04:00"), Map("host" -> "b")),
      (t("2024-01-01 00:05:00"), Map("host" -> "b")),
      (t("2024-01-01 00:06:00"), Map("host" -> "c")),
      (t("2024-01-01 00:07:00"), Map("env" -> "prod")))
    q.processAllAvailable()
    // advance the watermark so the 00:00 window finalizes (append mode)
    mem.addData((t("2024-01-01 01:00:00"), Map("host" -> "z")))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT key, value, cnt FROM kvs_out ORDER BY key, cnt DESC, value")
      .as[(String, String, Long)].collect().toSeq
    q.stop()
    // distinct values (3) fit capacity 8 -> counts exact; only the top
    // 2 per key emit, c is cut
    assert(rows == Seq(("env", "prod", 1L),
      ("host", "b", 3L), ("host", "a", 2L)))
    val e = intercept[IllegalArgumentException] {
      Streaming.kvRollupSketched(stream, "ts", "attrs",
        capacity = 4, maxValuesPerKey = 9)
    }
    assert(e.getMessage.contains("capacity"))
  }
}
