package graft.streaming

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.pipeline.{Dedup, Manifest}

/** The continuous-ingest lifecycle over a REAL file source: documents
  * land as JSON files, each micro-batch dedups against the persisted
  * signature store and appends its survivors' rows
  * ([[IngestStream.startManifest]]) — then the query is stopped,
  * restarted, and finally CRASH-REPLAYED (newest checkpoint commit
  * marker deleted) to prove the batchId-keyed upserts make
  * at-least-once delivery effectively exactly-once. */
class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def writeFile(dir: String, name: String,
      lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, Paths.get(dir, name))
  }

  private def doc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text"}"""

  test("file-source ingest: batches dedup against the growing store, " +
      "the store survives restart, and a crash-replay rewrites " +
      "instead of duplicating") {
    val root = Files.createTempDirectory("ingest_stream").toString
    val inDir = s"$root/in"
    val storeDir = s"$root/store"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()

    // seed store: the already-kept corpus
    Manifest.append(spark, storeDir, Dedup.signatureStore(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "completely different text about spark query engines and shuffles"))
      .toDF("doc_id", "text"), "doc_id", "text"), -1L)

    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def start() = IngestStream.startManifest(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(inDir),
      "doc_id", "text", storeDir, outDir, ckpt,
      k = 16, bands = 8, minJaccard = 0.5)

    def survivorsOf(batch: Long): Set[Long] =
      Manifest.rows(spark, outDir).filter(col("batch") === batch)
        .select("doc_id").as[Long].collect().toSet

    // ---- lifetime 1, batch 0: a near-dup of seed doc 1 (dropped
    // against the SEED rows) + two fresh docs (kept, appended)
    val q1 = start()
    writeFile(inDir, "b0.json", Seq(
      doc(10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa xx1"),
      doc(11L, "a fresh second-batch document about watermarks and state stores"),
      doc(12L, "another fresh second-batch piece mentioning parquet bucketing")))
    q1.processAllAvailable()
    assert(survivorsOf(0L) == Set(11L, 12L))
    q1.stop()

    // ---- lifetime 2 (RESTART): a near-dup of batch-0 survivor 11
    // is dropped — its match lives only in the batch-0 store append,
    // which the restarted query must see — plus a near-dup of the
    // seed (dropped) and one fresh doc (kept)
    writeFile(inDir, "b1.json", Seq(
      doc(20L, "a fresh second-batch document about watermarks and state stores yy2"),
      doc(21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa zz3"),
      doc(22L, "genuinely new third batch content on codegen and tungsten")))
    val q2 = start()
    q2.processAllAvailable()
    assert(survivorsOf(1L) == Set(22L))
    q2.stop()

    val keptBefore = Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keptBefore == Seq(11L, 12L, 22L))
    val storeBefore = Manifest.rows(spark, storeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(storeBefore == Seq(1L, 2L, 11L, 12L, 22L))

    // ---- lifetime 3 (CRASH-REPLAY): delete the newest commit marker
    // so the restart re-runs batch 1 — at-least-once delivery. The
    // replay reads a store that already CONTAINS batch 1's own rows
    // from the first attempt; the own-batch exclusion must keep doc
    // 22 from matching itself, and the upsert-by-value commits must
    // leave every artifact row-for-row equivalent, not duplicated.
    val commits = Paths.get(ckpt, "commits")
    import scala.jdk.CollectionConverters._
    val newestCommit = Files.list(commits).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newestCommit)
    // the Hadoop local FS keeps a .N.crc sidecar per commit file —
    // left behind, the replay's commit rename fails on it
    Files.deleteIfExists(commits.resolve(
      s".${newestCommit.getFileName}.crc"))
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    assert(survivorsOf(1L) == Set(22L))
    assert(Manifest.rows(spark, outDir)
      .select("doc_id").as[Long].collect().sorted.toSeq == keptBefore)
    assert(Manifest.rows(spark, storeDir)
      .select("doc_id").as[Long].collect().sorted.toSeq == storeBefore)
  }

  test("a pre-sz store stays homogeneous across ingest appends and " +
      "restarts — the loop never manufactures the mixed store the " +
      "width guard refuses") {
    val root = Files.createTempDirectory("ingest_presz").toString
    val inDir = s"$root/in"
    val storeDir = s"$root/store"
    new java.io.File(inDir).mkdirs()
    // a store written BEFORE the sz column existed
    Manifest.append(spark, storeDir, Dedup.signatureStore(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text"), "doc_id", "text").drop("sz"), -1L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def start() = IngestStream.startManifest(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(inDir),
      "doc_id", "text", storeDir, s"$root/out", s"$root/ckpt",
      minJaccard = 0.5)
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = Paths.get(inDir, s".$name.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(inDir, name))
    }
    val q1 = start()
    writeFile("b0.json", Seq(doc(10L,
      "a fresh document about watermarks and state stores")))
    q1.processAllAvailable()
    q1.stop()
    // the append matched the store's own schema — no sz anywhere
    val gen0 = Manifest.state(spark, storeDir).entries
      .find(_.value == 0L).get.path
    assert(!spark.read.parquet(s"$storeDir/$gen0")
      .columns.contains("sz"))
    // the RESTART re-validates the (still homogeneous) store: must
    // not throw, and keep/drop still works against both generations
    val q2 = start()
    writeFile("b1.json", Seq(
      doc(20L, "a fresh document about watermarks and state stores zz"),
      doc(21L, "entirely new content on broadcast joins and skew")))
    q2.processAllAvailable()
    q2.stop()
    assert(Manifest.rows(spark, s"$root/out")
      .filter(col("batch") === 1L)
      .select("doc_id").as[Long].collect().toSet == Set(21L))
  }

  test("micro-batches cache nothing past their own commits: the " +
      "persisted-RDD count stays flat across the stream") {
    val root = Files.createTempDirectory("ingest_flat").toString
    Manifest.append(spark, s"$root/store", Dedup.signatureStore(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text"), "doc_id", "text"), -1L)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sc = spark.sparkContext
    // only RDDs this stream persists count: other suites' cached
    // frames on the shared session are older (lower ids)
    val firstId = sc.parallelize(Seq(0)).id
    def cachedByStream(): Int = sc.getPersistentRDDs.keys.count(_ > firstId)
    val q = IngestStream.startManifest(mem.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$root/store", s"$root/out", s"$root/ckpt")
    val counts = try (0 until 5).map { b =>
      mem.addData((0 until 20).map { j =>
        val id = 100L * (b + 1) + j
        // every 4th doc re-sends seed doc 1 (dropped by the match)
        if (j % 4 == 0)
          (id, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
        else (id, (0 until 12).map(w => s"w${id * 12 + w}").mkString(" "))
      })
      q.processAllAvailable()
      cachedByStream()
    } finally q.stop()
    assert(counts.forall(_ == counts.head), counts.mkString(", "))
    assert(Manifest.rows(spark, s"$root/out").count() == 75L)
  }
}
